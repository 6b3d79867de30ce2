"""Similarity search over the `embeddings` table (SURVEY.md §2C).

Two paths:

* :func:`cosine_topk` — exact brute force: broadcast the (small) query
  set against the corpus, cosine via JVM higher-order functions
  (zip_with + aggregate in double), per-query top-k window. The
  correctness baseline. Scale shape: candidates never shuffle — the
  only shuffle is the final per-query top-k (k rows per partition
  survive the partial sort), so 100 TB of vectors stream map-side.

* :func:`ann_cosine_topk` — approximate: sign-random-projection LSH
  (fixed seeded hyperplanes -> n-bit bucket), multiprobe at Hamming
  distance <= 2, exact cosine only within probed buckets. Trades
  recall for touching ~ (probes/2^bits) of the corpus per query; the
  recall floor is pinned both by a pytest against the brute-force path
  and by the `embedding_ann_topk` recall-contract oracle.

* :func:`ivf_cosine_topk` — approximate: IVF-flat with a TRAINED
  coarse quantizer (seeded sampled spherical k-means fit driver-side
  on a bounded sample; deterministic — sorted sample, seeded init,
  fixed Lloyd iterations — so cell assignment is reproducible across
  runs and re-derivable from a persisted index). Every vector lands
  in the cell of its max-cosine centroid; each query probes its
  nprobe nearest cells and scans only those (~nprobe/nlist of the
  corpus — a bound that holds only when cells are balanced, which is
  what the training buys). Same scale shape as the LSH path:
  centroids and probe lists broadcast, the corpus streams map-side,
  only per-query top-k shuffles.

Cost shape shared by both: vector norms are computed ONCE per row in
the row's own projection (below the join), so each candidate pair costs
a single dot-product fold — the naive cosine(a, b) form re-folds both
norms per pair, tripling the dominant per-pair work.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ANN_PLANES = 6
ANN_MULTIPROBE_HAMMING = 2  # _probe_masks enumerates up to distance 2
_PLANE_SEED = 42
IVF_NLIST = 32
# 10/32 probed cells: this corpus's near-random vectors are IVF's worst
# case (true neighbor lists scatter across cells), and the per-round
# regenerated gate data needs per-query recall@10 to clear the 0.3
# contract floor with margin (measured min 0.4 at nprobe 8, so 10 buys
# slack); clustered real embeddings support far smaller fractions.
IVF_NPROBE = 10
IVF_SAMPLE = 512  # rows collected for the driver-side codebook fit
IVF_KMEANS_ITERS = 4


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _normed(emb: DataFrame) -> DataFrame:
    """(vec_id, v, nrm): the double-cast vector and its L2 norm, each
    computed once per row map-side."""
    v = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id", v.alias("v"), F.sqrt(_dot(v, v)).alias("nrm")
    )


def cosine_topk(
    emb: DataFrame, query_ids: list[int], k: int = 10
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (qid, rk, neighbor_id) — integers only, so the oracle
    comparison is immune to float formatting; the ranking itself fully
    exercises the cosine values.
    """
    base = _normed(emb)
    q = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cand = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("qid"))
        .select("qid", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("qid", "rk", "neighbor_id")
    )


def hard_negative_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    exclude_threshold: float = 0.4,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the top-k most-similar corpus vectors that are NOT near-duplicates
    of it (cosine strictly below ``exclude_threshold``, the same bound
    the dedup lane treats as duplicate). Near-dups would act as false
    negatives and poison a contrastive loss; the highest-similarity
    survivors are exactly the informative "hard" negatives.

    Output: (qid, rk, neighbor_id) — integers only; the float cosines
    decide the ranking and the threshold test, both on bit-identical
    IEEE op sequences in either engine.

    Shape: identical to ``cosine_topk`` — the bounded anchor set
    broadcasts, the corpus streams map-side, the dup exclusion is a
    per-row filter (no extra join against a dedup table needed because
    the cosine is already in hand), and the per-anchor top-k is a
    window-group-limit. Composes with the ANN lanes the same way
    ``cosine_topk`` does when the corpus outgrows brute force.
    """
    base = _normed(emb)
    q = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cand = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("qid"))
        .select("qid", "neighbor_id", cos.alias("cos"))
        .filter(F.col("cos") < F.lit(exclude_threshold))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("qid", "rk", "neighbor_id")
    )


def _hyperplanes(dim: int, n_planes: int = ANN_PLANES) -> list[list[float]]:
    rng = np.random.default_rng(_PLANE_SEED)
    return rng.standard_normal((n_planes, dim)).tolist()


def _bucket_expr(vec, planes: list[list[float]]):
    """Sign-LSH bucket id: bit p set iff dot(vec, plane_p) >= 0."""
    bits = []
    for p, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        bits.append(
            F.when(_dot(vec, lit_plane) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def _probe_masks(n_planes: int, max_hamming: int) -> list[int]:
    """XOR masks reaching every bucket within Hamming distance
    min(max_hamming, 3). Radius 3 over 6 planes probes 42/64 buckets
    — most of a small bucket space, which is the honest cost of
    holding the recall floor on a grown corpus with FLAT sign-LSH
    (ann_cosine_topk's adaptive radius); past that, raise n_planes
    or move to the IVF lanes. Distinct by construction, which is
    what lets the probe join skip dedup."""
    masks = [0]
    if max_hamming >= 1:
        masks += [1 << i for i in range(n_planes)]
    if max_hamming >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    if max_hamming >= 3:
        masks += [
            (1 << i) | (1 << j) | (1 << l)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
            for l in range(j + 1, n_planes)
        ]
    return masks


def ann_cosine_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    *,
    dim: int,
    n_planes: int = ANN_PLANES,
    max_hamming: int | None = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors via sign-LSH buckets.

    Candidates = corpus rows whose bucket is within Hamming
    `max_hamming` of the query's bucket; exact cosine + top-k within
    candidates. Output schema matches :func:`cosine_topk`.

    ``max_hamming=None`` (the default) scales the probe radius with
    corpus size — the same dial-scales-with-corpus contract as
    pq_topk's shortlist: at a fixed radius the top-k set a probe must
    recover grows competitive (k-th cosine rises with n) while the
    probed bucket set stays constant, and the round-10 sf1 run
    measured qid-0 recall 0.3 at 20k vectors with the old fixed
    radius 2. The sizing count is a count-star over the pruned
    vec_id column (parquet row-group metadata, no vector bytes).
    Flat sign-LSH at radius 3 over 6 planes probes 42/64 buckets —
    on a low-similarity corpus it honestly degrades toward a scan,
    which is why the SCALE path is the IVF/IVFPQ lanes (cell pruning)
    and this lane is the baseline contract.

    `dim` is the (declared) vector dimensionality — a parameter, not a
    peek at the data: deriving it with `.first()` would run a Spark job
    at plan-construction time.

    No dedup is needed on the candidate pairs: each corpus row has
    exactly one bucket and the probe masks are distinct, so a
    (qid, neighbor) pair matches at most one probe row.
    """
    if max_hamming is None:
        n = emb.select("vec_id").count()
        max_hamming = (
            ANN_MULTIPROBE_HAMMING if n <= 10_000
            else ANN_MULTIPROBE_HAMMING + 1
        )
    planes = _hyperplanes(dim, n_planes)
    base = _normed(emb)
    bucket = _bucket_expr(F.col("v"), planes)

    corpus = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        bucket.alias("bucket"),
    )
    q = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        bucket.alias("qbucket"),
    )
    # Multiprobe expansion in pure Column arithmetic (no Python UDF).
    # The narrow exchange pins the 6-plane bucket fold to one
    # evaluation before the 22 XOR references (CollapseProject would
    # otherwise inline it per mask); the query set is broadcast-sized
    # by contract, so the shuffle is negligible.
    q = q.repartition(F.col("qid"))
    masks = _probe_masks(n_planes, max_hamming)
    probes = q.select(
        "qid",
        "qv",
        "qn",
        F.explode(
            F.array(*[F.col("qbucket").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("bucket"),
    )
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = (
        corpus.join(F.broadcast(probes), "bucket")
        .filter(F.col("neighbor_id") != F.col("qid"))
        .select("qid", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("qid", "rk", "neighbor_id")
    )


def lsh_near_dup_pairs(
    emb: DataFrame,
    *,
    dim: int,
    threshold: float,
    n_planes: int = ANN_PLANES,
    max_hamming: int = ANN_MULTIPROBE_HAMMING,
) -> DataFrame:
    """Near-duplicate (vec_a, vec_b) pairs: exact cosine >= `threshold`
    among sign-LSH candidate pairs (bucket signatures within Hamming
    `max_hamming`).

    This is the scale-safe embedding near-dup shape: candidate
    generation is an EQUI-join on the (multiprobe-expanded) bucket id —
    never an all-pairs cross join — and the exact cosine runs only on
    candidates. The candidate restriction is part of the operator's
    contract (an oracle replicates the identical plane literals and the
    Hamming filter in SQL), so the output is deterministic, not
    best-effort: `pair qualifies iff cos >= t AND hamming(sig) <= h`.

    Recall/selectivity dial: a pair at angle theta flips each plane bit
    independently with p = theta/pi, so P(candidate) =
    sum_{k<=h} C(b,k) p^k (1-p)^(b-k). At the defaults (b=6, h<=2) that
    is ~0.61 for cos 0.4 and >0.97 for cos >= 0.9 — real near-dup
    corpora (high-cosine duplicates) sit on the right end; raise
    `n_planes` to sharpen selectivity at high thresholds. The probe
    expansion multiplies the left side by C(b,<=h) rows of narrow
    (id, bucket, vec, nrm) tuples; buckets are uniform on random data,
    so per-bucket candidate lists stay balanced.

    Each qualifying pair is emitted exactly once: a vector has one
    bucket, probe masks are distinct, and `vec_a < vec_b` keeps one
    orientation.
    """
    planes = _hyperplanes(dim, n_planes)
    base = _normed(emb)
    sig = base.withColumn("bucket", _bucket_expr(F.col("v"), planes))
    masks = _probe_masks(n_planes, max_hamming)
    # Pin the bucket fold to one evaluation before the XOR references
    # (same CollapseProject concern as ann_cosine_topk's probe side).
    left = sig.repartition(F.col("vec_id")).select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("bucket"),
    )
    right = sig.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
        "bucket",
    )
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        left.join(right, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= threshold)
        .select("vec_a", "vec_b")
    )


def _ivf_codebook(
    vecs: DataFrame,
    nlist: int,
    sample_n: int = IVF_SAMPLE,
    iters: int = IVF_KMEANS_ITERS,
) -> list[list[float]]:
    """Train the coarse quantizer: seeded spherical k-means over a
    bounded sample, fit on the driver, codebook broadcast to the plan.

    This is the standard IVF deployment shape (sampled offline fit +
    broadcast codebook): the driver collects only `sample_n` rows —
    a contractually bounded sample, like connected_components'
    convergence scalar, never the corpus — and numpy runs a FIXED
    number of Lloyd iterations. Determinism: the sample is the lowest
    `sample_n` vec_ids in sorted order (partitioning-independent),
    init is a seeded choice, and there is no convergence-dependent
    control flow, so the same vector set always yields the same
    codebook — which is what lets :func:`ivf_search` re-derive it from
    a persisted index (the index carries the same (vec_id, v) rows).

    Trained centroids matter for the probe-cost bound: arbitrary
    (e.g. first-N) centroids give pathological cell balance on
    clustered real embeddings — one cell can swallow half the corpus,
    and then probing nprobe/nlist of the CELLS stops bounding the
    fraction of the CORPUS scanned. Lloyd iterations equalize cell
    mass (pytest pins max/mean cell population on the test corpus).

    Empty clusters keep their previous centroid; centroids are unit
    norm, so cosine against them is a plain dot with cn_cent = 1.
    """
    rows = vecs.select("vec_id", "v").orderBy("vec_id").limit(sample_n).collect()
    X = np.array([r.v for r in rows], dtype=np.float64)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    rng = np.random.default_rng(_PLANE_SEED)
    k = min(nlist, len(X))
    cents = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(X @ cents.T, axis=1)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                m = members.sum(axis=0)
                n = float(np.linalg.norm(m))
                if n > 0:
                    cents[c] = m / n
    return cents.tolist()


def _ivf_centroid_df(spark, codebook: list[list[float]]) -> DataFrame:
    """Broadcast-sized (cent_id, cv_cent, cn_cent) centroid relation;
    centroids are unit norm by construction."""
    return spark.createDataFrame(
        [(i, [float(x) for x in c], 1.0) for i, c in enumerate(codebook)],
        "cent_id int, cv_cent array<double>, cn_cent double",
    )


def ivf_build(
    emb: DataFrame,
    *,
    nlist: int = IVF_NLIST,
    codebook: list[list[float]] | None = None,
) -> DataFrame:
    """Build the IVF-flat index: (vec_id, v, nrm, cell).

    Coarse quantizer: a trained codebook from :func:`_ivf_codebook`
    (seeded sampled spherical k-means, fit driver-side, broadcast).
    Cell = argmax cosine against the broadcast centroid set; ties go
    to the lowest centroid id.

    Shuffle discipline: similarities are projected down to NARROW
    (vec_id, cent_id, sim) triples immediately after the broadcast
    crossJoin, so the argmax aggregation shuffles ~12 bytes x nlist
    per vector instead of the nlist-times-replicated vector itself
    (~16 KB per 64-dim row — a 40x volume difference at corpus
    scale); the vectors themselves move exactly once, in the
    assignment join.

    The returned DataFrame is the INDEX — the thing to persist. Write
    it once, bucketed by `cell` (`bucketBy(n, "cell").saveAsTable`),
    and every subsequent :func:`ivf_search` reads only the probed
    cells with no assignment work at all. Re-deriving it per query (what
    :func:`ivf_cosine_topk` does for the oracle-checkable single-plan
    form) re-scans the corpus — fine at test scale, wasteful at 100 TB.
    """
    base = _normed(emb)
    if codebook is None:
        codebook = _ivf_codebook(base, nlist)
    cents = _ivf_centroid_df(emb.sparkSession, codebook)
    sims = _ivf_centroid_sims(base, cents)
    # max_by struct: highest sim, ties to the LOWEST cent_id
    assign = sims.groupBy("vec_id").agg(
        F.max_by(
            "cent_id",
            F.struct(F.col("cent_sim"), (-F.col("cent_id")).cast("double")),
        ).alias("cell")
    )
    return base.join(assign, "vec_id")


def _ivf_centroid_sims(vectors: DataFrame, cents: DataFrame) -> DataFrame:
    """NARROW (vec_id, cent_id, cent_sim) triples via broadcast."""
    sim = _dot(F.col("v"), F.col("cv_cent")) / (
        F.col("nrm") * F.col("cn_cent")
    )
    return vectors.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cent_id", sim.alias("cent_sim")
    )


def ivf_search(
    index: DataFrame,
    query_ids: list[int],
    k: int = 10,
    *,
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
    codebook: list[list[float]] | None = None,
) -> DataFrame:
    """Search an IVF index (output of :func:`ivf_build`, possibly read
    back from cell-bucketed storage) for each query's approximate
    top-k cosine neighbors. Output schema matches :func:`cosine_topk`.

    Each query probes its `nprobe` max-cosine cells and scans only
    those (~nprobe/nlist of the corpus). The centroid set is recovered
    by re-running the deterministic codebook fit on the index's own
    (vec_id, v) rows — same sorted bounded sample, same seeded init,
    same fixed iterations — so the index file is self-contained; a
    caller that already holds the codebook (e.g. the one-plan
    build-and-search composition) passes it to skip the refit.
    The probe list broadcasts; stored cell-bucketed, the candidate
    join needs no shuffle of the corpus at all.
    """
    vecs = index.select("vec_id", "v", "nrm")
    if codebook is None:
        codebook = _ivf_codebook(vecs, nlist)
    cents = _ivf_centroid_df(index.sparkSession, codebook)
    q = vecs.filter(F.col("vec_id").isin(query_ids))
    qsims = _ivf_centroid_sims(q, cents)
    w_probe = Window.partitionBy("vec_id").orderBy(
        F.col("cent_sim").desc(), F.col("cent_id")
    )
    probes = (
        qsims.withColumn("cell_rk", F.row_number().over(w_probe))
        .filter(F.col("cell_rk") <= nprobe)
        .join(q, "vec_id")
        .select(
            F.col("vec_id").alias("qid"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            F.col("cent_id").alias("cell"),
        )
    )
    corpus = index.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        F.col("cell"),
    )
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("qid"))
        .select("qid", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("qid", "rk", "neighbor_id")
    )


def ivf_cosine_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    *,
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """Build-and-search in one plan (the oracle-checkable form); for
    repeated queries, persist :func:`ivf_build`'s output bucketed by
    cell and call :func:`ivf_search` against it instead. The codebook
    is fit ONCE and shared by both stages."""
    codebook = _ivf_codebook(_normed(emb), nlist)
    return ivf_search(
        ivf_build(emb, nlist=nlist, codebook=codebook),
        query_ids,
        k,
        nlist=nlist,
        nprobe=nprobe,
        codebook=codebook,
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): compress each vector to M subspace codes
# (here 8 codes of 4 bits-ish — K=16 centroids per subspace) and
# answer top-k with asymmetric distance computation (ADC): the query
# stays exact, the corpus is read as codes plus one broadcast lookup
# table per query. This is the memory lane of the ANN family — at
# 100 TB the encoded corpus is ~64x smaller than the float vectors,
# and the scan reads ONLY the code column; IVF gives the probe-cost
# bound, PQ gives the bytes-per-vector bound, and production systems
# (FAISS IVFPQ) compose exactly these two operators.
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces
PQ_K = 16  # centroids per subspace
PQ_SAMPLE = 2048
PQ_KMEANS_ITERS = 8


def pq_train(
    emb: DataFrame,
    dim: int,
    *,
    m: int = PQ_M,
    k: int = PQ_K,
    sample_n: int = PQ_SAMPLE,
    iters: int = PQ_KMEANS_ITERS,
) -> list[list[list[float]]]:
    """Train the PQ codebooks: per-subspace L2 k-means over a bounded
    seeded sample of UNIT-NORMALIZED vectors (PQ for cosine runs on
    the normalized corpus, where L2 and cosine rank identically).
    Returns ``codebooks[m][k][dim/m]``. Same determinism contract as
    :func:`_ivf_codebook`: bounded sorted-id sample, seeded init,
    fixed iteration count — the same vectors always yield the same
    codebooks, so a persisted code table can be re-derived."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    rows = (
        _normed(emb).select("vec_id", "v", "nrm")
        .orderBy("vec_id").limit(sample_n).collect()
    )
    X = np.array([r.v for r in rows], dtype=np.float64)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    rng = np.random.default_rng(_PLANE_SEED + 1)
    books: list[list[list[float]]] = []
    for s in range(m):
        Xs = X[:, s * dsub:(s + 1) * dsub]
        kk = min(k, len(Xs))
        cents = Xs[rng.choice(len(Xs), size=kk, replace=False)].copy()
        for _ in range(iters):
            d2 = ((Xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(kk):
                members = Xs[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append(cents.tolist())
    return books


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """Encode the corpus: ``(vec_id, codes array<int>[M])`` — the
    persistable PQ index (write once; scans of it read ~M bytes per
    vector instead of the float array).

    Shuffle discipline mirrors :func:`ivf_build`: the assignment
    crossJoin is projected to NARROW (vec_id, sub, code, dist) rows
    before the per-(vec_id, sub) argmin aggregation, and codes
    reassemble in one keyed agg — the vectors themselves never
    shuffle."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    cb_rows = [
        (s, c, [float(x) for x in cent])
        for s, book in enumerate(codebooks)
        for c, cent in enumerate(book)
    ]
    spark = emb.sparkSession
    cb = spark.createDataFrame(
        cb_rows, "sub int, code int, cent array<double>"
    )
    base = _normed(emb).select(
        "vec_id",
        F.transform(
            F.col("v"), lambda x: x / F.col("nrm")
        ).alias("u"),
    )
    subs = base.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub"),
                        F.slice("u", s * dsub + 1, dsub).alias("usub"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("x"),
    ).select("vec_id", "x.sub", "x.usub")
    dist = F.aggregate(
        F.zip_with("usub", "cent", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    assigned = (
        subs.join(F.broadcast(cb), "sub")
        .select("vec_id", "sub", "code", dist.alias("d"))
        .groupBy("vec_id", "sub")
        .agg(F.min_by("code", F.struct("d", "code")).alias("code"))
    )
    return assigned.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "code"))),
            lambda x: x["code"],
        ).alias("codes")
    )


def pq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    *,
    dim: int,
    m: int = PQ_M,
    shortlist: int | None = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors via PQ/ADC with exact
    re-rank: encode the corpus, build one exact lookup table per query
    (M x K subspace distances against the EXACT query — asymmetric),
    shortlist the ``shortlist`` best by summed table entries, then
    re-rank the shortlist by EXACT cosine — the FAISS-style two-stage
    shape, where the compressed scan does the corpus-sized work and
    exact arithmetic touches only ``shortlist`` rows per query.
    Output (qid, rk, neighbor_id) — integers only, ties broken by
    neighbor_id, same contract as the other ANN lanes.

    ``shortlist=None`` (the default) sizes the ADC shortlist to 20%
    of the corpus with a floor of 100 — a FIXED shortlist decays in
    recall as the corpus grows (measured at sf0.1: qid-1 recall 0.3
    at 2000 vectors with a fixed 100). The count comes from the
    checkpointed codes frame the ADC scan reads anyway, so sizing
    adds no extra pass over the raw embeddings.

    Scale: the per-query LUT is M*K doubles (broadcast); the corpus
    side of the first stage reads only (vec_id, codes) — the ADC sum
    is a per-row fold of M array lookups, no vector arithmetic in the
    scan; the re-rank join fetches ``shortlist * |queries|`` float
    vectors, independent of corpus size. Checkpointing the codes is
    exactly flat PQ's "compressed corpus fits" premise (M bytes per
    vector); a 100-TB store runs the IVFPQ lane instead, where cell
    pruning bounds the scan and the shortlist stays cell-local."""
    codebooks = pq_train(emb, dim, m=m)
    # Narrow (vec_id, codes) frame, materialized once: the ADC scan
    # below reads it, and the adaptive shortlist counts it for free.
    encoded = pq_encode(emb, codebooks).localCheckpoint(eager=True)
    if shortlist is None:
        shortlist = max(100, encoded.count() // 5)

    q_rows = (
        _normed(emb)
        .filter(F.col("vec_id").isin(query_ids))
        .collect()
    )
    spark = emb.sparkSession
    luts = []
    for r in q_rows:
        u = np.array(r.v, dtype=np.float64)
        u = u / np.linalg.norm(u)
        dsub = dim // m
        lut = [
            [
                float(((u[s * dsub:(s + 1) * dsub] - np.array(c)) ** 2).sum())
                for c in codebooks[s]
            ]
            for s in range(m)
        ]
        luts.append((int(r.vec_id), lut))
    lut_df = spark.createDataFrame(
        luts, "qid long, lut array<array<double>>"
    )
    adc = F.aggregate(
        F.zip_with(
            "codes",
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, i: F.element_at(
                F.element_at("lut", i + F.lit(1)), c + F.lit(1)
            ),
        ),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    scored = (
        encoded.crossJoin(F.broadcast(lut_df))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("neighbor_id"),
            adc.alias("adist"),
        )
    )
    ws = Window.partitionBy("qid").orderBy(
        F.col("adist").asc(), F.col("neighbor_id")
    )
    short = (
        scored.withColumn("srk", F.row_number().over(ws))
        .filter(F.col("srk") <= shortlist)
        .select("qid", "neighbor_id")
    )
    # exact re-rank of the shortlist only
    base = _normed(emb)
    qv = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cv = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("qid").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        short.join(F.broadcast(qv), "qid")
        .join(cv, "neighbor_id")
        .select("qid", "neighbor_id", cos.alias("cos"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("qid", "rk", "neighbor_id")
    )


def ivfpq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    *,
    dim: int,
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
    shortlist: int | None = None,
) -> DataFrame:
    """IVF + PQ composed — the FAISS IVFPQ shape, which is what
    billion-vector deployments actually run: the IVF cells bound WHICH
    FRACTION of the corpus each query touches (~nprobe/nlist), the PQ
    codes bound the BYTES PER VECTOR that fraction costs to scan
    (~M bytes), and an exact re-rank of the ADC shortlist restores
    precision. Both trained structures come from the same seeded
    deterministic fits as their standalone operators.

    (This variant encodes raw normalized vectors; production IVFPQ
    encodes residuals x - centroid for tighter quantization — a
    per-cell subtraction before :func:`pq_encode`, same plan shape.)

    ``shortlist=None`` (the default) sizes the ADC shortlist to 20%
    of the EXPECTED PROBED candidate count (n * nprobe / nlist, floor
    100) — the same dial-scales-with-corpus contract as pq_topk and
    ann_cosine_topk: PQ quantization noise pushes true neighbors
    below a FIXED ADC rank more often as the probed set grows (the
    round-10 sf1 run measured a recall-floor breach at 20k vectors
    with the old fixed 100). The count reads the checkpointed
    (vec_id, cell, codes) frame the candidate join scans anyway.

    Scale: probe list and lookup tables broadcast; the candidate join
    keys on (cell); stored cell-bucketed, the scan reads only probed
    cells' (vec_id, codes) rows; exact arithmetic touches
    ``shortlist * |queries|`` vectors regardless of corpus size —
    shortlist grows with the PER-QUERY probed fraction, not with the
    corpus as a whole, which is the FAISS nprobe/shortlist coupling.
    """
    codebook = _ivf_codebook(_normed(emb), nlist)
    index = ivf_build(emb, nlist=nlist, codebook=codebook)
    pq_books = pq_train(emb, dim, m=m)
    encoded = pq_encode(emb, pq_books)
    indexed = (
        index.select("vec_id", "cell").join(encoded, "vec_id")
        .localCheckpoint(eager=True)  # candidate-join side, 2 readers
    )
    if shortlist is None:
        shortlist = max(100, indexed.count() * nprobe // (nlist * 5))

    spark = emb.sparkSession
    q_rows = (
        _normed(emb).filter(F.col("vec_id").isin(query_ids)).collect()
    )
    cents = np.array(codebook)
    dsub = dim // m
    probe_rows, lut_rows = [], []
    for r in q_rows:
        u = np.array(r.v, dtype=np.float64)
        u = u / np.linalg.norm(u)
        sims = cents @ u
        order = np.lexsort((np.arange(len(sims)), -sims))[:nprobe]
        probe_rows += [(int(r.vec_id), int(c)) for c in order]
        lut = [
            [
                float(((u[s * dsub:(s + 1) * dsub] - np.array(c)) ** 2).sum())
                for c in pq_books[s]
            ]
            for s in range(m)
        ]
        lut_rows.append((int(r.vec_id), lut))
    probes = spark.createDataFrame(probe_rows, "qid long, cell int")
    luts = spark.createDataFrame(lut_rows, "qid long, lut array<array<double>>")

    adc = F.aggregate(
        F.zip_with(
            "codes",
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, i: F.element_at(
                F.element_at("lut", i + F.lit(1)), c + F.lit(1)
            ),
        ),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    scored = (
        indexed.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .join(F.broadcast(luts), "qid")
        .select(
            "qid", F.col("vec_id").alias("neighbor_id"), adc.alias("adist")
        )
    )
    ws = Window.partitionBy("qid").orderBy(
        F.col("adist").asc(), F.col("neighbor_id")
    )
    short = (
        scored.withColumn("srk", F.row_number().over(ws))
        .filter(F.col("srk") <= shortlist)
        .select("qid", "neighbor_id")
    )
    base = _normed(emb)
    qv = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cv = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("qid").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        short.join(F.broadcast(qv), "qid")
        .join(cv, "neighbor_id")
        .select("qid", "neighbor_id", cos.alias("cos"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("qid", "rk", "neighbor_id")
    )


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection: the dimensionality-
# reduction lane that composes with every search path above. A
# Rademacher (+-1) projection matrix preserves pairwise distances to
# (1 +- eps) with out_dim = O(ln n / eps^2) (Achlioptas 2003 shows
# +-1 entries suffice — no Gaussians needed), and a +-1 matrix keeps
# every projected coordinate an EXACT signed sum of input
# coordinates: the fold is plain double addition in index order, so
# any engine replays it bit-for-bit.
# ---------------------------------------------------------------------------

JL_OUT_DIM = 16
JL_SALT = "jl-0"


def jl_signs(
    in_dim: int, out_dim: int = JL_OUT_DIM, salt: str = JL_SALT
) -> list[list[int]]:
    """The deterministic +-1 projection matrix (out_dim x in_dim):
    entry (j, i) is the low bit of md5(f"{salt}:{j}:{i}") — no RNG
    state, reproducible in any engine or language, and small enough
    (out_dim x in_dim ints) to inline as a literal in both the Spark
    plan and a SQL oracle."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"{salt}:{j}:{i}".encode()).digest()[0] & 1
            else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def jl_project(
    emb: DataFrame,
    in_dim: int,
    *,
    out_dim: int = JL_OUT_DIM,
    salt: str = JL_SALT,
    vec_col: str = "embedding",
) -> DataFrame:
    """Project ``(vec_id, embedding)`` to ``(vec_id, embedding)`` with
    ``out_dim`` components: out[j] = sum_i sign(j,i) * v[i], folded in
    index order (bit-deterministic). The matrix is a broadcast-free
    LITERAL in the plan — projection is a pure map over the corpus, no
    shuffle, no Python; at 100 TB this is the cheap pass that shrinks
    every downstream distance computation by in_dim/out_dim.

    The output column is named ``embedding`` so the projected frame
    drops into :func:`cosine_topk` / :func:`ann_cosine_topk` /
    :func:`ivf_build` unchanged."""
    v = F.col(vec_col).cast("array<double>")
    rows = []
    for j_row in jl_signs(in_dim, out_dim, salt):
        signed = F.zip_with(
            v,
            F.array(*[F.lit(float(s)) for s in j_row]),
            lambda x, s: x * s,
        )
        rows.append(
            F.aggregate(signed, F.lit(0.0), lambda acc, x: acc + x)
        )
    return emb.select("vec_id", F.array(*rows).alias("embedding"))


def jl_cosine_topk(
    emb: DataFrame,
    query_ids: list[int],
    *,
    in_dim: int,
    k: int = 10,
    out_dim: int = JL_OUT_DIM,
    salt: str = JL_SALT,
) -> DataFrame:
    """Exact top-k cosine IN THE PROJECTED SPACE — the JL search lane:
    project once (map-side), then brute-force the out_dim-sized
    vectors. Output (qid, rk, neighbor_id), integer-only like
    :func:`cosine_topk`."""
    return cosine_topk(
        jl_project(emb, in_dim, out_dim=out_dim, salt=salt),
        query_ids,
        k=k,
    )


def semantic_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    *,
    threshold: float,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag every corpus
    vector whose cosine to ANY eval-set vector reaches ``threshold`` —
    the semantic twin of the n-gram `decontaminate` (paraphrased eval
    leakage that shares no 8-gram still lands next to the benchmark in
    embedding space). Returns ``(vec_id, n_eval_hits, contaminated)``
    for every corpus row, zero-hit rows included.

    Scale shape mirrors decontaminate's contract: the EVAL side is
    benchmark-sized (broadcast after a one-pass norm projection); the
    corpus streams map-side with one norm fold per row and one
    dot-product fold per (row, eval) pair — no corpus shuffle except
    the final per-id count. For eval sets too large to broadcast,
    pre-bucket both sides with the sign-LSH lane
    (:func:`lsh_near_dup_pairs`'s banding) and verify exactly within
    buckets."""
    base = _normed(corpus)
    ev = _normed(eval_set).select(
        F.col("vec_id").alias("eval_id"),
        F.col("v").alias("ev"),
        F.col("nrm").alias("en"),
    )
    cos = _dot(F.col("v"), F.col("ev")) / (F.col("nrm") * F.col("en"))
    hits = (
        base.crossJoin(F.broadcast(ev))
        .filter(cos >= F.lit(threshold))
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n_eval_hits"))
    )
    return (
        base.select("vec_id")
        .join(hits, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("n_eval_hits", F.lit(0)).cast("long").alias(
                "n_eval_hits"
            ),
            (F.coalesce("n_eval_hits", F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


SQ8_SHORTLIST = 50


def sq8_train(emb: DataFrame, dim: int) -> DataFrame:
    """Train the scalar quantizer: per-dimension corpus min/max as ONE
    map-side-combined aggregation collapsing to a single broadcastable
    row ``(mins array<double>, maxs array<double>)``. Unlike the
    k-means lanes (IVF/PQ) there is no sampling or iteration — SQ8
    training is a pure relational aggregate, re-derivable from the
    corpus at any scale with no driver-side state."""
    v = F.col("embedding").cast("array<double>")
    row = emb.select(v.alias("v")).agg(
        *[F.min(F.col("v")[i]).alias(f"mn_{i}") for i in range(dim)],
        *[F.max(F.col("v")[i]).alias(f"mx_{i}") for i in range(dim)],
    )
    return row.select(
        F.array(*[F.col(f"mn_{i}") for i in range(dim)]).alias("mins"),
        F.array(*[F.col(f"mx_{i}") for i in range(dim)]).alias("maxs"),
    )


def sq8_encode(emb: DataFrame, quantizer: DataFrame) -> DataFrame:
    """Encode the corpus against a trained quantizer: ``(vec_id,
    codes array<int>)`` with each code in 0..255 — the persistable
    int8 index (~dim bytes per vector instead of dim floats; the
    compression every production embedding store applies first).
    Constant dimensions (max == min) encode to 0. One scan, zero
    shuffles: the quantizer row broadcasts."""
    v = F.col("embedding").cast("array<double>")
    code = F.transform(
        F.sequence(F.lit(0), F.size(F.col("mins")) - 1),
        lambda i: F.when(
            F.col("maxs")[i] > F.col("mins")[i],
            F.least(
                F.lit(255),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (v[i] - F.col("mins")[i])
                        * 255.0
                        / (F.col("maxs")[i] - F.col("mins")[i])
                    ).cast("int"),
                ),
            ),
        ).otherwise(F.lit(0)),
    )
    return emb.crossJoin(F.broadcast(quantizer)).select(
        "vec_id", code.alias("codes")
    )


def sq8_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    dim: int = 64,
    shortlist: int = SQ8_SHORTLIST,
) -> DataFrame:
    """Scalar-quantization ANN: approximate cosine against DECODED
    int8 codes builds a per-query shortlist; the shortlist re-ranks
    against the exact vectors. The fourth approximate-search lane
    (sign-LSH bounds candidates, IVF bounds the corpus fraction, PQ
    bounds bytes/vector via codebooks, SQ8 bounds bytes/vector with a
    train step that is a single min/max aggregate).

    Deterministic end to end: the quantizer is an exact aggregate, the
    decode/score arithmetic is a fixed IEEE op sequence, and both
    ranking stages carry unique tiebreakers. Output: (qid, rk,
    neighbor_id).

    Shape: corpus scans read ~dim BYTES per vector (the codes), the
    quantizer and the query set broadcast, the shortlist cut is a
    window-group-limit, and the exact re-rank touches only
    |queries| x shortlist rows.
    """
    quant = sq8_train(emb, dim)
    codes = sq8_encode(emb, quant)
    base = _normed(emb)
    q = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    # decoded candidate: mins[i] + (codes[i] + 0.5) * span / 255
    # (mid-bucket reconstruction halves the worst-case decode error)
    dec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.when(
            F.col("maxs")[i] > F.col("mins")[i],
            F.col("mins")[i]
            + (F.col("codes")[i] + 0.5)
            * (F.col("maxs")[i] - F.col("mins")[i])
            / 255.0,
        ).otherwise(F.col("mins")[i]),
    )
    cand = (
        codes.crossJoin(F.broadcast(quant))
        .select(F.col("vec_id").alias("neighbor_id"), dec.alias("cv"))
        .withColumn("cn", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
        .filter(F.col("cn") > 0)
    )
    approx = (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("qid"))
        .select(
            "qid",
            "neighbor_id",
            (
                _dot(F.col("qv"), F.col("cv"))
                / (F.col("qn") * F.col("cn"))
            ).alias("acos"),
        )
    )
    wshort = Window.partitionBy("qid").orderBy(
        F.col("acos").desc(), F.col("neighbor_id")
    )
    short = (
        approx.withColumn("srk", F.row_number().over(wshort))
        .filter(F.col("srk") <= shortlist)
        .select("qid", "neighbor_id")
    )
    # exact re-rank of the shortlist only
    cexact = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    rescored = (
        short.join(cexact, "neighbor_id")
        .join(F.broadcast(q), "qid")
        .select(
            "qid",
            "neighbor_id",
            (
                _dot(F.col("qv"), F.col("cv"))
                / (F.col("qn") * F.col("cn"))
            ).alias("cos"),
        )
    )
    wfin = Window.partitionBy("qid").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rk", F.row_number().over(wfin))
        .filter(F.col("rk") <= k)
        .select("qid", "rk", "neighbor_id")
    )


def mmr_diversify(
    vectors: DataFrame,
    *,
    query_ids,
    k: int,
    shortlist: int,
    lam_num: int = 1,
    lam_den: int = 2,
    key_col: str = "key",
    vec_col: str = "vec",
) -> DataFrame:
    """Maximal-marginal-relevance diversification (Carbonell &
    Goldstein 1998) of a retrieval shortlist: greedily select ``k``
    of the top-``shortlist`` candidates, each pick maximizing
    ``lam * rel(c) - (1 - lam) * max_{s in selected} sim(c, s)`` —
    relevant results that aren't near-duplicates of what's already
    picked, the standard de-redundancy step for RAG contexts and
    training-batch assembly.

    Integer-exact contract: relevance and redundancy are INNER
    PRODUCTS of the integer vectors (e.g. the hashing-trick BoW
    embeddings), and ``lam = lam_num / lam_den`` enters by cross-
    multiplication — ``score_scaled = lam_num*rel -
    (lam_den-lam_num)*max_sim`` — so every selection compares exact
    longs and the greedy trajectory replays bit-identically in any
    engine (for cosine semantics, feed pre-normalized vectors: at
    deployment scale vectors are stored unit-normalized anyway).
    Ties break by (higher relevance, lower candidate id): the fold
    scans candidates in exactly that order and replaces only on a
    STRICTLY better score, so the tie-break costs nothing.

    Shape: shortlist via per-query window group-limit over the
    relevance dots (corpus streams map-side against broadcast query
    vectors); the pairwise-similarity matrix is shortlist-local
    (queries x shortlist^2 rows); the greedy loop folds per query
    over arrays — k x shortlist struct comparisons per query, pure
    Column arithmetic, no Python, no driver state.
    """
    qlist = list(query_ids)
    base = vectors.select(
        F.col(key_col).alias("key"), F.col(vec_col).alias("vec")
    )
    queries = base.filter(F.col("key").isin(qlist)).select(
        F.col("key").alias("qid"), F.col("vec").alias("qv")
    )
    rel = (
        base.crossJoin(F.broadcast(queries))
        .filter(F.col("key") != F.col("qid"))
        .select(
            "qid",
            F.col("key").alias("cand_id"),
            "vec",
            _dot(F.col("qv"), F.col("vec")).cast("long").alias("rel"),
        )
    )
    wq = Window.partitionBy("qid").orderBy(
        F.col("rel").desc(), F.col("cand_id")
    )
    # materialize the shortlist once: three consumers (both sides of
    # the similarity self-join and the per-query fold) would otherwise
    # each recompute the corpus-wide relevance ranking — the
    # checkpointed frame is queries x shortlist rows, trivially small
    cands = (
        rel.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= shortlist)
        .drop("rk")
        .localCheckpoint(eager=True)
    )
    a = cands.select("qid", F.col("cand_id").alias("a"), F.col("vec").alias("va"))
    b = cands.select("qid", F.col("cand_id").alias("b"), F.col("vec").alias("vb"))
    sims = (
        a.join(b, "qid")
        .filter(F.col("a") != F.col("b"))
        .select(
            "qid",
            F.concat_ws("|", "a", "b").alias("ab"),
            _dot(F.col("va"), F.col("vb")).cast("long").alias("sim"),
        )
    )
    per_q = (
        cands.select(
            "qid",
            F.struct(
                (-F.col("rel")).alias("neg_rel"),
                F.col("cand_id").alias("id"),
                F.col("rel").alias("rel"),
            ).alias("c"),
        )
        .groupBy("qid")
        .agg(F.sort_array(F.collect_list("c")).alias("cands"))
        .join(
            sims.groupBy("qid").agg(
                F.map_from_entries(
                    F.collect_list(F.struct("ab", "sim"))
                ).alias("smap")
            ),
            "qid",
            "left",  # a 1-candidate shortlist has no pairs at all
        )
        .withColumn(
            "smap",
            F.coalesce(
                F.col("smap"), F.expr("CAST(map() AS map<string,bigint>)")
            ),
        )
    )
    pick_t = "struct<id:bigint,rel:bigint,mmr:bigint>"
    sel_t = "array<struct<id:bigint,rel:bigint,mmr:bigint,rank:int>>"
    keep = F.lit(lam_num).cast("long")
    drop = F.lit(lam_den - lam_num).cast("long")

    def pick(sel):
        sel_ids = F.transform(sel, lambda s: s["id"])

        def step(best, c):
            pen = F.when(
                F.size(sel) == 0, F.lit(0).cast("long")
            ).otherwise(
                F.coalesce(
                    F.array_max(
                        F.transform(
                            sel_ids,
                            lambda s: F.element_at(
                                F.col("smap"),
                                F.concat_ws(
                                    "|",
                                    c["id"].cast("string"),
                                    s.cast("string"),
                                ),
                            ),
                        )
                    ),
                    F.lit(0).cast("long"),
                )
            )
            score = keep * c["rel"] - drop * pen
            taken = F.array_contains(sel_ids, c["id"])
            better = best["id"].isNull() | (score > best["mmr"])
            return F.when(taken, best).otherwise(
                F.when(
                    better,
                    F.struct(
                        c["id"].alias("id"),
                        c["rel"].alias("rel"),
                        score.alias("mmr"),
                    ),
                ).otherwise(best)
            )

        return F.aggregate(
            F.col("cands"), F.expr(f"CAST(NULL AS {pick_t})"), step
        )

    def outer(sel, _):
        p = pick(sel)
        return F.array_append(
            sel,
            F.struct(
                p["id"].alias("id"),
                p["rel"].alias("rel"),
                p["mmr"].alias("mmr"),
                (F.size(sel) + 1).alias("rank"),
            ),
        )

    selected = per_q.select(
        "qid",
        F.explode(
            F.aggregate(
                F.sequence(F.lit(1), F.lit(k)),
                F.expr(f"CAST(array() AS {sel_t})"),
                outer,
            )
        ).alias("s"),
    )
    # a shortlist smaller than k exhausts: the fold appends null picks
    # past the end, dropped here
    return selected.filter(F.col("s.id").isNotNull()).select(
        "qid",
        F.col("s.rank").alias("rank"),
        F.col("s.id").alias("doc_id"),
        F.col("s.rel").alias("rel"),
        F.col("s.mmr").alias("mmr_scaled"),
    )


def _kmeans_int_local(
    emb: DataFrame,
    *,
    k: int,
    iters: int,
    dim: int,
    scale: int,
    salt: str,
) -> DataFrame:
    """Driver-side exact replay of :func:`kmeans_int` for corpora
    under the local-finish bound. Every step mirrors the distributed
    path bit-for-bit: quantization multiplies the float32-widened
    double by ``scale`` and floors (IEEE double semantics are
    identical in CPython and the JVM); the init hash is the same
    md5-15-hex-digit value token_hash60 computes; argmin ties break
    to the smaller cluster via (d2, cluster) ordering; the centroid
    update converts the exact long sum to double FIRST (``float(s) /
    float(n)`` == Spark's long->double cast then divide — plain
    ``s / n`` on Python ints would be correctly-rounded true division
    and could differ past 2^53); wss converts the exact integer total
    to double exactly like Spark's DECIMAL(38,0)->double cast."""
    import hashlib
    import math

    rows = emb.select("vec_id", "embedding").collect()
    xs = {
        r["vec_id"]: [
            int(math.floor(float(v) * scale)) for v in r["embedding"]
        ]
        for r in rows
    }
    if len(xs) != len(rows):
        # the dict keying would silently collapse duplicate vec_ids
        # to one vector while the distributed path keeps both rows —
        # n_docs/wss would then diverge across the local-finish
        # threshold, so refuse rather than drift
        raise ValueError(
            "kmeans_int local finisher requires unique vec_id: "
            f"{len(rows)} rows but {len(xs)} distinct ids"
        )

    def h60(vec_id) -> int:
        s = f"{salt}:{vec_id}".encode()
        return int(hashlib.md5(s).hexdigest()[:15], 16)

    seeds = sorted(xs, key=lambda vid: (h60(vid), vid))[:k]
    cent = {j + 1: list(xs[vid]) for j, vid in enumerate(seeds)}

    def assign() -> dict:
        out = {}
        for vid, x in xs.items():
            out[vid] = min(
                (
                    sum(
                        (x[i] - c[i]) * (x[i] - c[i])
                        for i in range(dim)
                    ),
                    j,
                )
                for j, c in cent.items()
            )
        return out

    best = None
    for it in range(iters):
        best = assign()
        if it < iters - 1:
            sums: dict[int, list[int]] = {}
            counts: dict[int, int] = {}
            for vid, (_, j) in best.items():
                acc = sums.setdefault(j, [0] * dim)
                x = xs[vid]
                for i in range(dim):
                    acc[i] += x[i]
                counts[j] = counts.get(j, 0) + 1
            for j, acc in sums.items():
                n = counts[j]
                cent[j] = [
                    int(math.floor(float(s) / float(n))) for s in acc
                ]
    stats = {
        j: [0, 0] for j in cent
    }  # cluster -> [n_docs, wss_int]
    for _, (d2, j) in best.items():
        stats[j][0] += 1
        stats[j][1] += d2
    out_rows = [
        (
            j,
            stats[j][0],
            float(stats[j][1]),
            int(sum(cent[j])),
        )
        for j in sorted(cent)
    ]
    return emb.sparkSession.createDataFrame(
        out_rows, "cluster int, n_docs long, wss double, checksum long"
    )


def kmeans_int(
    emb: DataFrame,
    *,
    k: int = 8,
    iters: int = 3,
    dim: int = 64,
    scale: int = 1_000_000,
    salt: str = "km",
    local_finish_elements: int = 1 << 21,
) -> DataFrame:
    """Lloyd's k-means as an EXACTLY replayable relational plan — the
    clustering loop the IVF codebook trains driver-side
    (:func:`_ivf_codebook`), promoted to a fully-distributed,
    oracle-verifiable operator. Every decision is integer arithmetic:

    * vectors quantize to ``floor(x * scale)`` longs (deterministic
      in any engine: float->double widening is exact, floor is
      unambiguous);
    * init = the vectors of the ``k`` smallest salted 60-bit md5
      hashes of vec_id (the hash is the randomness — replayable);
    * assignment = argmin of EXACT integer squared L2 (zip_with
      diff-square, long fold; |x| <= scale * few and dim = 64 keep
      the fold < 2^53 under long arithmetic), ties to the smaller
      cluster index;
    * update = per-dim long sums floored-div by the member count
      (floor semantics in BOTH engines: floor(s/n) on exact doubles
      — a true-integer quotient divides exactly, a non-integer one
      sits >= 1/n from the boundary); an emptied cluster keeps its
      previous centroid.

    Returns one row per cluster: ``(cluster, n_docs, wss, checksum)``
    — member count, within-cluster sum of squared distances (exact,
    summed in DECIMAL(38,0), cast DOUBLE in the final projection),
    and the centroid component sum (long). The fixed ``iters`` keeps
    the loop statically bounded — the same bounded-rounds discipline
    as the fixed-point PageRank/HITS operators.

    Physical shape (r13): centroid state is k x dim longs — bounded
    by the MODEL, not the data — so it lives on the DRIVER between
    iterations (the classic distributed Lloyd's layout, e.g. Spark
    MLlib's KMeans). Each iteration inlines the k centroids as
    LITERALS into one map-side projection that computes every d2 as
    explicit long arithmetic (whole-stage codegen; no zip_with/
    aggregate HOF interpretation, no n x k row blow-up, no per-vector
    window shuffle) and takes the argmin via ``array_min`` over
    ``struct(d2, cluster)`` (struct ordering = ties to the smaller
    cluster index, exactly the old ROW_NUMBER tiebreak). The update
    is one map-side-combinable groupBy over k groups whose k x (dim
    + 1) result is collected back — per iteration: ONE job, one
    k-group shuffle, nothing else. floor(s/n) stays computed by
    Spark's double division so the replayed oracle semantics are
    bit-identical to the previous formulation.

    Bounded local finisher (same contract as the star-CC one): when
    the corpus holds at most ``local_finish_elements`` vector
    components (row count x dim — a driver-memory bound, checked with
    one metadata-cheap count), the whole loop runs driver-side in
    exact integer arithmetic with the SAME hash/tiebreak/floor
    semantics (every float step is IEEE-double on both paths), one
    collect instead of per-iteration jobs; a pytest pins local ==
    distributed equality. Pass 0 to force the distributed path.
    """
    if iters < 1:
        # the loop contract is "iters assignment passes"; iters=0 has
        # no assignment to report (the local path would crash, the
        # distributed path would emit init-centroid stats — neither
        # is a meaningful answer, and they'd disagree)
        raise ValueError(f"kmeans_int requires iters >= 1, got {iters}")
    if local_finish_elements and (
        emb.count() * dim <= local_finish_elements
    ):
        return _kmeans_int_local(
            emb, k=k, iters=iters, dim=dim, scale=scale, salt=salt
        )
    xq = F.transform(
        F.col("embedding"),
        lambda v: F.floor(v.cast("double") * F.lit(scale)).cast(
            "long"
        ),
    )
    # One materialization of the quantized vectors: every iteration's
    # assignment (and the init pick) re-reads THIS frame, not the
    # source scan (plan audit: 15 scans -> 1). The HOF quantization
    # runs once, here.
    vecs = emb.select("vec_id", xq.alias("x")).localCheckpoint(
        eager=True
    )
    from cdk_dynamodb_cdc_spark.llm.text import token_hash60

    h = token_hash60(
        F.concat(F.lit(f"{salt}:"), F.col("vec_id").cast("string"))
    )
    # init = k smallest (h, vec_id) — a TakeOrdered (no full sort),
    # collected: centroid state is k x dim, bounded at any SF.
    init_rows = (
        vecs.withColumn("h", h)
        .orderBy("h", "vec_id")
        .limit(k)
        .select("x")
        .collect()
    )
    cent: dict[int, list[int]] = {
        j + 1: list(r["x"]) for j, r in enumerate(init_rows)
    }

    def assigned() -> DataFrame:
        """vecs + (cluster, d2) of the nearest CURRENT centroid,
        computed entirely map-side from centroid literals. Each d2 is
        one zip_with/aggregate fold against a literal centroid array
        — k compact HOF expressions, not k x dim scalar terms (the
        unrolled form measured 4x SLOWER: a 4096-node expression tree
        per projection blows up optimizer passes and task binaries)."""
        cands = []
        for j in sorted(cent):
            c_lit = F.array(*[F.lit(int(v)) for v in cent[j]])
            d2_j = F.aggregate(
                F.zip_with(
                    "x", c_lit, lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0).cast("long"),
                lambda acc, y: acc + y,
            )
            cands.append(
                F.struct(
                    d2_j.alias("d2"),
                    F.lit(j).alias("cluster"),
                )
            )
        best = F.array_min(F.array(*cands))
        return vecs.select(
            "vec_id",
            "x",
            best["cluster"].alias("cluster"),
            best["d2"].alias("d2"),
        )

    for _ in range(iters - 1):
        sums = (
            assigned()
            .groupBy("cluster")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.col("x")[i]).alias(f"s{i}")
                    for i in range(dim)
                ],
            )
            .select(
                "cluster",
                F.array(
                    *[
                        F.floor(F.col(f"s{i}") / F.col("n")).cast(
                            "long"
                        )
                        for i in range(dim)
                    ]
                ).alias("cnew"),
            )
            .collect()
        )
        # an emptied cluster keeps its previous centroid (absent from
        # the aggregate -> no update)
        for r in sums:
            cent[r["cluster"]] = list(r["cnew"])

    report = (
        assigned()
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("d2").cast("decimal(38,0)")).alias("wss_dec"),
        )
    )
    spark = emb.sparkSession
    cent_df = spark.createDataFrame(
        [(j, int(sum(cent[j]))) for j in sorted(cent)],
        "cluster int, checksum long",
    )
    return (
        cent_df.join(F.broadcast(report), "cluster", "left")
        .select(
            "cluster",
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
            F.coalesce(F.col("wss_dec"), F.lit(0))
            .cast("double")
            .alias("wss"),
            "checksum",
        )
    )


def dbscan_2d(
    points: DataFrame,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    eps: int = 30,
    min_pts: int = 5,
) -> DataFrame:
    """Exact DBSCAN over integer 2-d coordinates via grid blocking
    (Ester et al., KDD'96 semantics; deterministic border rule).

    Candidate generation is the classic cell trick: with cell side
    ``eps``, any two points within ``eps`` sit in the same or adjacent
    cells, so each point probes its 3x3 cell block and exact integer
    squared distance filters the candidates — the all-pairs square
    never materializes, and per-cell population bounds the join
    fan-out (the 100-TB shape: one shuffle on cell id, work
    proportional to points x local density). Core points have >=
    ``min_pts`` points in their closed eps-ball (self included, the
    textbook count); clusters are connected components of the
    core-core eps-graph (O(log n) star rounds), labeled by minimum
    core id. Border points (non-core with a core neighbor) join the
    MINIMUM adjacent core cluster — DBSCAN leaves border ties
    scan-order-dependent, so this pins the deterministic variant the
    oracle can replay. Everything else is noise (NULL cluster).

    Returns ``(id, n_nbrs, role, cluster)`` — one row per input point.
    Cell assignment uses pmod-based floor division so negative
    coordinates grid correctly.
    """
    from cdk_dynamodb_cdc_spark.llm.dedup import connected_components_star

    e = F.lit(int(eps))
    base = points.select(
        F.col(id_col).alias("pid"),
        F.col(x_col).cast("long").alias("px"),
        F.col(y_col).cast("long").alias("py"),
        ((F.col(x_col) - F.pmod(F.col(x_col), e)) / e)
        .cast("long")
        .alias("cx"),
        ((F.col(y_col) - F.pmod(F.col(y_col), e)) / e)
        .cast("long")
        .alias("cy"),
    ).localCheckpoint(eager=True)  # narrow projection; probes, the
    # cell join, and the count base all reuse it (plan-audit finding)
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probes = base.select(
        F.col("pid").alias("a"),
        F.col("px").alias("ax"),
        F.col("py").alias("ay"),
        F.explode(offsets).alias("o"),
        "cx",
        "cy",
    ).select(
        "a",
        "ax",
        "ay",
        (F.col("cx") + F.col("o.dx")).alias("cx"),
        (F.col("cy") + F.col("o.dy")).alias("cy"),
    )
    # each unordered pair yields exactly two ordered rows (a's probe
    # into b's cell and vice versa); one eager checkpoint because the
    # pair list feeds the counts, the core-core edges, AND the border
    # assignment
    nbrs = (
        probes.join(base, ["cx", "cy"])
        .filter(F.col("a") != F.col("pid"))
        .filter(
            (F.col("ax") - F.col("px")) * (F.col("ax") - F.col("px"))
            + (F.col("ay") - F.col("py")) * (F.col("ay") - F.col("py"))
            <= F.lit(int(eps) * int(eps))
        )
        .select("a", F.col("pid").alias("b"))
        .localCheckpoint(eager=True)
    )
    counts = base.select("pid").join(
        nbrs.groupBy("a").agg(F.count(F.lit(1)).alias("n_nbrs")),
        base.pid == F.col("a"),
        "left",
    ).select(
        "pid", F.coalesce(F.col("n_nbrs"), F.lit(0)).alias("n_nbrs")
    )
    cores = counts.filter(F.col("n_nbrs") >= min_pts - 1).select("pid")
    core_edges = (
        nbrs.join(cores.select(F.col("pid").alias("a")), "a")
        .join(cores.select(F.col("pid").alias("b")), "b")
        .select("a", "b")
    )
    cc = connected_components_star(core_edges, id_a="a", id_b="b")
    core_cluster = cores.join(
        cc, cores.pid == cc.node, "left"
    ).select(
        "pid", F.coalesce(F.col("cluster_id"), F.col("pid")).alias("cluster")
    )
    border_cluster = (
        nbrs.join(
            core_cluster.select(
                F.col("pid").alias("b"), F.col("cluster").alias("bcl")
            ),
            "b",
        )
        .join(cores.select(F.col("pid").alias("a")), "a", "left_anti")
        .groupBy(F.col("a").alias("pid"))
        .agg(F.min("bcl").alias("cluster"))
    )
    return (
        counts.join(
            core_cluster.select(
                "pid", F.col("cluster").alias("core_cl")
            ),
            "pid",
            "left",
        )
        .join(
            border_cluster.select(
                "pid", F.col("cluster").alias("border_cl")
            ),
            "pid",
            "left",
        )
        .select(
            F.col("pid").alias(id_col),
            "n_nbrs",
            F.when(F.col("core_cl").isNotNull(), F.lit("core"))
            .when(F.col("border_cl").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce(F.col("core_cl"), F.col("border_cl")).alias(
                "cluster"
            ),
        )
    )


def sign_hamming_topk(
    emb: DataFrame,
    probe_ids: list[int],
    *,
    dim: int = 64,
    n_planes: int = 32,
    k: int = 5,
) -> DataFrame:
    """Binary-signature ANN: each vector compresses to an n_planes-bit
    sign signature (bit p set iff dot(vec, plane_p) >= 0 — Charikar's
    SimHash applied to embeddings), and neighbor search becomes
    popcount(sig_a XOR sig_b), a single JVM instruction per candidate.

    This is the cheapest lane in the quantization family (SQ8 keeps 8
    bits/dim, PQ a codebook id per subvector; this keeps n_planes bits
    per VECTOR — 8 bytes at 64 planes): at 100 TB the signature table
    is ~1/256th the corpus and typically memory-resident, so a probe
    batch is one broadcast of the probe signatures + one linear scan
    with whole-stage-codegen XOR/POPCOUNT — no shuffle at all. For
    sub-linear candidate generation the same signatures band into the
    existing LSH bucket join (lsh_near_dup_pairs); this operator is the
    exact-over-signatures scorer.

    Determinism: sign bits are stable across engines (min |dot| on this
    corpus is orders of magnitude above fold error — see
    lsh_near_dup_pairs), and everything after the signs is integer.
    """
    planes = _hyperplanes(dim, n_planes)
    # Signature via posexplode + broadcast plane join + two map-side-
    # combined aggregates, NOT per-plane interpreted folds: n_planes
    # zip_with/aggregate chains are interpreted expressions (~4M ops/s
    # measured), while this shape stays in whole-stage codegen and the
    # (vec, plane) partial agg collapses the n_rows*dim*n_planes
    # stream to n_rows*n_planes BEFORE any shuffle. Summation order
    # matches the sequential fold the oracle's list_sum uses: a
    # vector's positions explode consecutively within one partition,
    # the broadcast join preserves stream order, and the hash agg
    # updates each (vec, plane) accumulator in that order — so the
    # dots (and therefore the sign bits) are bit-identical to the
    # fold-based lanes.
    spark = emb.sparkSession
    plane_rows = [
        (p, i, float(w))
        for p, plane in enumerate(planes)
        for i, w in enumerate(plane)
    ]
    pw = spark.createDataFrame(
        plane_rows, "plane int, pos int, w double"
    )
    ex = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "x"
        ),
    )
    dots = (
        ex.join(F.broadcast(pw), "pos")
        .groupBy("vec_id", "plane")
        .agg(F.sum(F.col("x") * F.col("w")).alias("dot"))
    )
    sigs = (
        dots.groupBy("vec_id")
        .agg(
            F.sum(
                F.when(
                    F.col("dot") >= 0,
                    F.expr("shiftleft(CAST(1 AS BIGINT), plane)"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("sig")
        )
        .localCheckpoint(eager=True)  # probe + corpus sides reuse it
    )
    probes = sigs.filter(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"), F.col("sig").alias("psig")
    )
    scored = (
        sigs.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("cand_id"),
            F.bit_count(
                F.col("psig").bitwiseXOR(F.col("sig"))
            ).alias("hamming"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy("hamming", "cand_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("probe_id", "cand_id", "hamming", "rk")
    )
