"""Deduplication operators over the `documents` table (SURVEY.md §2C).

Five operators, each with the scale-correct shape:

* exact      — hash-groupBy on md5(text): one shuffle on the digest,
               map-side partial agg. Never compares texts pairwise.
* MinHash    — shingle -> 128 minhashes -> 32 LSH bands of 4 -> shuffle
  +LSH         on (band, band_hash) -> candidate pairs within buckets
               -> exact-Jaccard verify. All-pairs comparison NEVER
               happens; cost is O(docs * shingles) + the banded join.
               At 100 TB the band join is the only shuffle and its key
               cardinality (band_hash) is uniform by construction.
* SimHash    — 60-bit per-doc signature, 4 x 15-bit chunk bands; any
               pair within Hamming distance 3 shares >= 1 chunk
               (pigeonhole), so chunk-equality buckets find EXACTLY the
               pairs with distance <= 3 after the verify filter — no
               false negatives, deterministic, oracle-checkable.
* n-gram     — EXACT similarity join at any Jaccard threshold via
  Jaccard      prefix filtering (AllPairs/PPJoin): rarest-shingle
               prefixes propose candidates, size-ratio pruning, exact
               verify. See ngram_jaccard_pairs.
* clustering — connected_components_star (registered default:
               large-star/small-star, O(log n) rounds on any topology)
               and connected_components (min-label propagation, the
               simpler plan for known-small-diameter graphs) — both
               turn any of the pair lists above into near-duplicate
               clusters with canonical representatives.

The MinHash signatures use xxhash64 (JVM, no DuckDB twin) — that's fine
because LSH only proposes candidates; the verify step recomputes exact
n-gram Jaccard, so the final output equals the all-pairs oracle as long
as banding misses nothing above threshold (P[miss] < 1e-7 at j >= 0.8
with 32 bands of 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdk_dynamodb_cdc_spark.llm.text import simhash60, tokens

SHINGLE_WORDS = 3
MINHASH_PERMS = 128
LSH_BANDS = 32
LSH_ROWS = MINHASH_PERMS // LSH_BANDS  # 4
SIMHASH_CHUNKS = 4
SIMHASH_CHUNK_BITS = 15
SIMHASH_MAX_HAMMING = SIMHASH_CHUNKS - 1  # pigeonhole guarantee


def word_shingles(text, k: int = SHINGLE_WORDS, *, distinct: bool = True):
    """Word k-gram shingles (space-joined) of a text column, distinct
    by default (set semantics for Jaccard).

    DuckDB twin (1-indexed, identical output):
      list_distinct(list_transform(range(1, len(ws)-k+2),
                                   i -> ws[i] || ' ' || ... ws[i+k-1]))

    `distinct=False` skips the O(n^2)-per-array dedup for consumers
    that are duplicate-insensitive (minhash minima).

    Built by zipping the token array against its own offsets
    (`zip_with` + `slice`) rather than indexed `element_at` lookups —
    array-parallel evaluation, measured ~9x faster at sf0.1.
    """
    ws = tokens(text)
    n = F.size(ws)
    gram = ws
    for j in range(1, k):
        gram = F.zip_with(
            gram,
            F.slice(ws, j + 1, n),
            lambda acc, w: F.concat(acc, F.lit(" "), w),
        )
    # zip_with pads to the LONGER input (null tail); trim to the k-gram
    # count. Floor 0, not 1: a doc with fewer than k tokens has NO
    # shingles — keeping one null-concat element would give two short
    # docs Jaccard 1.0 (a phantom near-dup pair the oracle's empty
    # shingle lists would never produce).
    gram = F.slice(gram, 1, F.greatest(n - (k - 1), F.lit(0)))
    return F.array_distinct(gram) if distinct else gram


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Exact dedup: group on md5(text). Returns one row per duplicate
    group: canonical (minimum) doc_id, copy count, and the digest.

    Scale: single shuffle keyed by the 128-bit digest (uniform), with
    map-side partial aggregation. The text itself never shuffles."""
    return (
        docs.select(F.col("doc_id"), F.md5("text").alias("text_md5"))
        .groupBy("text_md5")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
        .select("canonical_doc_id", "n_copies", "text_md5")
    )


_MERSENNE31 = (1 << 31) - 1


def _perm_constants(n: int = MINHASH_PERMS) -> list[tuple[int, int]]:
    """Fixed (a, b) pairs for the classic universal-hash permutation
    family h -> (a*h + b) mod p over a 31-bit domain (p = 2^31 - 1).
    31-bit operands keep a*h + b under 2^62, inside long range — Spark
    runs ANSI mode by default, so wraparound tricks would throw."""
    import numpy as np

    rng = np.random.default_rng(7)
    return [
        (int(rng.integers(1, _MERSENNE31)), int(rng.integers(0, _MERSENNE31)))
        for _ in range(n)
    ]


_PERMS = _perm_constants()


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, mh array<128 long>) minhash signatures.

    Shape chosen for scale AND for Catalyst reality: the shingle array
    is hashed once (`transform` + xxhash64), then ONE `aggregate` pass
    folds the 128 running minima — each shingle hash enters as a lambda
    VARIABLE, so the 128 mul-add-mod permutations never re-inline the
    tokenize/hash subtree (naive per-permutation array_min(transform)
    measured ~20x slower, and an explode + 128-min-agg variant ~1.6x
    slower plus a shuffle). Entirely per-row: zero shuffle, zero state;
    100 TB of documents stream map-side."""
    shingles = word_shingles(F.col("text"), distinct=False)
    p = F.lit(_MERSENNE31)
    hashes = F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), p))
    init = F.array_repeat(F.lit(1 << 31).cast("long"), MINHASH_PERMS)

    def merge(acc, h):
        perms = F.array(
            *[
                F.pmod(h * F.lit(a).cast("long") + F.lit(b), p)
                for a, b in _PERMS
            ]
        )
        return F.zip_with(acc, perms, lambda x, y: F.least(x, y))

    return docs.select("doc_id", F.aggregate(hashes, init, merge).alias("mh"))


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) SimHash signatures — one per-row ``aggregate`` fold
    keeping 60 running bit-sums in an array (see llm.text.simhash60 for
    the Catalyst reasoning). Entirely per-row: zero shuffle, zero
    state; 100 TB of documents stream map-side at scan speed."""
    return docs.select("doc_id", simhash60(tokens(F.col("text"))).alias("sh"))


def bucket_pair_expansion(ds, make_pair, pair_filter=None):
    """C(n,2) expansion of a sorted bucket array as one Column: for
    every i < j emit ``make_pair(ds[i], ds[j])``, optionally pruned
    element-wise by ``pair_filter`` BEFORE the explode. The shared
    combinatorics of every LSH/prefix bucket join in this module —
    pairs are generated only within buckets, never across the corpus.
    Returns the exploded Column; 1-based ``slice`` with a 0-based
    lambda index makes the tail start at i+2."""

    def pairs_for(x, i):
        inner = F.transform(
            F.slice(ds, i + 2, F.size(ds)), lambda y: make_pair(x, y)
        )
        return F.filter(inner, pair_filter) if pair_filter else inner

    return F.explode(F.flatten(F.transform(ds, pairs_for)))


def minhash_candidate_pairs(docs: DataFrame) -> DataFrame:
    """LSH candidate pairs (doc_a < doc_b) from banded minhash buckets."""
    sigs = minhash_signatures(docs)
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.hash(
                            *[F.col("mh")[b * LSH_ROWS + r] for r in range(LSH_ROWS)]
                        ).alias("bh"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bh")
    # Pairs via per-bucket collect + array combinatorics, NOT a
    # bands-self-join: a self-join evaluates the signature subplan on
    # both branches (no exchange to reuse), doubling the dominant
    # cost. This shape computes signatures once, shuffles (band, bh)
    # keyed rows once, and expands C(n,2) only inside buckets — bucket
    # sizes are tiny by construction (16-bit band hashes).
    buckets = (
        bands.groupBy("band", "bh")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = buckets.select(
        bucket_pair_expansion(
            F.col("ids"),
            lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
        ).alias("p")
    )
    return pairs.select("p.doc_a", "p.doc_b").distinct()


def minhash_near_dup_pairs(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Near-duplicate pairs with exact word-3-gram Jaccard >= threshold,
    found via banded MinHash-LSH and then verified exactly.

    Output: (doc_a, doc_b, n_common, n_union, jaccard) with doc_a <
    doc_b — equal to the all-pairs answer (see module docstring for the
    miss bound), at banded-join cost instead of O(n^2)."""
    cands = minhash_candidate_pairs(docs)
    sh = docs.select("doc_id", word_shingles(F.col("text")).alias("s"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    n_common = F.size(F.array_intersect("sa", "sb"))
    # |A∪B| from sizes — no per-pair merged-array build
    n_union = F.size("sa") + F.size("sb") - n_common
    # two sub-k-token docs have EMPTY shingle sets (identical minhash
    # signatures, so they do become candidates): Jaccard is 0, not 0/0
    # (ANSI mode raises on the bare division)
    jaccard = F.when(
        n_union > 0, n_common.cast("double") / n_union
    ).otherwise(F.lit(0.0))
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_common.alias("n_common"),
            n_union.alias("n_union"),
            jaccard.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_near_dup_pairs(
    docs: DataFrame, max_hamming: int = SIMHASH_MAX_HAMMING
) -> DataFrame:
    """All pairs with SimHash Hamming distance <= max_hamming.

    Candidate generation: split the 60-bit signature into 4 chunks of
    15 bits and bucket-join on chunk equality. For max_hamming <= 3
    this is EXACT (a pair differing in <= 3 bits cannot differ in all
    4 chunks), so the result matches the all-pairs oracle precisely.
    """
    if max_hamming > SIMHASH_CHUNKS - 1:
        raise ValueError(
            f"chunk banding guarantees completeness only up to "
            f"{SIMHASH_CHUNKS - 1} bits, got {max_hamming}"
        )
    # One narrow exchange (doc_id + sh = 16 bytes/row) between the
    # signature fold and the chunk derivation pins the fold to exactly
    # ONE evaluation per row: without a boundary, CollapseProject
    # inlines the fold into the sh passthrough plus all four chunk
    # expressions (measured 5x the fold cost, and the fold dominates).
    # The extra shuffle is two longs per document — negligible at any
    # scale next to 5x'ing the per-token fold.
    mask = (1 << SIMHASH_CHUNK_BITS) - 1
    sigs = simhash_signatures(docs).repartition(F.col("doc_id"))
    chunks = sigs.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sh"), c * SIMHASH_CHUNK_BITS)
                        .bitwiseAND(F.lit(mask))
                        .alias("cv"),
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("cc"),
    ).select("doc_id", "sh", "cc.chunk", "cc.cv")
    # Pairs via per-bucket collect + array combinatorics, NOT a
    # chunks-self-join: a self-join evaluates the signature fold on
    # both branches (doubling the dominant cost) and re-shuffles both.
    # This computes signatures once, shuffles (chunk, cv) keyed rows
    # once, and expands C(n,2) only inside buckets — bucket sizes are
    # tiny by construction (15-bit chunk values). Same shape as
    # minhash_candidate_pairs; signatures ride along in the structs so
    # the Hamming verify needs no join back.
    buckets = (
        chunks.groupBy("chunk", "cv")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "sh"))).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pairs = buckets.select(
        bucket_pair_expansion(
            F.col("ds"),
            lambda x, y: F.struct(
                x["doc_id"].alias("doc_a"),
                y["doc_id"].alias("doc_b"),
                x["sh"].alias("sha"),
                y["sh"].alias("shb"),
            ),
        ).alias("p")
    )
    hamming = F.bit_count(F.col("sha").bitwiseXOR(F.col("shb")))
    return (
        pairs.select("p.doc_a", "p.doc_b", "p.sha", "p.shb")
        .distinct()
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard similarity join via prefix
    filtering (the AllPairs/PPJoin family — Bayardo, Ma & Srikant,
    "Scaling Up All Pairs Similarity Search", WWW'07).

    Unlike :func:`minhash_near_dup_pairs` this has no probabilistic
    miss bound at all — it is exact at ANY threshold, including ones
    far below where 32x4 LSH banding keeps its miss probability low.

    Prefix-filter guarantee: order every document's shingles by a
    global total order (ascending corpus document-frequency, ties by
    shingle text). If J(A,B) >= t then |A∩B| >= ceil(t*|A|), and an
    intersection that large cannot avoid the first
    |A| - ceil(t*|A|) + 1 shingles of A — so every qualifying pair
    shares at least one *prefix* shingle and candidate generation over
    prefix postings misses nothing.

    Scale shape (three keyed shuffles, no all-pairs stage):
      1. document-frequency aggregation keyed by shingle hash
         (map-side partial agg; the Zipf head costs one counter each);
      2. candidate generation keyed by prefix-shingle hash — prefix
         filtering removes the frequent head of the distribution from
         postings (a shingle appearing in half the corpus is almost
         never among a doc's rarest |A|-ceil(t|A|)+1), so posting
         lists stay short where C(df,2) expansion would hurt;
      3. verify join keyed by doc_id recomputing exact Jaccard on the
         full shingle sets — so emitted pairs are exactly the all-pairs
         answer.
    Shingles travel as 60-bit hashes, not strings (16 bytes/row in
    every exchange); Jaccard over hashed sets equals Jaccard over the
    sets themselves absent a 2^-60 collision.
    """
    from cdk_dynamodb_cdc_spark.llm.text import token_hash60

    # The plan consumes the shingle-hash fold on THREE branches
    # (postings for candidate generation, then each side of the verify
    # join), and Spark re-evaluates a non-materialized subplan per
    # branch — measured 3x the dominant per-row cost. Materialize the
    # (doc_id, hashed-shingle-array) table once; this is the standard
    # "signature table" step of AllPairs, sized at ~8 bytes per shingle
    # occurrence (no text), far below the corpus it indexes. On a
    # cluster with unreliable executors prefer reliable checkpoint()
    # over localCheckpoint — same shape, fault-tolerant storage.
    sh = (
        docs.select(
            "doc_id",
            F.array_distinct(
                F.transform(word_shingles(F.col("text")), token_hash60)
            ).alias("s"),
        )
        .filter(F.size("s") > 0)
        .localCheckpoint(eager=True)
    )
    posts = sh.select("doc_id", F.explode("s").alias("g"))
    freq = posts.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    # Rank each doc's shingles by (df, g) — a global total order — and
    # keep the prefix. One window pass (row_number ordered by (df, g)
    # plus an unordered per-doc count, sharing the doc_id shuffle/sort)
    # rather than collect_list + array_sort + slice + re-explode, which
    # builds and tears down a per-doc array just to number its
    # elements — measured ~20% slower.
    from pyspark.sql import Window as _W

    wdoc = _W.partitionBy("doc_id").orderBy("df", "g")
    wcnt = _W.partitionBy("doc_id")
    n = F.col("n")
    pp = (
        posts.join(freq, "g")
        .select(
            "doc_id",
            "g",
            F.row_number().over(wdoc).alias("rn"),
            F.count(F.lit(1)).over(wcnt).alias("n"),
        )
        .filter(F.col("rn") <= n - F.ceil(F.lit(threshold) * n) + 1)
        .select("doc_id", "n", "g")
    )
    buckets = (
        pp.groupBy("g")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n"))).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    # Size filter inside the bucket expansion: J(A,B) >= t forces
    # |A∩B| >= t*max(|A|,|B|), hence min(|A|,|B|) >= t*max(|A|,|B|) —
    # pairs outside the size ratio never reach the candidate set.
    cands = (
        buckets.select(
            bucket_pair_expansion(
                F.col("ds"),
                lambda x, y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    y["doc_id"].alias("doc_b"),
                    x["n"].alias("na"),
                    y["n"].alias("nb"),
                ),
                pair_filter=lambda s: F.least(s["na"], s["nb"]).cast("double")
                >= F.lit(threshold) * F.greatest(s["na"], s["nb"]),
            ).alias("c")
        )
        .select("c.doc_a", "c.doc_b", "c.na", "c.nb")
        .distinct()
    )
    # Verify needs only the intersection: |A∪B| = |A| + |B| - |A∩B|
    # from the set sizes already riding the candidates — no
    # array_union evaluation per pair.
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    n_common = F.size(F.array_intersect("sa", "sb"))
    n_union = F.col("na") + F.col("nb") - n_common
    jaccard = n_common.cast("double") / n_union  # both sides non-empty
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_common.alias("n_common"),
            n_union.alias("n_union"),
            jaccard.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components over an undirected pair list: returns
    ``(node, cluster_id)`` for every node appearing in ``pairs``, where
    ``cluster_id`` is the minimum node id reachable through any chain
    of pairs — the canonical representative of a near-duplicate
    cluster (A~B, B~C puts A, B, C in one cluster even though A and C
    were never compared).

    Algorithm: distributed min-label propagation. Every node starts
    labeled with itself; each round replaces a node's label with the
    minimum of its own and its neighbors' labels; a fixpoint is a
    components labeling. Rounds needed = the longest label-propagation
    path (graph diameter), which for near-dup graphs is small — they
    are unions of dense cliques, not long chains.

    Scale notes (each round is one shuffle join + one keyed agg):

    * Labels only ever DECREASE, so ``sum(label)`` is a strictly
      decreasing convergence metric — one cheap aggregate per round
      instead of a change-detection join.
    * ``localCheckpoint(eager=True)`` after each round truncates plan
      lineage, which otherwise doubles per iteration and overwhelms
      the optimizer by ~iteration 10. On a cluster with unreliable
      executors, prefer reliable ``checkpoint()`` with a checkpoint
      dir — same shape, fault-tolerant storage.
    * For adversarial high-diameter graphs, the exchange-reducing
      production alternative is large-star/small-star (Kiveris et al.,
      "Connected Components in MapReduce and Beyond", SoCC'14); the
      propagation loop here is the simpler plan with the same output.

    Raises RuntimeError if the loop fails to converge within
    ``max_iterations`` — a silently partial labeling would poison every
    downstream canonical-doc choice.
    """
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    rev = pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    edges = fwd.unionByName(rev).localCheckpoint(eager=True)

    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]

    for _ in range(max_iterations):
        # One shuffle per round: neighbor contributions (each edge
        # forwards its source's label to its destination) unioned with
        # the nodes' own labels, minimized in a single keyed
        # aggregation — no separate left join back onto labels.
        contrib = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), "label"
        )
        labels = (
            contrib.unionByName(labels.select("node", "label"))
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        new_sum = labels.agg(F.sum("label")).first()[0]
        if new_sum == prev_sum:
            return labels.select("node", F.col("label").alias("cluster_id"))
        prev_sum = new_sum

    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds"
    )


def ngram_containment_pairs(
    docs: DataFrame, threshold: float = 0.7
) -> DataFrame:
    """EXACT directed containment join: ordered pairs (a, b), a != b,
    with C(a -> b) = |Sa ∩ Sb| / |Sa| >= threshold over word-shingle
    sets — the asymmetric cousin of :func:`ngram_jaccard_pairs` that
    finds SUBSET duplication (a quote, an excerpt, a doc wholly
    embedded in a larger one) which symmetric Jaccard misses whenever
    the containing document is much bigger.

    Prefix-filter guarantee (containment variant): |Sa ∩ Sb| >=
    ceil(t*|Sa|) cannot avoid the first |Sa| - ceil(t*|Sa|) + 1
    shingles of A under the global (df, shingle) total order, so
    joining A-PREFIX postings against B-FULL postings misses nothing.
    Containment imposes no size-ratio bound in the B direction (B may
    be arbitrarily large) — the only sound B-side prune is
    |Sb| >= ceil(t*|Sa|), applied during candidate generation.

    Scale shape: same three keyed shuffles as the Jaccard join; the
    asymmetry costs a full (not prefix) posting list on the B side,
    but A-prefixes are rarest-first, so the joined postings avoid the
    Zipf head exactly where C(df, 2) expansion would hurt. Verify
    recomputes exact intersection on the checkpointed signature table,
    so the output is exactly the brute-force answer (pytest pins this
    on randomized dense corpora).
    """
    from pyspark.sql import Window as _W

    from cdk_dynamodb_cdc_spark.llm.text import token_hash60

    sh = (
        docs.select(
            "doc_id",
            F.array_distinct(
                F.transform(word_shingles(F.col("text")), token_hash60)
            ).alias("s"),
        )
        .filter(F.size("s") > 0)
        .localCheckpoint(eager=True)
    )
    posts = sh.select("doc_id", F.explode("s").alias("g"))
    freq = posts.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    wdoc = _W.partitionBy("doc_id").orderBy("df", "g")
    wcnt = _W.partitionBy("doc_id")
    n = F.col("n")
    # Rank every posting once under the global (df, g) order and
    # materialize: BOTH join sides consume it (A needs the prefix, B
    # needs positions for the PPJoin positional filter), and Spark
    # re-evaluates non-materialized subplans per consumer.
    ranked = (
        posts.join(freq, "g")
        .select(
            "doc_id",
            "g",
            F.row_number().over(wdoc).alias("rn"),
            F.count(F.lit(1)).over(wcnt).alias("n"),
        )
        .localCheckpoint(eager=True)
    )
    prefix_a = ranked.filter(
        F.col("rn") <= n - F.ceil(F.lit(threshold) * n) + 1
    ).select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("na"),
        F.col("rn").alias("rn_a"),
        "g",
    )
    full_b = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("nb"),
        F.col("rn").alias("rn_b"),
        "g",
    )
    # PPJoin positional filter: a shared gram at ranks (rn_a, rn_b)
    # bounds the total overlap by 1 + min(na - rn_a, nb - rn_b) —
    # the suffixes after the shared gram under the SAME global order.
    # Keeping a pair when ANY shared prefix gram passes is a superset
    # of classic PPJoin (which tests only the first), hence sound;
    # it cuts the candidate set ~5x before the verify join.
    required = F.ceil(F.lit(threshold) * F.col("na"))
    overlap_ub = F.lit(1) + F.least(
        F.col("na") - F.col("rn_a"), F.col("nb") - F.col("rn_b")
    )
    cands = (
        prefix_a.join(full_b, "g")
        .filter(
            (F.col("doc_a") != F.col("doc_b"))
            & (F.col("nb") >= required)
            & (overlap_ub >= required)
        )
        .select("doc_a", "doc_b", "na")
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    n_common = F.size(F.array_intersect("sa", "sb"))
    containment = n_common.cast("double") / F.col("na")
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_common.alias("n_common"),
            F.col("na").alias("n_a"),
            containment.alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_rounds: int = 40,
    local_finish_edges: int = 1 << 17,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — same output contract as :func:`connected_components`
    (``(node, cluster_id)``, cluster_id = minimum reachable node id)
    but O(log n) rounds instead of O(diameter).

    THIS is the registered default for every clustering query: its
    round count is O(log n) regardless of topology, so a long chain or
    stringy component — which sends the propagation loop to its round
    cap (the 300-node path graph in the pytest needs 300 propagation
    rounds but 5 star rounds) — costs the same as a clique union.
    :func:`connected_components` remains available as the simpler
    plan when the caller KNOWS the graph is unions of dense cliques
    (diameter ~2-3), where it runs marginally fewer jobs.

    Per round (each one shuffle per star phase, lineage truncated):

    * large-star: group the symmetric edge list by ``u``, compute
      ``m = min(N(u) + {u})``, connect every LARGER neighbor to ``m``;
    * small-star: orient edges larger->smaller, group by the larger
      endpoint, connect its smaller neighbors (and itself) to their
      minimum.

    Both steps preserve connectivity and only ever decrease
    (neighbor-min) pointers; the fixpoint is a forest of stars centered
    at component minima. Convergence is an exact edge-set comparison
    (count equality + exceptAll emptiness), not a heuristic.

    Bounded local finisher: whenever the materialized edge set is
    under ``local_finish_edges`` (checked at init and after each
    round, using counts the convergence test already pays for), the
    remaining rounds collapse into one exact min-label union-find on
    the collected edges (<= 2^17 rows, ~2 MB) — the same
    small-enough-so-localize reasoning AQE applies to broadcast
    joins. Star rounds preserve component node-partitions exactly
    (Kiveris et al.), so the finisher's labels equal the distributed
    fixpoint's. At cluster scale a large graph never passes the bound
    and the loop stays fully distributed; the collect is
    driver-bounded by construction.
    """

    def _local_star_fixpoint(edges_df: DataFrame) -> DataFrame:
        """Exact min-label union-find over a bounded collected edge
        list; returns the fixpoint star edges (node -> component min)
        as a DataFrame with ``edges_df``'s schema."""
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in edges_df.collect():
            ru, rv = find(row[0]), find(row[1])
            if ru != rv:
                # min-label union: Spark's least/min on strings is
                # binary UTF-8 order, which matches Python's
                # code-point comparison; ints compare identically.
                lo, hi = (ru, rv) if ru < rv else (rv, ru)
                parent[hi] = lo
        stars = [(n, find(n)) for n in list(parent) if find(n) != n]
        return edges_df.sparkSession.createDataFrame(
            stars, schema=edges_df.schema
        )
    # No up-front distinct: duplicate input edges only feed min
    # aggregations and the end-of-round distinct, so they cannot change
    # the result — and skipping the extra shuffle + its job matters
    # because the loop's cost at any scale is dominated by fixed
    # per-round overhead once the edge set contracts (round 0 typically
    # shrinks it by ~25x). The checkpoint still truncates caller
    # lineage so round 0 doesn't replay an arbitrary upstream plan.
    e = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .localCheckpoint(eager=True)
    )
    # Lazy on purpose: all_nodes joins the final labels exactly once,
    # outside the loop, so an eager checkpoint would only add a job.
    all_nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )

    # Init-time finisher check: e is materialized (checkpoint above),
    # so the count is one cheap job, and a graph already under the
    # bound skips the distributed rounds entirely. The raw (possibly
    # duplicate-carrying) count can only overstate, never understate,
    # so the bound stays conservative.
    if e.count() <= local_finish_edges:
        e = _local_star_fixpoint(e)
    else:
        e = _star_rounds(
            e, max_rounds, local_finish_edges, _local_star_fixpoint
        )

    # Fixpoint edges are (node, component_min) stars; centers carry no
    # outgoing edge, so they label themselves via the left join.
    labels = e.groupBy("u").agg(F.min("v").alias("cluster_id"))
    return all_nodes.join(
        labels, all_nodes.node == labels.u, "left"
    ).select(
        "node",
        F.coalesce("cluster_id", F.col("node")).alias("cluster_id"),
    )


def _star_rounds(
    e: DataFrame,
    max_rounds: int,
    local_finish_edges: int,
    local_fixpoint,
) -> DataFrame:
    """Distributed alternating-star loop for graphs over the local
    bound; returns fixpoint star edges. See
    :func:`connected_components_star` for the algorithm contract."""
    # prev_count carries each round's materialized edge count into the
    # next round's convergence test, replacing a second count job.
    # None on round 0: e may still hold input duplicates (see above),
    # so its count is not comparable to the deduped round output.
    prev_count: int | None = None
    for _ in range(max_rounds):
        # --- large-star ---------------------------------------------
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m_of_u = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        # No distinct here: duplicate large-star edges are absorbed by
        # the small-star min aggregation and the end-of-round distinct.
        large = (
            sym.join(m_of_u, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # --- small-star ---------------------------------------------
        oriented = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        n_min = oriented.groupBy("u").agg(F.min("v").alias("m"))
        joined = oriented.join(n_min, "u")
        small = (
            joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(n_min.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # --- exact convergence check --------------------------------
        sc = small.count()
        if sc == prev_count and small.exceptAll(e).isEmpty():
            return small
        # --- bounded local finisher ---------------------------------
        # sc is already computed for the convergence test, so this
        # branch costs no extra job; see the function docstring.
        if sc <= local_finish_edges:
            return local_fixpoint(small)
        prev_count = sc
        e = small
    raise RuntimeError(
        f"connected_components_star did not converge in "
        f"{max_rounds} rounds"
    )


def substring_dup_stats(
    docs: DataFrame,
    *,
    key_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 10,
) -> DataFrame:
    """EXACT-substring duplication profile (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    suffix-array criterion, re-expressed relationally): a ``window_
    tokens``-token span is DUPLICATED iff the identical token sequence
    occurs at least twice anywhere in the corpus (another document or
    elsewhere in the same one). Returns, per document with at least
    one full window: ``(key, n_windows, n_dup_windows)`` — integer
    counts, so the result is exactly portable across engines.

    The suffix-array formulation finds maximal repeated spans in
    O(corpus) memory on one machine; this rolling-window formulation
    finds the same fixed-length evidence as two shuffles, both
    corpus-distributable: explode each document into its rolling
    windows (positions preserved by multiplicity), aggregate global
    window frequencies (map-side combinable, vocabulary-of-windows
    sized), join back and count per document. A span of L >= k
    duplicated tokens shows up as L - k + 1 duplicated windows, so
    ``n_dup_windows`` recovers span structure the way the paper's
    50-token criterion does.

    Scale: windows are hashed strings; frequency agg is bounded by
    distinct windows; the join back is gram-keyed. Nothing quadratic,
    no Python.
    """
    toks = docs.select(
        F.col(key_col).alias("key"),
        F.split(F.col(text_col), " ").alias("ws"),
    ).filter(F.size("ws") >= window_tokens)
    wins = toks.select(
        "key",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(ws) - {window_tokens} + 1), "
                f"i -> array_join(slice(ws, i, {window_tokens}), ' '))"
            )
        ).alias("win"),
    )
    freq = wins.groupBy("win").agg(F.count(F.lit(1)).alias("n_occ"))
    return (
        wins.join(freq, "win")
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum((F.col("n_occ") >= 2).cast("long")).alias(
                "n_dup_windows"
            ),
        )
    )


def minhash_index(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Persistable MinHash-LSH corpus index: ``(bands, shingles)``.

    ``bands`` is ``(doc_id, band, bh)`` — the banded signature rows the
    candidate join keys on; ``shingles`` is ``(doc_id, s)`` — the exact
    word-3-gram sets the verify step needs. Both are computed in ONE
    pass over the corpus and are the two tables a production pipeline
    writes once and reuses for every incoming batch (bucket/partition
    ``bands`` by ``(band, bh)`` and the candidate join is shuffle-free
    on the corpus side).
    """
    sigs = minhash_signatures(docs)
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.hash(
                            *[
                                F.col("mh")[b * LSH_ROWS + r]
                                for r in range(LSH_ROWS)
                            ]
                        ).alias("bh"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bh")
    shingles = docs.select(
        "doc_id", word_shingles(F.col("text")).alias("s")
    )
    return bands, shingles


def incremental_near_dup_pairs(
    new_docs: DataFrame,
    index_bands: DataFrame,
    index_shingles: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicates of an INCOMING BATCH against an existing corpus
    index — the daily-crawl production shape: the corpus's signatures
    and shingle sets were computed once (:func:`minhash_index`); each
    new batch computes only ITS OWN, joins its band rows against the
    index, and exact-verifies the candidates. Corpus text is never
    re-read, corpus signatures never recomputed.

    Output: ``(new_doc_id, corpus_doc_id, n_common, n_union, jaccard)``
    with exact Jaccard >= ``threshold`` — equal to the all-pairs
    new-batch x corpus answer under the standard banding miss bound
    (module docstring). Pairs WITHIN the new batch are the symmetric
    operator's job (:func:`minhash_near_dup_pairs` on the batch);
    compose both for full coverage, then fold the batch into the index.

    Scale: the candidate join is an equi-join on ``(band, bh)`` —
    batch-sized left side against a bucketed corpus index, no C(n,2)
    expansion anywhere; the verify join moves only candidate rows'
    shingle arrays.
    """
    nb, ns = minhash_index(new_docs)
    cands = (
        nb.select(
            F.col("doc_id").alias("new_doc_id"), "band", "bh"
        )
        .join(
            index_bands.select(
                F.col("doc_id").alias("corpus_doc_id"), "band", "bh"
            ),
            ["band", "bh"],
        )
        .filter(F.col("new_doc_id") != F.col("corpus_doc_id"))
        .select("new_doc_id", "corpus_doc_id")
        .distinct()
    )
    sa = ns.select(F.col("doc_id").alias("new_doc_id"), F.col("s").alias("sa"))
    sb = index_shingles.select(
        F.col("doc_id").alias("corpus_doc_id"), F.col("s").alias("sb")
    )
    n_common = F.size(F.array_intersect("sa", "sb"))
    n_union = F.size("sa") + F.size("sb") - n_common
    jaccard = F.when(
        n_union > 0, n_common.cast("double") / n_union
    ).otherwise(F.lit(0.0))
    return (
        cands.join(sa, "new_doc_id")
        .join(sb, "corpus_doc_id")
        .select(
            "new_doc_id",
            "corpus_doc_id",
            n_common.alias("n_common"),
            n_union.alias("n_union"),
            jaccard.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
