"""Mergeable sketches as relational plans: count-min (Cormode &
Muthukrishnan 2005) for frequency estimation and a Bloom filter
(Bloom 1970) for membership, both over unbounded key domains.

The sketch IS a (depth x width) count table — ``cms_cells`` builds it
with one map-side-combined aggregation (each input row contributes
``depth`` cell increments), and ``cms_estimate`` reads it back with a
broadcast join (the sketch is depth*width rows — KBs — regardless of
corpus size). Point estimates are ``min`` over the key's ``depth``
cells; the CMS theorem guarantees ``estimate >= exact`` always (each
cell upper-bounds every key hashing into it) and bounds the
overestimate by ``e*N/width`` with probability ``1 - e^-depth``.

Hashes are the engine's md5-based ``token_hash60`` (llm/text.py), so a
DuckDB oracle reproduces the cells — and therefore the estimates —
bit-exactly; the registered query's contract column is the
no-underestimate theorem, which is deterministic (not probabilistic)
and must hold for every key.

Scale shape: building is one shuffle of depth*width partial counts
(map-side combined — executors emit at most d*w rows each, not one per
input row); estimation never touches the raw stream again. This is
the sketch to keep per micro-batch and merge across time: cells from
two batches merge by cell-wise ADDITION, which is exactly a groupBy
sum over the union — the merge the streaming rollup lane already
performs for its other mergeable aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cdk_dynamodb_cdc_spark.llm.text import token_hash60

CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_SALT = "cms"


def _bucket(key: Column, seed: int, width: int, salt: str) -> Column:
    return (
        token_hash60(F.concat(F.lit(f"{salt}-{seed}:"), key.cast("string")))
        % width
    )


def cms_cells(
    df: DataFrame,
    key_col: str,
    *,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    salt: str = CMS_SALT,
) -> DataFrame:
    """Build the sketch: ``(seed, bucket, c)`` — depth*width rows."""
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("int").alias("seed"),
                        _bucket(F.col(key_col), s, width, salt)
                        .cast("int")
                        .alias("bucket"),
                    )
                    for s in range(depth)
                ]
            )
        ).alias("p")
    )
    return pairs.groupBy(
        F.col("p.seed").alias("seed"), F.col("p.bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("c"))


HLL_REGISTERS = 256  # p = 8
_HLL_HASH_BITS = 60  # token_hash60


def hll_registers(
    df: DataFrame,
    key_col: str,
    *,
    m: int = HLL_REGISTERS,
    salt: str = "hll",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """HyperLogLog (Flajolet et al. 2007) as a relational plan: the
    sketch IS the ``(reg, rho)`` register table — at most ``m`` rows
    whatever the stream size. Unlike ``approx_count_distinct`` (whose
    internal HLL bytes no other engine reproduces), every step here is
    md5-determined integer arithmetic, so a DuckDB oracle rebuilds the
    registers — and therefore the estimate — bit-exactly.

    reg = low 8 hash bits; w = the remaining 52; rho = number of
    leading zeros of w within those 52 bits, plus 1 (w = 0 -> 53),
    computed as ``53 - bitlength(w)`` with bitlength taken as the
    length of the base-2 string — pure integer, no float log.

    Mergeability: registers merge by MAX — ``groupBy(reg).max(rho)``
    over a union — the same shape as the CMS cell-sum and Bloom
    bit-union merges, so per-micro-batch sketches fold across time.

    Scale shape: one map-side-combinable aggregation; executors emit
    at most ``m`` rows each. The estimator (:func:`hll_estimate`)
    never touches the stream again.
    """
    p = m.bit_length() - 1
    if (1 << p) != m:
        raise ValueError(f"m must be a power of two: {m}")
    h = token_hash60(
        F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))
    )
    reg = (h % m).cast("int")
    # integer suffix extraction: a float division would lose bits
    # above 2^53 on the 60-bit hash
    w = F.shiftrightunsigned(h, p)
    w_bits = _HLL_HASH_BITS - p
    rho = F.when(w == 0, F.lit(w_bits + 1)).otherwise(
        F.lit(w_bits + 1) - F.length(F.conv(w.cast("string"), 10, 2))
    )
    # group_cols: one sketch PER GROUP — the sketch becomes a groupBy
    # dimension (daily/regional cardinalities in one pass), each
    # group's table still <= m rows
    return (
        df.select(
            *group_cols, reg.alias("reg"), rho.cast("int").alias("rho")
        )
        .groupBy(*group_cols, "reg")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(
    registers: DataFrame,
    *,
    m: int = HLL_REGISTERS,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The HLL cardinality estimate from a register table: one row
    ``(n_registers_set, estimate)``.

    alpha_m * m^2 / sum_j 2^-rho_j (empty registers count 2^0), with
    the small-range linear-counting correction E <= 2.5m -> m*ln(m/V)
    when V empty registers remain. Floats appear only here, and every
    term is engine-portable: 2^-rho is an exact dyadic double and the
    sum folds over registers in REGISTER ORDER (sorted fold, same
    discipline as the DSIR/perplexity operators), so both engines add
    identical values in identical order.
    """
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_set"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("reg", "rho"))),
            F.lit(0.0),
            lambda acc, x: acc + F.pow(F.lit(2.0), -x["rho"].cast("double")),
        ).alias("s_set"),
    )
    # empty registers contribute 2^0 = 1 each — added as one exact term
    s = F.col("s_set") + (F.lit(m) - F.col("n_set")).cast("double")
    raw = F.lit(alpha * m * m) / s
    zeros = (F.lit(m) - F.col("n_set")).cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return agg.select(
        *group_cols,
        F.col("n_set").alias("n_registers_set"),
        est.alias("estimate"),
    )


KMV_K = 64
_KMV_SPACE = float(1 << 60)  # token_hash60 range


def kmv_hashes(
    df: DataFrame,
    key_col: str,
    *,
    k: int = KMV_K,
    salt: str = "kmv",
) -> DataFrame:
    """K-minimum-values sketch (Beyer et al. 2007): the ``k`` smallest
    DISTINCT md5 hashes of the key stream, one row each — the sketch
    that supports estimated SET OPERATIONS (union, intersection,
    Jaccard), which HLL registers cannot express. Mergeable: the
    sketch of a union is the k smallest of the concatenated sketches
    (distinct-union then re-limit) — same fold-across-micro-batches
    shape as the other three sketches in this module.

    Scale shape: distinct-then-TakeOrdered — the per-partition partial
    keeps at most k rows, so executors ship k hashes each, never the
    stream; estimation never touches the stream again."""
    h = token_hash60(
        F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))
    )
    return (
        df.select(h.alias("h")).distinct().orderBy("h").limit(k)
    )


def kmv_set_ops(
    hashes_a: DataFrame, hashes_b: DataFrame, *, k: int = KMV_K
) -> DataFrame:
    """Estimated |A ∪ B|, |A ∩ B|, and Jaccard from two KMV sketches
    (Beyer et al. §4): merge the sketches (k smallest of the distinct
    union — a valid KMV of A ∪ B), estimate the union from it, and
    scale by the fraction ρ of merged hashes present in BOTH input
    sketches. One row ``(n_merged, union_est, jaccard_est,
    intersection_est)``. All frames involved are <= 2k rows."""
    merged = (
        hashes_a.unionByName(hashes_b).distinct().orderBy("h").limit(k)
    )
    in_both = merged.join(hashes_a, "h", "left_semi").join(
        hashes_b, "h", "left_semi"
    )
    stats = merged.agg(
        F.count(F.lit(1)).alias("n_merged"),
        F.max("h").alias("kth"),
    ).crossJoin(in_both.agg(F.count(F.lit(1)).alias("n_both")))
    union_est = F.when(
        F.col("n_merged") < k, F.col("n_merged").cast("double")
    ).otherwise(
        F.lit(float(k - 1))
        / (F.col("kth").cast("double") / F.lit(_KMV_SPACE))
    )
    rho = F.col("n_both").cast("double") / F.col("n_merged").cast(
        "double"
    )
    return stats.select(
        "n_merged",
        union_est.alias("union_est"),
        rho.alias("jaccard_est"),
        (rho * union_est).alias("intersection_est"),
    )


BLOOM_M = 4096
BLOOM_K = 4
BLOOM_SALT = "bloom"


def bloom_bits(
    df: DataFrame,
    key_col: str,
    *,
    m_bits: int = BLOOM_M,
    k: int = BLOOM_K,
    salt: str = BLOOM_SALT,
) -> DataFrame:
    """Build a Bloom filter as a SPARSE BIT TABLE: one row per set bit
    position (``pos int``), at most ``m_bits`` rows however large the
    build stream is. Each key sets ``k`` positions via the engine's
    md5-based ``token_hash60`` — deterministic, so a DuckDB oracle
    reproduces the filter bit-for-bit.

    Mergeability: the union of two filters' bit tables, de-duplicated,
    IS the filter of the concatenated streams (bitwise OR on the
    sparse representation) — the same groupBy-union merge the CMS
    cells and the streaming rollup lane use, so per-micro-batch
    filters fold across time.

    Scale shape: one explode (k rows per input row) into a distinct
    aggregation that is map-side partial — executors emit at most
    ``m_bits`` rows each regardless of input size. The membership use
    at 100 TB: broadcast the (KB-sized) bit table and pre-filter a
    corpus-sized stream BEFORE an expensive join — e.g. eval-set
    decontamination where the eval side fits a filter but not a
    broadcast-join hash table of full keys.
    """
    pos = F.explode(
        F.array(
            *[
                _bucket(F.col(key_col), s, m_bits, salt)
                .cast("int")
                .alias("p")
                for s in range(k)
            ]
        )
    )
    return df.select(pos.alias("pos")).distinct()


def bloom_probe(
    bits: DataFrame,
    probes: DataFrame,
    key_col: str,
    *,
    m_bits: int = BLOOM_M,
    k: int = BLOOM_K,
    salt: str = BLOOM_SALT,
) -> DataFrame:
    """Append ``maybe_present`` to every probe row: true iff all ``k``
    of the key's bit positions are set. The Bloom theorem makes the
    FALSE branch exact (no false negatives — a key the build stream
    contains always probes true) and bounds the false-positive rate by
    ``(1 - e^{-kn/m})^k``. Same probe-row discipline as
    :func:`cms_estimate`: every probe row survives exactly once
    (internal per-row id), internal columns are ``__bloom_``-prefixed,
    and the bit table is broadcast."""
    bits_k = F.broadcast(
        bits.select(
            F.col("pos").alias("__bloom_pos"),
            F.lit(1).alias("__bloom_hit"),
        )
    )
    probed = probes.withColumn(
        "__bloom_rid", F.monotonically_increasing_id()
    ).select(
        "*",
        F.explode(
            F.array(
                *[
                    _bucket(F.col(key_col), s, m_bits, salt)
                    .cast("int")
                    .alias("p")
                    for s in range(k)
                ]
            )
        ).alias("__bloom_pos"),
    )
    out_cols = [c for c in probes.columns]
    return (
        probed.join(bits_k, ["__bloom_pos"], "left")
        .groupBy("__bloom_rid", *out_cols)
        .agg(
            (
                F.sum(F.coalesce(F.col("__bloom_hit"), F.lit(0)))
                == F.lit(k)
            ).alias("maybe_present")
        )
        .drop("__bloom_rid")
    )


def bloom_words(bits: DataFrame, *, m_bits: int = BLOOM_M) -> list[int]:
    """Pack the sparse bit table into ``m_bits / 64`` little-endian
    64-bit words (driver-side; bounded by ``m_bits`` BY CONSTRUCTION,
    never by the build stream — an 8 KB list for the default filter).
    This is the form :func:`bloom_contains` inlines into a plan."""
    words = [0] * ((m_bits + 63) // 64)
    for r in bits.select("pos").collect():
        words[r["pos"] // 64] |= 1 << (r["pos"] % 64)
    # keep values in signed-64 range for Spark long literals
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_contains(
    words: list[int],
    key: Column,
    *,
    m_bits: int = BLOOM_M,
    k: int = BLOOM_K,
    salt: str = BLOOM_SALT,
) -> Column:
    """Scan-speed membership test: a pure Column that is true iff all
    ``k`` of the key's bit positions are set in the packed filter —
    no join, no shuffle, no Python. THE 100-TB prefilter shape: the
    filter rides into every task as a plan literal and drops rows
    map-side before any expensive join (:func:`bloom_probe` is the
    relational twin for when the probe side needs per-row sketch
    columns). False positives pass (bounded rate); members always
    pass (no false negatives).

    The packed table rides as ``F.lit(list)``, which Spark analyzes to
    a ``CreateArray`` of m/64 scalar literals, the same expression as
    an element-wise ``F.array``. The decontamination speedup measured
    in the r14 optimization round came from restructuring its caller
    into a single pass (one shingle array per document feeding both
    the size count and the filtered gram stream, one join instead of
    two), not from the literal's form."""
    words_lit = F.lit([int(w) for w in words])
    out = None
    for s in range(k):
        pos = _bucket(key, s, m_bits, salt)
        word = F.element_at(words_lit, (pos / 64).cast("int") + 1)
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")
        )
        test = word.bitwiseAND(bit) != 0
        out = test if out is None else (out & test)
    return out


def cms_estimate(
    cells: DataFrame,
    probes: DataFrame,
    key_col: str,
    *,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    salt: str = CMS_SALT,
) -> DataFrame:
    """Point-estimate each probe key: min over its depth cells.

    EVERY ``probes`` row passes through exactly once with an ``est_n``
    column appended (duplicate probe rows are preserved via an internal
    per-row id); the sketch side is broadcast (depth*width rows). The
    sketch is stored sparsely — cells no input key hashed into are
    absent — so the join is a LEFT join with absent counts coalesced to
    0: a probe key the build stream never saw estimates 0 (the true CMS
    estimate for an empty cell), and a key with a mix of empty and
    non-empty cells takes its min over all ``depth`` cells, empty ones
    included. Internal columns are ``__cms_``-prefixed so probe frames
    that already carry ``seed``/``bucket``/``p`` columns join cleanly.
    """
    cells_k = F.broadcast(
        cells.select(
            F.col("seed").alias("__cms_seed"),
            F.col("bucket").alias("__cms_bucket"),
            F.col("c").alias("__cms_c"),
        )
    )
    probed = probes.withColumn(
        "__cms_rid", F.monotonically_increasing_id()
    ).select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("int").alias("seed"),
                        _bucket(F.col(key_col), s, width, salt)
                        .cast("int")
                        .alias("bucket"),
                    )
                    for s in range(depth)
                ]
            )
        ).alias("__cms_p"),
    ).select(
        "*",
        F.col("__cms_p.seed").alias("__cms_seed"),
        F.col("__cms_p.bucket").alias("__cms_bucket"),
    )
    out_cols = [c for c in probes.columns]
    return (
        probed.join(cells_k, ["__cms_seed", "__cms_bucket"], "left")
        .groupBy("__cms_rid", *out_cols)
        .agg(F.min(F.coalesce(F.col("__cms_c"), F.lit(0))).alias("est_n"))
        .drop("__cms_rid")
    )


SAMPLE_K = 2048


def sample_sketch(
    df: DataFrame,
    value_col: str,
    key_cols: list[str],
    *,
    k: int = SAMPLE_K,
    salt: str = "qsk",
) -> DataFrame:
    """Bottom-k-by-hash row sample — the DISTRIBUTION sketch that
    completes the family (CMS counts, HLL/KMV cardinality, Bloom
    membership): ``k`` rows drawn uniformly without replacement by
    keeping the rows whose salted 60-bit md5 of the unique row key
    hashes smallest. Deterministic (the hash is the randomness), so a
    DuckDB oracle replays the exact sample; mergeable exactly like KMV
    (concatenate sketches, re-limit to the k smallest hashes), so
    partitions/micro-batches fold without ever shipping the stream.

    Rank estimation: for a sample of size ``m`` out of ``n`` rows, the
    value at sample-rank ``ceil(q*m)`` estimates the q-quantile with
    rank error O(sqrt(q(1-q)/m)) (DKW); ``m = min(k, n)`` and an
    unfull sketch is EXACT. Unlike
    :func:`~cdk_dynamodb_cdc_spark.operators.quantiles.exact_quantiles_two_pass`
    (two scans, exact), this is ONE scan-shaped pass whose per-partition
    partial keeps <= k rows (TakeOrderedAndProject) — the lane for
    streaming accumulation and for profiling many columns in one job.

    Output: ``(h, v)`` rows, ``h`` the sample hash (merge key), ``v``
    the sampled value. Rows with NULL values are excluded upstream of
    sampling so m counts real observations.
    """
    h = token_hash60(
        F.concat(
            F.lit(f"{salt}:"),
            *sum(
                (
                    [F.col(c).cast("string"), F.lit("|")]
                    for c in key_cols
                ),
                [],
            ),
        )
    )
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(h.alias("h"), F.col(value_col).alias("v"))
        .orderBy("h", "v")
        .limit(k)
    )


def sample_quantile_targets(
    sketch: DataFrame,
    qs: list[tuple[str, int, int]],
) -> DataFrame:
    """Quantile estimates from a :func:`sample_sketch`: one row
    ``(q, est_value, est_rank_ppm)`` per requested quantile.

    ``qs`` entries are ``(label, num, den)`` RATIONALS; the pick is the
    sample value at value-rank ``max(1, ceil(num*m/den))`` — exact
    integer arithmetic on ``m``, the float q never touches a decision
    (same discipline as the exact weighted-quantile operator). The
    ranking window runs over the <= k sampled rows (bounded, single
    partition by construction — this is driver-scale data kept
    distributed only to stay in the plan).
    """
    spark = sketch.sparkSession
    tq = F.broadcast(
        spark.createDataFrame(qs, "q string, num long, den long")
    )
    m = sketch.agg(F.count(F.lit(1)).alias("m"))
    ranked = sketch.withColumn(
        "rn", F.row_number().over(Window.orderBy("v", "h"))
    )
    pos = F.greatest(
        F.lit(1).cast("long"),
        F.expr("(num * m + den - 1) DIV den"),
    )
    return (
        tq.crossJoin(F.broadcast(m))
        .withColumn("pos", pos)
        .join(ranked, F.col("rn") == F.col("pos"))
        .select(
            "q",
            F.col("v").alias("est_value"),
            F.expr("(rn * CAST(1000000 AS BIGINT)) DIV m")
            .cast("long")
            .alias("est_rank_ppm"),
        )
    )


def sample_sketch_grouped(
    df: DataFrame,
    value_col: str,
    key_cols: list[str],
    group_cols: list[str],
    *,
    k: int = SAMPLE_K,
    salt: str = "qsk",
) -> DataFrame:
    """Per-group :func:`sample_sketch`: the k smallest-by-hash rows
    WITHIN each group — one (h, v) row set per group key, same
    mergeability. The rank filter over the per-group hash order is
    the WindowGroupLimit shape (Spark 3.5+ rewrites rank <= k into a
    per-partition partial limit before the shuffle), so no group ever
    materializes beyond k rows per partition — the same plan
    discipline as every top-k lane in this engine. Use it to profile
    a measure across partitions/dates/tenants in one pass.
    """
    h = token_hash60(
        F.concat(
            F.lit(f"{salt}:"),
            *sum(
                (
                    [F.col(c).cast("string"), F.lit("|")]
                    for c in key_cols
                ),
                [],
            ),
        )
    )
    w = Window.partitionBy(*group_cols).orderBy("h", "v")
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(
            *group_cols,
            h.alias("h"),
            F.col(value_col).alias("v"),
        )
        .withColumn("__sk_rn", F.row_number().over(w))
        .filter(F.col("__sk_rn") <= k)
        .drop("__sk_rn")
    )


def sample_quantile_targets_grouped(
    sketch: DataFrame,
    group_cols: list[str],
    qs: list[tuple[str, int, int]],
) -> DataFrame:
    """Per-group quantile estimates from
    :func:`sample_sketch_grouped`: one row
    ``(*group_cols, q, est_value, est_rank_ppm)`` per (group,
    quantile). Identical integer rank arithmetic to the global
    variant; the value-ranking window runs over <= k rows per group.
    """
    spark = sketch.sparkSession
    tq = F.broadcast(
        spark.createDataFrame(qs, "q string, num long, den long")
    )
    m = sketch.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("m"))
    wv = Window.partitionBy(*group_cols).orderBy("v", "h")
    ranked = sketch.withColumn("rn", F.row_number().over(wv))
    pos = F.greatest(
        F.lit(1).cast("long"),
        F.expr("(num * m + den - 1) DIV den"),
    )
    return (
        m.crossJoin(tq)
        .withColumn("pos", pos)
        .join(ranked, group_cols)
        .filter(F.col("rn") == F.col("pos"))
        .select(
            *group_cols,
            "q",
            F.col("v").alias("est_value"),
            F.expr("(rn * CAST(1000000 AS BIGINT)) DIV m")
            .cast("long")
            .alias("est_rank_ppm"),
        )
    )


def cms_join_size(cells_a: DataFrame, cells_b: DataFrame) -> DataFrame:
    """Join-size estimation from two count-min sketches (Cormode &
    Muthukrishnan 2005, §4.2): est = min over hash rows of the cell
    inner product Σ_bucket cA·cB, which estimates |A ⋈ B| =
    Σ_key fA(key)·fB(key). Both sketches must share depth/width/salt.

    Deterministic no-underestimate contract: within one row every true
    key pair lands in SOME common bucket, so each row's inner product
    >= the true join size and therefore so does the min — the
    bound the registered query checks. The sketches are depth×width
    rows regardless of input size, so the estimate costs a
    sketch-sized join — the point: size a shuffle join (or a self-join
    skew blowup) BEFORE paying for it. Missing cells are zero and
    contribute nothing, so the inner join over present cells is exact.

    Returns one row: ``est_join_size``.
    """
    j = cells_a.alias("a").join(
        cells_b.alias("b"),
        (F.col("a.seed") == F.col("b.seed"))
        & (F.col("a.bucket") == F.col("b.bucket")),
    )
    per_seed = j.groupBy(F.col("a.seed").alias("seed")).agg(
        F.sum(F.col("a.c") * F.col("b.c")).alias("ip")
    )
    return per_seed.agg(
        F.min("ip").cast("long").alias("est_join_size")
    )
