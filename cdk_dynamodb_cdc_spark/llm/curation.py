"""Training-corpus curation operators: decontamination, sequence
packing, and stratified sampling (SURVEY.md §2C extension — the steps
between "deduped corpus" and "training batches").

Scale shapes:

* decontaminate — the eval/benchmark side is CONTRACTUALLY small (a
  fixed benchmark suite, not a corpus slice), so its distinct-gram set
  carries a broadcast hint like the vector query set; the corpus side
  streams map-side through one semi-style join on the gram hash.
* pack_sequences — contiguous fill packing (the GPT-style pretraining
  concat order): one window cumsum over a deterministic document
  order, pack id = starting token offset // budget. No driver loop —
  first-fit-DECREASING would be inherently sequential; contiguous fill
  is what large-scale packers actually run because it preserves
  locality and is embarrassingly parallel.
* stratified_sample — per-stratum deterministic top-N by a salted
  md5 of the key: reproducible across engines and runs (no RNG
  state), one window per stratum, rank <= N.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cdk_dynamodb_cdc_spark.llm.dedup import word_shingles
from cdk_dynamodb_cdc_spark.llm.text import tokens

DECONTAM_GRAM_WORDS = 8


def decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DECONTAM_GRAM_WORDS,
) -> DataFrame:
    """Per-document benchmark-overlap report: how many distinct word
    k-grams of each corpus document also occur anywhere in the eval
    set. A training pipeline drops (or flags) any document with
    n_shared_grams > 0 so benchmark answers can't leak into training.

    Returns (id_col, n_grams, n_shared_grams) — one row per corpus
    document (``id_col`` is assumed unique per document, the corpus
    PK contract), including zero-overlap ones, so the caller can both
    filter and report contamination rates.

    Single-pass shape (r14 optimization round): the corpus is shingled
    ONCE — the gram array is materialized in one projection and feeds
    both ``n_grams`` (its size) and the exploded gram stream — and the
    per-document overlap count comes from one groupBy over a broadcast
    LEFT join with a hit indicator, instead of the previous
    two-shingle-pass shape (inner-join aggregate + corpus-keyed
    join-back), which scanned and re-shingled the corpus twice and
    paid an extra corpus-sized join."""
    grams = word_shingles(F.col(text_col), k)
    eval_grams = (
        eval_set.select(F.explode(grams).alias("gram")).distinct()
    )
    hit = F.broadcast(
        eval_grams.select("gram", F.lit(1).alias("__hit"))
    )
    per_gram = corpus.select(
        F.col(id_col), grams.alias("__grams")
    ).select(
        id_col,
        F.size("__grams").alias("n_grams"),
        # explode_outer keeps zero-gram and NULL-text documents (one
        # NULL-gram row each) so every document reaches the groupBy
        F.explode_outer("__grams").alias("gram"),
    )
    return (
        per_gram.join(hit, "gram", "left")
        .groupBy(id_col, "n_grams")
        .agg(
            F.count_distinct(
                F.when(F.col("__hit") == 1, F.col("gram"))
            ).alias("n_shared_grams")
        )
        .select(
            id_col,
            "n_grams",
            F.col("n_shared_grams").cast("long").alias("n_shared_grams"),
        )
    )


def decontaminate_bloom(
    corpus: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DECONTAM_GRAM_WORDS,
    m_bits: int = 1 << 16,
    n_hashes: int = 4,
) -> DataFrame:
    """:func:`decontaminate` with a Bloom PREFILTER — the shape that
    survives when even the distinct eval gram set outgrows a
    broadcast-join hash table: broadcast only the KB-to-MB bit table,
    drop the (vast) majority of corpus grams map-side, and run the
    exact gram join on the survivors alone. The Bloom theorem (no
    false negatives) makes this IDENTICAL to the exact operator —
    false positives only cost candidate volume, and the exact verify
    join removes them — which the registered query pins by sharing
    :func:`decontaminate`'s oracle.

    Returns the same ``(id_col, n_grams, n_shared_grams)`` frame.
    """
    from cdk_dynamodb_cdc_spark.functions.sketches import (
        bloom_bits,
        bloom_contains,
        bloom_words,
    )

    grams = word_shingles(F.col(text_col), k)
    eval_grams = (
        eval_set.select(F.explode(grams).alias("gram")).distinct()
    )
    words = bloom_words(
        bloom_bits(eval_grams, "gram", m_bits=m_bits, k=n_hashes),
        m_bits=m_bits,
    )
    hit = F.broadcast(
        eval_grams.select("gram", F.lit(1).alias("__hit"))
    )
    # Single corpus pass (r14, same restructure as :func:`decontaminate`):
    # the gram array is materialized once per document and feeds both
    # n_grams and the candidate stream; the Bloom prefilter drops
    # non-candidate grams INSIDE the array (map-side, the packed filter
    # riding as a plan literal — no shuffle, no join) before the
    # explode, so only plausible grams become rows at all.
    pred = lambda g: bloom_contains(  # noqa: E731
        words, g, m_bits=m_bits, k=n_hashes
    )
    per_gram = corpus.select(
        F.col(id_col), grams.alias("__grams")
    ).select(
        id_col,
        F.size("__grams").alias("n_grams"),
        # explode_outer of the FILTERED array: zero-candidate documents
        # survive as one NULL-gram row, so every document reaches the
        # groupBy with its n_grams
        F.explode_outer(F.filter("__grams", pred)).alias("gram"),
    )
    return (
        per_gram.join(hit, "gram", "left")
        .groupBy(id_col, "n_grams")
        .agg(
            F.count_distinct(
                F.when(F.col("__hit") == 1, F.col("gram"))
            ).alias("n_shared_grams")
        )
        .select(
            id_col,
            "n_grams",
            F.col("n_shared_grams").cast("long").alias("n_shared_grams"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    order_col: str | None = None,
    shard_col: str | None = None,
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Assign each document to a training pack: documents are laid out
    in a deterministic order and concatenated; a document belongs to
    the pack where its first token lands (pack = start_offset //
    budget). Contiguous fill — documents longer than the budget span
    packs and are flagged for the caller to split or drop.

    ``shard_col`` partitions the packing (pack ids are per-shard): a
    single global order is a one-partition window — fine for a
    driver-sized corpus slice, wrong at 100 TB. Production packing is
    per shard/source, which keeps every window partition
    executor-sized and embarrassingly parallel.

    Returns (shard?, id_col, n_tokens, start_offset, pack_id,
    spans_packs).

    ``n_tokens_col`` uses a PRECOMPUTED per-document token count
    instead of the whitespace tokenizer — the hook that makes packing
    TOKENIZER-EXACT when composed with a trained tokenizer (e.g.
    ``bpe_token_stats``'s per-word symbol counts joined per doc)."""
    order = F.col(order_col) if order_col else F.col(id_col)
    n_tokens = (
        F.col(n_tokens_col)
        if n_tokens_col
        else F.size(tokens(F.col(text_col)))
    )
    w = (
        Window.partitionBy(shard_col).orderBy(order)
        if shard_col
        else Window.orderBy(order)
    )
    keep = ([shard_col] if shard_col else []) + [id_col]
    sized = docs.select(*keep, n_tokens.alias("n_tokens"))
    # cumsum up to and including this doc, then subtract own length:
    # the token offset (within the shard) where this document starts.
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_offset")
    out = sized.select(*keep, "n_tokens", start)
    return out.select(
        *keep,
        "n_tokens",
        "start_offset",
        F.floor(F.col("start_offset") / budget).cast("long").alias("pack_id"),
        (
            F.floor((F.col("start_offset") + F.col("n_tokens") - 1) / budget)
            > F.floor(F.col("start_offset") / budget)
        ).alias("spans_packs"),
    )


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    n_per_stratum: int,
    id_col: str = "doc_id",
    salt: str = "split-0",
) -> DataFrame:
    """Deterministic per-stratum sample: the n_per_stratum rows with
    the smallest md5(salt || id) per stratum. Reproducible across
    engines/runs/partitionings (no RNG state — the same discipline as
    the train/val/test hash split), and changing `salt` draws an
    independent sample.

    Returns the sampled rows: (stratum_col, id_col, sample_rank)."""
    key = F.md5(F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string")))
    w = Window.partitionBy(stratum_col).orderBy(key, F.col(id_col))
    return (
        df.select(F.col(stratum_col), F.col(id_col))
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n_per_stratum)
    )


WEIGHTED_SAMPLE_SALT = "wsample-0"
_U48 = float(1 << 48)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    n: int,
    *,
    key_col: str = "doc_id",
    salt: str = WEIGHTED_SAMPLE_SALT,
    log_weight: bool = False,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-ES): each row draws u from a salted md5 of
    its key (the first 48 hex-derived bits, +1, over 2^48 — exact
    dyadic division, so u is bit-identical on any engine), scores
    r = -ln(u) / weight, and the n SMALLEST r win — inclusion odds
    proportional to weight, zero RNG state, reproducible across
    engines, runs, and partitionings; a different salt draws an
    independent sample.

    Scale shape: the sort-limit compiles to TakeOrderedAndProject —
    per-partition partial top-n, then an n-row merge — never a global
    sort. The classic streaming-reservoir formulation needs sequential
    state; the score-and-top-n form is the embarrassingly parallel
    equivalent (same distribution), which is why it is the one
    distributed pipelines run.

    ``log_weight=True`` reads ``weight_col`` as a LOG weight and
    scores ``r = ln(-ln(u)) - w`` — identical ordering to
    ``-ln(u) / exp(w)`` (``ln`` is monotone and ``-ln(u) > 0``) with
    no ``exp`` overflow/underflow for large ``|w|``; inclusion odds
    are proportional to ``exp(w)``. This is the lane importance
    resamplers (DSIR) ride, where weights live in log space.
    """
    h = F.expr(
        f"cast(conv(substring(md5(concat('{salt}:', "
        f"cast({key_col} as string))), 1, 12), 16, 10) as bigint)"
    )
    u = (h + F.lit(1)).cast("double") / F.lit(_U48)
    if log_weight:
        r = F.log(-F.log(u)) - F.col(weight_col).cast("double")
    else:
        r = -F.log(u) / F.col(weight_col).cast("double")
    return (
        df.select(key_col, weight_col, *extra_cols, r.alias("r"))
        .orderBy(F.col("r").asc(), F.col(key_col))
        .limit(n)
        .select(key_col, weight_col, *extra_cols)
    )


def weighted_sample_per_group(
    df: DataFrame,
    weight_col: str,
    n_per_group: int,
    *,
    group_cols: tuple[str, ...],
    key_col: str = "doc_id",
    salt: str = WEIGHTED_SAMPLE_SALT,
    log_weight: bool = False,
) -> DataFrame:
    """Group-wise Efraimidis–Spirakis: an independent deterministic
    weighted sample of ``n_per_group`` rows WITHIN each group — the
    per-source / per-language data-budget draw a corpus mixer runs
    (each domain contributes its own weighted sample, not a share of
    one global draw). Same u / score arithmetic as
    :func:`weighted_sample`; the global sort-limit becomes a per-group
    rank, which Spark executes as a window-group-limit (map-side
    partial top-n per group), never a global sort."""
    h = F.expr(
        f"cast(conv(substring(md5(concat('{salt}:', "
        f"cast({key_col} as string))), 1, 12), 16, 10) as bigint)"
    )
    u = (h + F.lit(1)).cast("double") / F.lit(_U48)
    if log_weight:
        r = F.log(-F.log(u)) - F.col(weight_col).cast("double")
    else:
        r = -F.log(u) / F.col(weight_col).cast("double")
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("__aes_r").asc(), F.col(key_col)
    )
    return (
        df.select(*group_cols, key_col, weight_col, r.alias("__aes_r"))
        .withColumn("__aes_rk", F.row_number().over(w))
        .filter(F.col("__aes_rk") <= n_per_group)
        .select(*group_cols, key_col, weight_col)
    )


MIX_SALT = "mix-0"


def source_temperature_plan(
    docs: DataFrame,
    *,
    source_col: str = "source",
    tau: float = 0.5,
    target_frac: float = 0.5,
) -> DataFrame:
    """Per-source keep rates for TEMPERATURE-BASED corpus mixing:
    sampled counts proportional to ``n_s ** tau`` (tau < 1 upweights
    small sources, tau = 1 is natural proportions — the mixture rule
    multilingual/multi-domain training corpora use), scaled so the
    expected kept total is ``target_frac`` of the corpus, with
    per-source rates capped at 1 (a capped source simply contributes
    everything it has).

    Returns ``(source, n_docs, keep_millionths)`` where
    ``keep_millionths`` is the keep probability in integer millionths
    — integer thresholds make the downstream hash filter exact and
    engine-portable (no float comparison at the row level).

    Determinism: the normalizer sum(n_s ** tau) is accumulated in
    DECIMAL(28,10) (order-independent, bit-identical on any engine /
    partitioning), then the per-source arithmetic is a fixed scalar
    double expression.

    Scale: one count per source (map-side combinable), a 1-row global
    aggregate broadcast back — no shuffle of the corpus itself.
    """
    counts = docs.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    pw = F.pow(F.col("n_docs").cast("double"), F.lit(tau))
    z = counts.agg(
        F.sum(pw.cast("decimal(28,10)")).cast("double").alias("z"),
        F.sum("n_docs").alias("n_total"),
    )
    p = F.least(
        F.lit(1.0),
        (F.col("n_total") * F.lit(target_frac))
        * (pw / F.col("z"))
        / F.col("n_docs").cast("double"),
    )
    return counts.crossJoin(F.broadcast(z)).select(
        source_col,
        "n_docs",
        F.floor(p * F.lit(1_000_000)).cast("long").alias(
            "keep_millionths"
        ),
    )


def temperature_mix(
    docs: DataFrame,
    *,
    key_col: str = "doc_id",
    source_col: str = "source",
    tau: float = 0.5,
    target_frac: float = 0.5,
    salt: str = MIX_SALT,
) -> DataFrame:
    """Filter ``docs`` to the temperature-mixed subsample: a document
    survives iff its salted 60-bit hash, reduced mod 1e6, falls under
    its source's ``keep_millionths`` rate from
    :func:`source_temperature_plan`. Deterministic (no RNG state),
    reproducible across engines/runs/partitionings, and a different
    salt draws an independent mixture — the same discipline as
    :func:`weighted_sample`.

    Scale: the plan side is sources-sized (broadcast); the corpus is
    filtered map-side in one pass."""
    from cdk_dynamodb_cdc_spark.llm.text import token_hash60

    plan = source_temperature_plan(
        docs, source_col=source_col, tau=tau, target_frac=target_frac
    )
    h = token_hash60(
        F.concat(
            F.lit(f"{salt}:"), F.col(key_col).cast("string")
        )
    )
    return docs.join(F.broadcast(plan), source_col).filter(
        (h % F.lit(1_000_000)) < F.col("keep_millionths")
    )


DSIR_BUCKETS = 1024


def dsir_importance(
    corpus: DataFrame,
    target: DataFrame,
    *,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
    score every corpus document by how much more likely its hashed
    n-gram features are under the TARGET distribution than under the
    raw corpus distribution; documents with positive log importance
    weight look more target-like than corpus-like and are the ones an
    importance resampler keeps.

    Features are word unigrams + bigrams hashed into ``n_buckets``
    buckets (the paper's hashed generative model). Both bucket
    distributions are add-one smoothed:

        lambda_b = ln(ct_b + 1) - ln(Nt + B) - ln(cr_b + 1) + ln(Nr + B)

    and a document's log weight is the multiplicity-weighted sum of
    ``lambda`` over its feature occurrences.

    Determinism discipline (same as llm/quality_lm.py): the per-doc sum
    folds the (ct, cr) integer pairs in integer order so both engines
    add identical values in identical order; callers compare DECISIONS
    (``kept`` = weight >= 0) and integer feature counts, never raw
    floats.

    Returns ``(key, n_feats, kept)``. (:func:`dsir_log_weights`
    exposes the raw log weight ``w`` for the resampling step.)

    Scale shape: bucket tables are B-sized (broadcast); the corpus is
    exploded once and aggregated map-side by (doc, bucket) — one
    corpus-linear shuffle keyed by the doc, nothing quadratic, no
    Python in the plan.
    """
    per_doc = dsir_log_weights(
        corpus,
        target,
        key_col=key_col,
        text_col=text_col,
        n_buckets=n_buckets,
    )
    return per_doc.select(
        "key",
        "n_feats",
        (F.col("w") >= F.lit(0.0)).alias("kept"),
    )


def dsir_log_weights(
    corpus: DataFrame,
    target: DataFrame,
    *,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Per-document DSIR log importance weights ``(key, n_feats, w)``
    — the quantity :func:`dsir_importance` thresholds and
    :func:`dsir_resample` samples by. Same plan, same integer-ordered
    fold determinism."""
    from cdk_dynamodb_cdc_spark.llm.text import token_hash60

    def feats(df: DataFrame, *cols: str) -> DataFrame:
        ws = df.select(*cols, F.split(F.col(text_col), " ").alias("ws"))
        grams = F.concat(
            F.col("ws"),
            F.expr(
                "transform(slice(ws, 1, size(ws) - 1), "
                "(w, i) -> concat(w, ' ', ws[i + 1]))"
            ),
        )
        return ws.select(
            *cols, F.explode(grams).alias("g")
        ).select(*cols, (token_hash60(F.col("g")) % n_buckets).alias("b"))

    fb = feats(corpus, key_col)
    tb = feats(target)
    raw = fb.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    tgt = tb.groupBy("b").agg(F.count(F.lit(1)).alias("ct"))
    tot = raw.agg(F.sum("cr").alias("nr")).crossJoin(
        tb.agg(F.count(F.lit(1)).alias("nt"))
    )
    per_pair = (
        fb.join(F.broadcast(raw), "b")
        .join(F.broadcast(tgt), "b", "left")
        .select(
            key_col,
            F.coalesce("ct", F.lit(0)).cast("long").alias("ct"),
            F.col("cr"),
        )
        .groupBy(key_col, "ct", "cr")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(tot))
    )
    lam = (
        F.log((F.col("ct") + 1).cast("double"))
        - F.log((F.col("nt") + n_buckets).cast("double"))
        - F.log((F.col("cr") + 1).cast("double"))
        + F.log((F.col("nr") + n_buckets).cast("double"))
    )
    per_doc = (
        per_pair.select(
            key_col,
            "ct",
            "cr",
            (F.col("n").cast("double") * lam).alias("term"),
            "n",
        )
        .groupBy(key_col)
        .agg(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("ct", "cr", "term"))),
                F.lit(0.0),
                lambda acc, x: acc + x["term"],
            ).alias("w"),
            F.sum("n").alias("n_feats"),
        )
    )
    return per_doc.select(
        F.col(key_col).alias("key"),
        F.col("n_feats"),
        F.col("w"),
    )


def dsir_resample(
    corpus: DataFrame,
    target: DataFrame,
    n: int,
    *,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
    salt: str = WEIGHTED_SAMPLE_SALT,
) -> DataFrame:
    """DSIR's SECOND step, the actual resampler (Xie et al. 2023 §2):
    draw ``n`` documents without replacement with probability
    proportional to ``exp(w)`` — not merely the ``w >= 0`` keep bit.
    Pure composition: :func:`dsir_log_weights` supplies the log
    weights, :func:`weighted_sample` (A-ES) in its log-weight lane
    draws the sample — deterministic (salted-hash u, no RNG state),
    reproducible across engines and partitionings.

    Returns ``(key, n_feats, w)`` for the ``n`` sampled documents.

    Scale shape: inherits dsir_log_weights' one corpus-linear doc-
    keyed shuffle, then A-ES's TakeOrderedAndProject partial top-n —
    no global sort, no new corpus pass.
    """
    weights = dsir_log_weights(
        corpus,
        target,
        key_col=key_col,
        text_col=text_col,
        n_buckets=n_buckets,
    )
    return weighted_sample(
        weights,
        "w",
        n,
        key_col="key",
        salt=salt,
        log_weight=True,
        extra_cols=("n_feats",),
    )


EPOCH_SALT = "epoch"


def epoch_shards(
    docs: DataFrame,
    *,
    key_col: str = "doc_id",
    n_shards: int = 8,
    epoch: int = 0,
    salt: str = EPOCH_SALT,
) -> DataFrame:
    """Deterministic training-order assignment: every document gets a
    ``(shard, position)`` for the given epoch, from a salted hash —
    the distributed equivalent of "shuffle the corpus and split it
    into worker files", with no RNG state: any engine, any
    partitioning, any rerun produces the identical order, and a
    different epoch (salt input) draws an independent permutation.

    Shape: shard = hash % n_shards routes documents; position ranks
    WITHIN each shard by the remaining hash bits — per-shard window
    functions, never a global sort (the all-in-one ORDER BY hash
    formulation serializes the corpus through one sort at 100 TB;
    sharding first keeps every sort partition-local, which is also
    exactly the file layout a training job wants to read).
    """
    from cdk_dynamodb_cdc_spark.llm.text import token_hash60

    h = token_hash60(
        F.concat(
            F.lit(f"{salt}-{epoch}:"), F.col(key_col).cast("string")
        )
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("shard").orderBy("h", key_col)
    return (
        docs.select(
            key_col,
            (h % n_shards).cast("int").alias("shard"),
            h.alias("h"),
        )
        .withColumn("position", F.row_number().over(w))
        .select(key_col, "shard", "position")
    )


def budget_select(
    scored: DataFrame,
    *,
    budget: int,
    key_col: str = "doc_id",
    score_col: str = "score",
    token_col: str = "n_tokens",
) -> DataFrame:
    """Budget-constrained greedy selection: take documents in
    (score desc, key asc) order while the cumulative token count stays
    within ``budget`` (a document is selected iff the cumulative sum
    INCLUDING it is <= budget) — the "best data under a token budget"
    step of corpus curation (data-selection literature's top-k-by-
    quality at a fixed training budget).

    The textbook formulation is a GLOBAL ordered cumulative sum — a
    full-corpus sort, the shape to avoid at 100 TB. This runs it as
    threshold refinement instead (the two-pass exact-quantile
    discipline): one per-score aggregation (driver receives <=
    |distinct scores| rows — scores are small-integer quality
    composites, a bounded domain by construction) locates the boundary
    score s* and the residual budget inside it; the second pass takes
    every document scoring above s* with a plain filter and resolves
    only the s* group through a key-ordered cumulative window — one
    score group sorted, never the corpus. Output: the selected rows
    ``(key, score, n_tokens)``, bit-identical to the global greedy.
    """
    per_score = (
        scored.groupBy(score_col)
        .agg(F.sum(token_col).alias("toks"))
        .collect()
    )
    remaining = budget
    s_star = None
    for row in sorted(per_score, key=lambda r: r[score_col], reverse=True):
        if row["toks"] <= remaining:
            remaining -= row["toks"]
        else:
            s_star = row[score_col]
            break
    base = scored.select(key_col, score_col, token_col)
    if s_star is None:
        # every score group fits: the whole corpus is within budget
        return base
    above = base.filter(F.col(score_col) > s_star)
    w = Window.partitionBy(score_col).orderBy(key_col)
    boundary = (
        base.filter(F.col(score_col) == s_star)
        .withColumn("__cum", F.sum(token_col).over(w))
        .filter(F.col("__cum") <= remaining)
        .drop("__cum")
    )
    return above.unionByName(boundary)
