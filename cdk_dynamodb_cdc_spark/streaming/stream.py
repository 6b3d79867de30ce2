"""Structured Streaming CDC consumer (reference operator A1 + §2B
streaming rows).

The reference is a *stream* processor: a Lambda subscribed to a
DynamoDB change stream (`/root/reference/lib/constructs/dynamo.ts:153-155,193`
— `DynamoEventSource`, `StartingPosition.LATEST`, NEW_AND_OLD_IMAGES
view at `dynamo.ts:69`). This module holds the Spark-native sources
and stateful stream operators; the record -> event stream itself is
`CdcPipeline.run_stream` (api.py), which runs the batch-tested record
transform per micro-batch via `foreachBatch`, configured by the same
pipeline as the batch lane:

    read_cdc_stream     — `readStream` over a file/CDC-record source
                          (A1; `latest` start maps to processing only
                          files arriving after stream start, `trim_horizon`
                          to reading the backlog)
    initialize_latest_checkpoint — commit the backlog into a fresh
                          checkpoint without reading it (zero-scan
                          `latest` start; read_cdc_stream calls it on
                          first subscription when given the checkpoint)
    dedup_within_watermark — at-least-once -> exactly-once semantics on
                          a keyed stream (`dropDuplicatesWithinWatermark`)
    windowed_change_counts — event-time tumbling-window aggregation with
                          watermarked late-data handling
    maintain_snapshot_stream — materialized-table maintenance: per-batch
                          winner per key upserted into a bucket-
                          partitioned parquet state store (dynamic
                          partition overwrite of touched buckets only)

Exactly-once story (`run_stream`): the checkpoint tracks source
offsets per micro batch; the main sink writes `batch_id=<n>` partitions
with DYNAMIC partition overwrite (a per-write option; the session conf
is never touched), so a replayed batch overwrites its own partition instead of
appending duplicates; the claim-check side store does the same under
`dt=<d>/batch_id=<n>` partitions and is written first, so a committed
event never points at a missing blob. Both are projections of one read
of the micro-batch. This is the standard file-sink exactly-once recipe
when a transactional table format isn't available.

Scale: the pipeline transform is shuffle-free (see operators/pipeline.py)
so each micro-batch is embarrassingly parallel; stateful operators
(dedup, windows) shuffle on their keys with state pruned by watermark —
state size is bounded by (keys active within the watermark horizon).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from cdk_dynamodb_cdc_spark.schemas import CDC_RECORD_SCHEMA


def initialize_latest_checkpoint(
    spark: SparkSession, source_path: str, checkpoint_path: str
) -> None:
    """Commit the current backlog of `source_path` into
    `checkpoint_path` WITHOUT reading a byte of it.

    One `availableNow` pass whose foreachBatch does nothing: the file
    source lists the backlog and writes its offsets/commit logs, but no
    action ever touches the batch DataFrame, so zero Spark jobs run and
    hence zero rows are scanned (pytest pins this via the status
    tracker). A streaming query started afterwards on the SAME
    checkpoint resumes past the backlog at source level — `latest`
    semantics at zero backlog-scan cost, the shape a 100 TB backlog
    needs (the listing itself is one metadata pass, same as any
    subscription).
    """
    records = spark.readStream.schema(CDC_RECORD_SCHEMA).json(source_path)
    q = (
        records.writeStream.foreachBatch(lambda df, batch_id: None)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def parse_cdc_kafka_records(raw: DataFrame) -> DataFrame:
    """Decode a Kafka-shaped frame (binary ``value``, plus
    ``partition``/``offset``) into CDC_RECORD_SCHEMA rows.

    The wire format is the same JSON the file lane reads — one record
    per message. Kafka's per-partition order backs the per-key `seq`
    contract the same way shard order does in the reference
    (`dynamo.ts:153-155`): a producer keyed by `pk` lands each item's
    changes in one partition, in order. Pure Column logic, shared by
    the streaming lane and this function's batch-DataFrame tests.
    """
    return raw.select(
        F.from_json(
            F.col("value").cast("string"), CDC_RECORD_SCHEMA
        ).alias("r")
    ).select("r.*")


def read_cdc_kafka_stream(
    spark: SparkSession,
    *,
    bootstrap_servers: str,
    topic: str,
    starting_position: str = "latest",
) -> DataFrame:
    """A1 over a SEEKABLE source: subscribe to a Kafka topic of CDC
    records. `latest` maps directly to `startingOffsets=latest` — the
    broker seeks past the backlog, so unlike the file lane there is no
    checkpoint-initialization pass and no listing cost at all;
    `trim_horizon` maps to `earliest`.

    Requires the spark-sql-kafka connector jars, which this container
    does not ship — the source lookup fails at `.load()` and is
    re-raised with guidance (documented environment stub, pytest-
    pinned). The value-decoding logic is
    :func:`parse_cdc_kafka_records`, which IS tested, on batch frames
    of Kafka shape.
    """
    if starting_position not in ("latest", "trim_horizon"):
        raise ValueError(
            f"starting_position must be 'latest' or 'trim_horizon', "
            f"got {starting_position!r}"
        )
    offsets = "latest" if starting_position == "latest" else "earliest"
    try:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", offsets)
            .load()
        )
    except Exception as exc:
        raise ModuleNotFoundError(
            "read_cdc_kafka_stream needs the spark-sql-kafka connector "
            "(absent in this environment); add the "
            "org.apache.spark:spark-sql-kafka-0-10 package to the "
            "session, or use the file lane (read_cdc_stream) whose "
            "checkpoint-initialized 'latest' gives the same semantics"
        ) from exc
    return parse_cdc_kafka_records(raw)


def read_cdc_stream(
    spark: SparkSession,
    source_path: str,
    *,
    starting_position: str = "latest",
    max_files_per_trigger: int | None = None,
    checkpoint_path: str | None = None,
) -> DataFrame:
    """A1: subscribe to a CDC record stream (JSON files arriving in
    `source_path`, one record per line, CDC_RECORD_SCHEMA).

    `starting_position="latest"` mirrors the reference's
    `StartingPosition.LATEST` (`dynamo.ts:154,193`): records that
    existed BEFORE subscription never reach the pipeline. Two cuts:

    * With `checkpoint_path` (pass the SAME path to
      ``CdcPipeline.run_stream``): on FIRST subscription — no checkpoint
      on disk yet — the backlog is committed into the checkpoint by
      :func:`initialize_latest_checkpoint` without being read, and the
      returned stream carries no row filter; the source itself skips
      the backlog. On restart (checkpoint exists) initialization is
      skipped entirely, so files that arrived while the consumer was
      down are still delivered — re-initializing would silently mark
      them consumed.
    * Without `checkpoint_path` (portable fallback): records the
      subscription time and drops rows from files whose
      `_metadata.file_modification_time` predates it — backlog files
      are listed once and their rows filtered, new files pass whole.

    `"trim_horizon"` reads the backlog too.
    """
    import datetime
    import os

    reader = spark.readStream.schema(CDC_RECORD_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if starting_position == "latest":
        if checkpoint_path is not None:
            if not os.path.isdir(checkpoint_path):
                initialize_latest_checkpoint(
                    spark, source_path, checkpoint_path
                )
            return reader.json(source_path)
        records = reader.json(source_path)
        subscribed_at = datetime.datetime.now(datetime.timezone.utc)
        return records.where(
            F.col("_metadata.file_modification_time") >= F.lit(subscribed_at)
        )
    if starting_position != "trim_horizon":
        raise ValueError(
            f"starting_position must be 'latest' or 'trim_horizon', "
            f"got {starting_position!r}"
        )
    return reader.json(source_path)


def dedup_within_watermark(
    records: DataFrame,
    *,
    key_cols: list[str] | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """§2B stateful op: collapse at-least-once redelivery to
    exactly-once within the watermark horizon.

    State is one entry per key seen within `watermark` of the max event
    time — pruned continuously, so it is bounded at any corpus size by
    the key arrival rate, not the stream length.
    """
    return records.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        key_cols or ["event_id"]
    )


def windowed_change_counts(
    records: DataFrame,
    *,
    window_duration: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """§2B streaming window: per-operation counts in event-time tumbling
    windows; rows later than `watermark` behind the max seen `ts` are
    dropped (late-data policy), letting the window state finalize."""
    return (
        records.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration), F.col("operation"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "operation",
            "n_events",
        )
    )


TEMPORAL_TAGGED_SCHEMA = (
    "k string, t timestamp, seq long, side int, v string"
)
TEMPORAL_ENRICHED_SCHEMA = "k string, t timestamp, seq long, v string"
_TEMPORAL_STATE_SCHEMA = "v string, open boolean"


def _temporal_enrich_group(key, batches, state):
    import pandas as pd

    v, is_open = state.get if state.exists else (None, False)
    for pdf in batches:
        pdf = pdf.sort_values(["t", "side", "seq"])
        out_t, out_seq, out_v = [], [], []
        for t, seq, side, val in zip(
            pdf["t"], pdf["seq"], pdf["side"], pdf["v"]
        ):
            if side == 0:
                # dim event: a value opens a new version (replacing the
                # current one — at equal t, log order wins, matching the
                # batch lane's widest-valid_to rule); a null value is a
                # tombstone closing the key
                if isinstance(val, str):
                    v, is_open = val, True
                else:
                    v, is_open = None, False
            else:
                out_t.append(t)
                out_seq.append(seq)
                out_v.append(v if is_open else None)
        if out_t:
            yield pd.DataFrame(
                {
                    "k": key[0],
                    "t": out_t,
                    "seq": out_seq,
                    "v": pd.array(out_v, dtype=object),
                }
            )
    state.update((v, is_open))


def temporal_enrich_stream(tagged: DataFrame) -> DataFrame:
    """Streaming SCD2 temporal enrichment — the continuous form of
    :func:`~cdk_dynamodb_cdc_spark.operators.asof.temporal_join`: a
    single keyed stream interleaves dimension-version events (side 0:
    a value opens a version, a NULL value is a tombstone) and fact
    probes (side 1); each fact emits with the version open AT its
    timestamp, NULL inside tombstone holes. Input columns
    ``TEMPORAL_TAGGED_SCHEMA``, output ``TEMPORAL_ENRICHED_SCHEMA``.

    State per key is ONE (value, open) cell — not the version history
    — because enrichment only ever needs the current version when
    facts arrive in per-key time order, the same per-key ordering
    guarantee the CDC source provides (SURVEY.md §4) and that
    ``reconstruct_old_images_stream`` already leans on; each
    micro-batch additionally sorts its own rows by (t, side, seq) so
    intra-batch interleavings are deterministic. A batch-parity pytest
    pins this lane to ``temporal_join`` on the same rows.

    Scale: state size = live keys x one value, incrementally
    checkpointed; each micro-batch is one shuffle on the key. This is
    the operator a 100-TB training-data join runs continuously —
    enriching an event firehose with slowly-changing dimensions
    without ever re-reading the dimension history.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    return tagged.groupBy("k").applyInPandasWithState(
        _temporal_enrich_group,
        outputStructType=TEMPORAL_ENRICHED_SCHEMA,
        stateStructType=_TEMPORAL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    left_time: str,
    right_time: str,
    max_delay: str = "30 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """§2B stream-stream join: right-side rows within (0, max_delay]
    AFTER a left row with the same key.

    Both sides carry watermarks and the join condition bounds
    right_time to a closed interval of left_time — the two facts Spark
    needs to prune join state: each side retains only rows younger
    than watermark + max_delay, so state is bounded by arrival rate,
    not stream length. Without the time bound, a stream-stream inner
    join would buffer both streams forever.

    `how="left_outer"` additionally emits unmatched left rows
    null-padded — but only once the watermark has passed a row's join
    horizon (left_time + max_delay), since until then a match could
    still arrive. A pytest pins parity with the batch left join;
    tail-of-stream rows whose horizon the final watermark never
    crosses stay buffered, which is correct streaming semantics, so
    finite-input tests advance the watermark with a late flush row.

    `how="left_semi"` emits each matched left row exactly once (no
    right columns, no fan-out on multiple matches) — the streaming
    EXISTS filter; the same watermark horizon governs when a left row
    can be dropped unmatched. Spark's stream-stream left_anti is not
    supported; express NOT EXISTS as left_outer + IS NULL on a right
    column once the horizon passes.

    `how="full_outer"` completes the how-surface: unmatched rows from
    BOTH sides emit null-padded at their watermark horizons — the
    left side's horizon is `left_time + max_delay` (a match could
    arrive that long after), the right side's is `right_time` itself
    (its potential partners all precede it, so once the left
    watermark passes `right_time` no match can appear). Same bounded
    state, same batch-parity contract as the other lanes.
    `how="right_outer"` is the right-side-only restriction of that
    emission (unmatched RIGHT rows null-pad at the `right_time`
    horizon; unmatched left rows drop).
    """
    if how not in (
        "inner",
        "left_outer",
        "left_semi",
        "full_outer",
        "right_outer",
    ):
        raise ValueError(
            f"how must be inner|left_outer|left_semi|full_outer|"
            f"right_outer, got {how!r}"
        )
    lw = left.withWatermark(left_time, watermark)
    rw = right.withWatermark(right_time, watermark)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_time] > lw[left_time])
        & (rw[right_time] <= lw[left_time] + F.expr(f"INTERVAL {max_delay}"))
    )
    return lw.join(rw, cond, how)


def read_snapshot_store(spark: SparkSession, state_path: str) -> DataFrame:
    """Live rows of a :func:`maintain_snapshot_stream` store (filters
    the physical REMOVE tombstones the writer retains so that
    delete-only bucket rewrites stay non-empty)."""
    return spark.read.parquet(state_path).filter(
        F.col("operation") != "REMOVE"
    )


def maintain_snapshot_stream(
    records: DataFrame,
    *,
    state_path: str,
    checkpoint_path: str,
    key_cols: tuple[str, ...] = ("pk", "sk"),
    buckets: int = 16,
    available_now: bool = True,
):
    """Materialized-table maintenance: keep a queryable parquet snapshot
    of the item table continuously up to date from the change stream —
    the consumer-side complement of operators/compaction.py. Read the
    live state back with :func:`read_snapshot_store`.

    Per micro-batch:

      1. reduce the batch to one WINNER per item key (`max_by` on seq:
         latest operation + image — the per-batch squash),
      2. upsert into the state store: the store is parquet partitioned
         by `bucket = pmod(hash(pk), buckets)`; the batch writes, with
         DYNAMIC partition overwrite, only the buckets it touches —
         each rewritten bucket holds, per key, the MAX-SEQ row across
         its previous contents and the batch's winners (a seq-guarded
         merge: micro-batch arrival order is not the change order, so
         a blind replace would let a late-delivered older batch
         regress newer state — the round-12 soak caught exactly
         that), REMOVE winners included as physical tombstone rows
         (Kafka-compaction style). Tombstones are what make pure
         deletions durable: dynamic overwrite cannot write an EMPTY
         partition, so a bucket whose net change is "delete the last
         key" would otherwise never be rewritten and the stale row
         would survive. A tombstone is carried forward like any state
         row until a NEWER change for its key arrives (at which point
         the new winner replaces it), so tombstone count is bounded
         by the number of currently-deleted keys per bucket — it
         never shrinks on rewrites alone, and `read_snapshot_store`
         filters it out.

    Exactly-once: replaying a batch recomputes the identical bucket
    contents (winners are keyed by seq, unaffected by replay) and
    overwrites the same partitions — idempotent, like
    ``CdcPipeline.run_stream``'s sink. At scale, bucket count bounds rewrite amplification: a batch
    touching k keys rewrites at most min(k, buckets) partitions;
    untouched buckets are never written, and the carry-forward read is
    partition-PRUNED to the touched buckets (the batch's bucket ids —
    at most `buckets` integers — are collected and pushed into the
    scan filter, rather than left to a semi join that would list and
    read the whole store). (A transactional format — Delta/Iceberg
    MERGE — replaces this recipe when available; the dataflow is
    identical.)
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        winner = F.struct("operation", "new_image", "ts")
        winners = batch_df.groupBy(*key_cols).agg(
            F.max_by(winner, "seq").alias("w"),
            F.max("seq").alias("seq"),
        )
        bucket = F.pmod(F.hash(F.col(key_cols[0])), F.lit(buckets))
        fresh = winners.select(
            *key_cols,
            F.col("w.operation").alias("operation"),
            F.col("w.new_image").alias("image"),
            F.col("seq"),
            F.col("w.ts").alias("ts"),
            bucket.alias("bucket"),
        ).localCheckpoint(eager=True)
        try:
            state = spark.read.parquet(state_path)
            have_state = True
        except AnalysisException as exc:
            # ONLY a missing store means "first batch". Any other read
            # failure (corrupt footer, transient FS error) must abort
            # the batch — treating it as first-batch would rewrite
            # touched buckets with fresh winners alone, silently
            # deleting every previously stored key in them.
            if "PATH_NOT_FOUND" not in str(exc):
                raise
            have_state = False
        if have_state:
            # Literal bucket list (<= `buckets` ints, a bounded driver
            # action) so the state read is partition-pruned to touched
            # buckets; a semi join would read every bucket.
            touched = [
                r.bucket for r in fresh.select("bucket").distinct().collect()
            ]
            pruned = state.filter(F.col("bucket").isin(touched))
            # Seq-guarded merge, NOT a blind replace: micro-batch
            # arrival order is not the change order — FileStreamSource
            # breaks equal-mtime ties arbitrarily, and at scale
            # cross-shard file arrival never follows the per-key
            # sequence — so a batch whose winner is OLDER than the
            # stored row must lose. max_by(seq) over state + fresh
            # keeps the store correct under any batch permutation
            # (the round-12 soak caught the blind replace regressing
            # newer state). Replays stay idempotent: a replayed row
            # ties with its stored twin and the merge result is
            # identical either way.
            cols = ["operation", "image", "seq", "ts", "bucket"]
            out = (
                pruned.unionByName(fresh)
                .groupBy(*key_cols)
                .agg(F.max_by(F.struct(*cols), "seq").alias("w"))
                .select(*key_cols, *[F.col(f"w.{c}").alias(c) for c in cols])
            )
        else:
            out = fresh
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(state_path)
        )

    writer = records.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
