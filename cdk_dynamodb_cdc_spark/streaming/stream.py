"""Structured Streaming CDC consumer (reference operator A1).

The reference is a *stream* processor: a Lambda subscribed to a
DynamoDB change stream (`dynamo.ts:153-155,193` — `DynamoEventSource`,
`StartingPosition.LATEST`, NEW_AND_OLD_IMAGES view at `dynamo.ts:69`).
This module holds the file source and the snapshot maintainer; the
record -> event stream itself is `CdcPipeline.run_stream` (api.py),
which runs the batch-tested record transform per micro-batch via
`foreachBatch`, configured by the same pipeline as the batch lane:

    read_cdc_stream     — `readStream` over a file/CDC-record source
                          (A1; `latest` start maps to processing only
                          files arriving after stream start, `trim_horizon`
                          to reading the backlog)
    initialize_latest_checkpoint — commit the backlog into a fresh
                          checkpoint without reading it (zero-scan
                          `latest` start; read_cdc_stream calls it on
                          first subscription when given the checkpoint)
    maintain_snapshot_stream — materialized-table maintenance: per-batch
                          winner per key upserted into a bucket-
                          partitioned parquet state store (dynamic
                          partition overwrite of touched buckets only)

Watermarked dedup, windowed counts and stream-stream joins are one
Structured Streaming call each (`dropDuplicatesWithinWatermark`,
`groupBy(window(...))`, a time-bounded `join`) and need no wrapper.

Exactly-once story (`run_stream`): the checkpoint tracks source
offsets per micro batch; the main sink writes `batch_id=<n>` partitions
with DYNAMIC partition overwrite (a per-write option; the session conf
is never touched), so a replayed batch overwrites its own partition instead of
appending duplicates; the claim-check side store does the same under
`dt=<d>/batch_id=<n>` partitions and is written first, so a committed
event never points at a missing blob. The stream is tagged inside its
own plan (`tag_records`, planned once per stream), so each micro-batch
arrives tagged; both writes are projections of one persisted read of
it. This is the standard file-sink exactly-once recipe when a
transactional table format isn't available.

Scale: the pipeline transform is shuffle-free (see operators/pipeline.py)
so each micro-batch is embarrassingly parallel.
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
