"""Incremental view maintenance (IVM) over change events.

The canonical CDC consumer: keep a per-group aggregate (COUNT / SUM)
continuously correct by applying each change event's DELTA instead of
recomputing from a snapshot. For distributive aggregates the algebra
is exact:

    INSERT  -> (+1, +new_value) at the new group
    REMOVE  -> (-1, -old_value) at the old group
    MODIFY  -> (-1, -old_value) at old group AND (+1, +new_value) at
               new group — same-group modifies cancel to a pure value
               delta at aggregation time

The changed-subtree `before`/`after` plus the new image carry
everything needed: a field absent from `before` did not change, so
its old value IS its new value — :func:`aggregate_deltas` reconstructs
both sides with coalesces and never needs the full old image for
MODIFYs. A published claim-checked event carries no images (they sit
in the side store), so the streaming lane computes deltas from the
tagged frame (``pipeline.tag_records``), whose ``event`` rows hold
every event's new image and a claim-checked event's old image. The
operator is lane-agnostic: deltas over typed-lane events
(operators/typed_diff.py, zero Python) are pytest-pinned identical to
the dynamic lane's for inlined events.

Scale shape: deltas are a per-row projection (scan-speed); the merge
is one shuffle keyed by group — aggregates per group are tiny, so a
100 TB/day stream maintains a dashboard-sized materialization with
map-side partial aggregation doing almost all the work. The streaming
lane (:func:`maintain_aggregate_stream`) stores per-bucket
`applied_batch_id` watermarks, making delta application idempotent
under checkpoint replay — the property a delta-merge needs but a
key-winner upsert (streaming/stream.py:maintain_snapshot_stream) gets
for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException


def _field(col: str, field: str):
    return F.get_json_object(F.col(col), f"$.{field}")


def aggregate_deltas(
    events: DataFrame, *, group_field: str, value_field: str
) -> DataFrame:
    """(group_key, d_items, d_value) delta rows from change events.

    Emits a minus row for MODIFY/REMOVE (the old state leaves its
    group) and a plus row for INSERT/MODIFY (the new state enters
    its group); value is cast DECIMAL(18,2) so sums are exact and
    order-independent. Old state reconstruction: a field in `before`
    changed (old value there); otherwise it is unchanged, so the new
    side's value doubles as the old one; REMOVEs carry the inlined
    `old_image`.

    Published claim-checked events carry no images, only a pointer, so
    a field outside the changed subtree reads null on both sides and
    the event's rows drop. Feed such traffic as the ``event`` rows of
    ``pipeline.tag_records``, which keep the images.
    """
    dec = "decimal(18,2)"
    new_g = F.coalesce(_field("new_image", group_field), _field("after", group_field))
    new_v = F.coalesce(
        _field("new_image", value_field), _field("after", value_field)
    ).cast(dec)
    old_g = F.coalesce(
        _field("old_image", group_field), _field("before", group_field), new_g
    )
    old_v = F.coalesce(
        _field("old_image", value_field), _field("before", value_field), new_v
    ).cast(dec)
    minus = F.when(
        F.col("operation").isin("MODIFY", "REMOVE"),
        F.struct(
            old_g.alias("group_key"),
            F.lit(-1).cast("long").alias("d_items"),
            (-old_v).alias("d_value"),
        ),
    )
    plus = F.when(
        F.col("operation").isin("INSERT", "MODIFY"),
        F.struct(
            new_g.alias("group_key"),
            F.lit(1).cast("long").alias("d_items"),
            new_v.alias("d_value"),
        ),
    )
    return (
        events.select(
            F.explode(F.array_compact(F.array(minus, plus))).alias("d")
        )
        .select("d.*")
        .filter(F.col("group_key").isNotNull())
    )


def read_aggregate_store(spark, state_path: str) -> DataFrame:
    """Live totals of a :func:`maintain_aggregate_stream` store (drops
    groups whose membership has gone to zero)."""
    return (
        spark.read.parquet(state_path)
        .filter(F.col("n_items") > 0)
        .select("group_key", "n_items", "total_value")
    )


def maintain_aggregate_stream(
    records: DataFrame,
    *,
    state_path: str,
    checkpoint_path: str,
    group_field: str,
    value_field: str,
    buckets: int = 16,
    available_now: bool = True,
):
    """Continuously maintain per-group (n_items, total_value) from a
    CDC record stream by delta application.

    Per micro-batch: run the change-event pipeline, reduce the batch
    to per-group deltas, and merge them into a bucket-partitioned
    parquet store rewriting only touched buckets (dynamic partition
    overwrite, literal bucket list pushed into the state scan — same
    pruning recipe as the snapshot store).

    Exactly-once is the interesting part: delta application is NOT
    naturally idempotent — replaying a batch would double-apply. Each
    bucket row therefore carries `applied_batch_id`; a bucket whose
    stored id >= the current batch id was already fully written by a
    previous (crashed-after-write) attempt and is SKIPPED, while
    buckets the crash never reached still merge. Per-bucket partition
    overwrite is the atomicity unit, exactly like the module's other
    sinks. A pytest replays a full stream against the finished store
    and pins that totals do not move.
    """
    from cdk_dynamodb_cdc_spark.operators.pipeline import tag_records

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # the tagged event rows, not the published events: those of a
        # claim-checked record carry no images
        events = tag_records(batch_df).filter(F.col("disposition") == "event")
        deltas = (
            aggregate_deltas(
                events,
                group_field=group_field,
                value_field=value_field,
            )
            .groupBy("group_key")
            .agg(
                F.sum("d_items").alias("d_items"),
                F.sum("d_value").alias("d_value"),
            )
            .withColumn(
                "bucket", F.pmod(F.hash(F.col("group_key")), F.lit(buckets))
            )
            .localCheckpoint(eager=True)
        )
        try:
            state = spark.read.parquet(state_path)
            have_state = True
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" not in str(exc):
                raise
            have_state = False
        touched = [r.bucket for r in deltas.select("bucket").distinct().collect()]
        if not touched:
            return
        if have_state:
            prior = state.filter(F.col("bucket").isin(touched))
            # buckets already stamped with this batch (crash after
            # their write) must not re-apply
            applied = {
                r.bucket
                for r in prior.filter(
                    F.col("applied_batch_id") >= batch_id
                )
                .select("bucket")
                .distinct()
                .collect()
            }
            todo = [b for b in touched if b not in applied]
            if not todo:
                return
            prior_todo = prior.filter(F.col("bucket").isin(todo)).select(
                "group_key", "n_items", "total_value", "bucket"
            )
            d_todo = deltas.filter(F.col("bucket").isin(todo))
        else:
            todo = touched
            prior_todo = None
            d_todo = deltas
        merged = (
            d_todo.join(
                prior_todo, ["group_key", "bucket"], "full_outer"
            )
            if prior_todo is not None
            else d_todo.select(
                "group_key",
                "bucket",
                F.col("d_items"),
                F.col("d_value"),
                F.lit(None).cast("long").alias("n_items"),
                F.lit(None).cast("decimal(18,2)").alias("total_value"),
            )
        )
        zero_d = F.lit(0).cast("decimal(18,2)")
        out = merged.select(
            "group_key",
            (
                F.coalesce(F.col("n_items"), F.lit(0))
                + F.coalesce(F.col("d_items"), F.lit(0))
            ).alias("n_items"),
            (
                F.coalesce(F.col("total_value"), zero_d)
                + F.coalesce(F.col("d_value"), zero_d)
            ).cast("decimal(18,2)").alias("total_value"),
            F.lit(batch_id).cast("long").alias("applied_batch_id"),
            "bucket",
        )
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
