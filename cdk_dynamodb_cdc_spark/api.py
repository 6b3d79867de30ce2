"""`CdcPipeline` — the engine's user-facing builder (SURVEY.md §3.3).

The reference packages its pipeline as a CDK construct whose props
configure filters / claim check / sinks, with `functionPath`
(`/root/reference/lib/constructs/dynamo.ts:31,100,128`) as the hook to
swap in a custom handler. This builder is the Spark analogue: declare
the source shape once, get the batch lane (oracle-testable) and the
streaming lane (production) from the SAME configuration, and inject a
custom `DataFrame -> DataFrame` transform between diff and publish —
the `functionPath` equivalent. `run_stream` is the one entry point of
the record -> event stream.

    pipe = CdcPipeline(
        pk_filters=["USER#*"],
        item_schema=my_struct_type,        # optional: typed (no-Python) lane
        reconstruct_missing_old=True,      # NEW_IMAGE-only sources
        transform=lambda df: df.filter(...),
        event_source="myapp",
    )
    events = pipe.events(records_df)               # batch
    dead   = pipe.quarantine(records_df)           # same pass as events
    query  = pipe.run_stream(stream_df, sink_path=..., checkpoint_path=...)

On the dynamic lane, ``events(records)`` and ``quarantine(records)`` on
the same ``records`` DataFrame are projections of one persisted,
disposition-tagged frame, so the Python unmarshall + diff runs once per
record for both. ``claim_check.write_side_store(records, path)`` tags
``records`` with no pk filter, no reconstruction and the default
threshold; on a pipeline configured the same way it reads that frame
too. The pipeline holds at most one such frame and unpersists it when
another ``records`` frame arrives, on ``close()`` (or at the end of a
``with pipe:`` block), and when the pipeline is garbage-collected.
Until then Spark's cache answers every identical plan from it, other
pipelines and the free functions over the same source included, so
close the pipeline before re-reading changed input.
The typed lane's quarantine() tags its records unpersisted: nothing
shares that frame.

``run_stream`` runs the same tagging inside the streaming plan, planned
once per stream: each micro-batch arrives tagged, is persisted, gives
the side store and then the events, and is unpersisted when the
micro-batch ends; it never touches the batch lane's frame.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from cdk_dynamodb_cdc_spark.operators.claim_check import (
    presign_claim_urls,
    side_store_projection,
    write_batch,
)
from cdk_dynamodb_cdc_spark.operators.pipeline import (
    pk_filter,
    project,
    projection,
    publish,
    tag_records,
)
from cdk_dynamodb_cdc_spark.operators.reconstruct import (
    reconstruct_old_images,
    reconstruct_old_images_stream,
)
from cdk_dynamodb_cdc_spark.operators.typed_diff import cdc_change_events_typed
from cdk_dynamodb_cdc_spark.schemas import CLAIM_CHECK_THRESHOLD


class CdcPipeline:
    """Configured CDC pipeline, runnable in batch or streaming."""

    def __init__(
        self,
        *,
        pk_filters: list[str] | None = None,
        item_schema: T.StructType | None = None,
        reconstruct_missing_old: bool = False,
        transform: Callable[[DataFrame], DataFrame] | None = None,
        event_source: str = "cdk_dynamodb_cdc_spark",
        claim_check_base: str | None = None,
        claim_check_threshold: int = CLAIM_CHECK_THRESHOLD,
        presign_secret: str | None = None,
        presign_ttl_hours: int = 24,
    ) -> None:
        # (records, its persisted tagged frame) of the last dynamic-lane call
        self._cached: tuple[DataFrame, DataFrame] | None = None
        self.pk_filters = pk_filters
        self.item_schema = item_schema
        self.reconstruct_missing_old = reconstruct_missing_old
        self.transform = transform
        self.event_source = event_source
        self.claim_check_base = claim_check_base
        self.claim_check_threshold = claim_check_threshold
        self.presign_secret = presign_secret
        self.presign_ttl_hours = presign_ttl_hours

    def _finish(self, events: DataFrame) -> DataFrame:
        """Post-pipeline stages shared by both lanes: presign the
        claim-check pointers (when a secret is configured), then the
        user transform — the reference's `functionPath` hook."""
        if self.presign_secret is not None:
            events = presign_claim_urls(
                events, self.presign_secret, ttl_hours=self.presign_ttl_hours
            )
        return self.transform(events) if self.transform else events

    # -- batch lane -------------------------------------------------------

    def _records(self, records: DataFrame) -> DataFrame:
        """`records`, after old-image reconstruction when enabled."""
        if self.reconstruct_missing_old:
            return reconstruct_old_images(records)
        return records

    def _tag(self, records: DataFrame) -> DataFrame:
        """The dynamic lane's disposition-tagged frame of `records`."""
        return tag_records(
            self._records(records), self.pk_filters, self.claim_check_threshold
        )

    def _shared(self, records: DataFrame) -> DataFrame:
        """`_tag(records)`, persisted once per `records` DataFrame and
        shared by the dynamic lane's events() and quarantine()."""
        if self._cached is None or self._cached[0] is not records:
            self.close()
            self._cached = (records, self._tag(records).persist())
        return self._cached[1]

    def close(self) -> None:
        """Unpersist the shared frame, if any."""
        if self._cached is not None:
            tagged = self._cached[1]
            self._cached = None
            tagged.unpersist()

    def __enter__(self) -> CdcPipeline:
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def __del__(self) -> None:
        try:
            self.close()
        except Exception:  # the session may already be stopped
            pass

    def events(self, records: DataFrame) -> DataFrame:
        """records (CDC_RECORD_SCHEMA) -> change events.

        Typed lane when `item_schema` is declared (pure JVM), dynamic
        lane otherwise; optional old-image reconstruction first; the
        custom transform last."""
        if self.item_schema is None:
            out = project(
                self._shared(records), "event",
                claim_check_base=self.claim_check_base,
            )
        else:
            out = cdc_change_events_typed(
                pk_filter(self._records(records), self.pk_filters),
                self.item_schema,
                claim_check_base=self.claim_check_base,
                claim_check_threshold=self.claim_check_threshold,
            )
        return self._finish(out)

    def quarantine(self, records: DataFrame) -> DataFrame:
        """Rows that failed per-record processing (A3 dead letters).

        On the dynamic lane this projects the frame events() shares; on
        the typed lane, whose events() does not tag, it tags `records`
        on its own, unpersisted."""
        tagged = (
            self._shared(records) if self.item_schema is None
            else self._tag(records)
        )
        return project(tagged, "error")

    def published(self, records: DataFrame) -> DataFrame:
        """Change events wrapped in the publish envelope (A11)."""
        return publish(self.events(records), self.event_source)

    # -- streaming lane ---------------------------------------------------

    def run_stream(
        self,
        records: DataFrame,
        *,
        sink_path: str,
        checkpoint_path: str,
        side_store_path: str | None = None,
        available_now: bool = True,
        sink_writer=None,
    ):
        """Start the checkpointed streaming pipeline (A1/A11) over a
        record stream; returns the StreamingQuery, callers
        `awaitTermination()`.

        The stream is tagged in its own plan, once: the same
        `tag_records` pass the batch lane runs (this pipeline's pk
        filters and claim threshold), after old-image reconstruction
        when that is enabled. Each micro-batch therefore arrives tagged
        and is read ONCE: it is persisted, and as projections of it,
        built once per stream,

          1. the claim-checked events' images go to the side store
             under `dt=<d>/batch_id=<n>/` (when there is a side store),
          2. the change events, after presign and the custom transform
             exactly as in the batch lane, go to
             `sink_path/batch_id=<n>/`;

        then it is unpersisted. A trigger's `numInputRows` is the
        records it read, guard-dropped ones included, while the
        session's JSON filter pushdown is off (get_spark's default);
        with it on, Spark's JSON reader drops them while parsing and
        counts only the rest. Both writes use dynamic partition
        overwrite, so replays overwrite, never duplicate; the side store
        goes first, so a committed event never points at a missing blob.
        The side store is `side_store_path`, else `claim_check_base`;
        claim-checked events point into it by the same rule as the
        batch lane, so with only `claim_check_base` both lanes emit the
        same pointers.

        Old-image reconstruction, when enabled, runs with per-key state
        instead of a batch window. `sink_writer` swaps step 2 for a
        custom `(events_df, batch_id) -> None` writer while keeping the
        pipeline, side store and checkpointing — the hook a
        transactional table format plugs into
        (storage/txlog.py:txlog_sink_writer); any writer must stay
        idempotent per batch_id, because the checkpoint replays the
        last uncommitted batch after a crash. The stream always runs
        the dynamic lane: same output schema and semantics as the typed
        lane, which remains a batch-side option."""
        if self.reconstruct_missing_old:
            records = reconstruct_old_images_stream(records)
        tagged = tag_records(records, self.pk_filters, self.claim_check_threshold)
        side_store = side_store_path or self.claim_check_base
        side_rows = side_store_projection()
        event_rows = projection("event", claim_check_base=side_store)

        def process_batch(batch: DataFrame, batch_id: int) -> None:
            batch.persist()
            try:
                if side_store is not None:
                    write_batch(side_rows(batch), side_store, batch_id, "dt")
                events = self._finish(event_rows(batch))
                if sink_writer is not None:
                    sink_writer(events, batch_id)
                else:
                    write_batch(events, sink_path, batch_id)
            finally:
                batch.unpersist()

        writer = (
            tagged.writeStream.foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_path)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
