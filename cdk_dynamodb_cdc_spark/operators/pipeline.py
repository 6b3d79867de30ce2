"""The CDC change-event pipeline (reference operators A3-A11, SURVEY.md §2A).

Batch-first: :func:`cdc_change_events` is a pure ``DataFrame -> DataFrame``
transform, so the identical code runs under ``spark.read`` (oracle-testable)
and inside a Structured Streaming micro-batch (``streaming/stream.py``).

Stage map to the reference (``/root/reference/lib/lambda/dynamo-stream-handler.ts``):

  null-guards (:92-97)          -> declarative ``filter`` (A4)
  unmarshall (:101-110)         -> one Arrow-batched ``mapInPandas`` pass
  compareJSON (:29-87,112-116)  -> per record: unmarshall, diff and tag
  per-record try/catch (:20-26) -> ``error`` column, disposition ``error`` (A3)
  no-op MODIFY drop (:126-128)  -> disposition ``noop`` (A7)
  event construction (:118-125) -> ``select`` of disposition ``event`` (A8)
  conditional images (:134-138) -> ``when``/``otherwise`` (A9)
  claim check (:139-166)        -> ``claim`` column + side write (A10, claim_check.py)

Scale notes: the only Python in the plan is one pass
(:func:`tag_records`) that runs the reference's per-record try/catch
once: unmarshall, diff, and the record's disposition — ``event``,
``noop`` or ``error`` — decided together. Events, dead letters and the
claim-check side store are all projections of that disposition-tagged
frame. Python is unavoidable for dynamic schemas (the diff is defined
over arbitrary nested JSON), so it sees as little as possible:

* Everything before it (pk filters, null guards, column pruning, the
  claim decision) is Catalyst-visible; the filters push into the
  source scan, so at 100 TB filtered records never reach Python.
* Into Python go the two raw images, the keys (``pk``, ``sk``, optional
  ``keys_json``) and ``event_id, seq, ts, operation, claim``, which
  ride through unchanged. Out come the keys, the diff (``attributes_changed``,
  ``before``, ``after``), the canonical images, ``error`` and
  ``disposition``; the raw images are not sent back. Images are
  serialized only where an event or its side-store blob can carry
  them: never for no-ops or failures, and the old image only for
  REMOVEs and claim-checked events.
* The pass is embarrassingly parallel and partition-local: no shuffle
  anywhere in this pipeline — output partitioning == source
  partitioning.

The free functions :func:`cdc_change_events` and :func:`quarantine` each
build the tagged frame, so calling both runs the pass twice.
``CdcPipeline`` (``api.py``) persists it instead: ``events(records)``
and ``quarantine(records)`` on the same ``records`` DataFrame share one
pass, and the pipeline releases the frame when a different ``records``
frame arrives, on ``close()`` (or at the end of a ``with`` block), or
when it is garbage-collected. The streaming lane persists it for the
length of one micro-batch (``api.py:CdcPipeline.run_stream``).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdk_dynamodb_cdc_spark.functions.diff import compare_images
from cdk_dynamodb_cdc_spark.functions.dynamo import dumps_canonical, unmarshall
from cdk_dynamodb_cdc_spark.schemas import CLAIM_CHECK_THRESHOLD

# Columns the projections read that ride through the Python pass as they
# are; the raw images and keys go in, only their results come out.
_PASS_THROUGH = ["event_id", "seq", "ts", "operation", "claim"]
_KERNEL_IN = ["new_image", "old_image", "keys_json", "pk", "sk", "operation", "claim"]
_KERNEL_OUT = {
    "pk": "string", "sk": "string", "attributes_changed": "array<string>",
    "before": "string", "after": "string", "new_image": "string",
    "old_image": "string", "error": "string", "disposition": "string",
}


def pk_filter(df: DataFrame, pk_filters: list[str] | None) -> DataFrame:
    """Source-level pk predicate (A2, ``dynamo.ts:157-191``).

    Exact value, or a single trailing-``*`` prefix pattern. Expressed as a
    plain Column predicate so Catalyst pushes it into the parquet scan
    (StringStartsWith / EqualTo reach ``PushedFilters``).
    """
    if not pk_filters:
        return df
    conds: list[Column] = []
    for f in pk_filters:
        stars = f.count("*")
        if stars == 0:
            conds.append(F.col("pk") == F.lit(f))
        elif stars == 1 and f.endswith("*"):
            conds.append(F.col("pk").startswith(f[:-1]))
        else:
            raise ValueError(
                f"pk filter {f!r}: only exact match or single trailing '*' "
                "prefix supported (mirrors dynamo.ts:168-176)"
            )
    pred = conds[0]
    for c in conds[1:]:
        pred = pred | c
    return df.filter(pred)


def null_guards(df: DataFrame) -> DataFrame:
    """Drop records missing operation / event_id / payload (A4, :92-97).

    Deliberate deviation: the reference only bails when the
    ``record.dynamodb`` envelope itself is missing (:96-97) and would
    still publish an event with empty before/after for an image-less
    record. This engine's record schema has no envelope column, so
    "both images null" stands in for "no payload" and such records are
    dropped — stricter than the reference, by design (an event with no
    images, no diff, and no keys carries no information downstream).
    """
    has_payload = F.col("new_image").isNotNull() | F.col("old_image").isNotNull()
    return df.filter(
        F.col("operation").isNotNull() & F.col("event_id").isNotNull() & has_payload
    )


def claim_checked(threshold: int) -> Column:
    """A10's claim decision, ``if (size && size < SIZE_THRESHOLD)``
    (:134) negated: a record is offloaded when ``size_bytes`` is missing,
    zero (falsy in JS) or at least ``threshold``. The one copy of the
    rule; the dynamic lane computes it as :func:`tag_records`' ``claim``
    column, the typed lane as its own ``claim`` column."""
    size = F.col("size_bytes")
    return size.isNull() | (size == 0) | (size >= threshold)


def images_url(claim_check_base: str | None) -> Column:
    """The pointer of a row whose ``claim`` column is true, else null:
    ``<base>/<event_id>.json``. The base gains a ``/`` unless it ends in
    one, so a lane given a store path and a lane given a pointer prefix
    build the same pointer."""
    base = claim_check_base or "claim-check://images/"
    base += "" if base.endswith("/") else "/"
    return F.when(
        F.col("claim"), F.concat(F.lit(base), F.col("event_id"), F.lit(".json"))
    )


def _diff_record(new_raw, old_raw, keys_raw, pk, sk, operation, claim) -> tuple:
    """unmarshall + diff + key extraction + disposition for one record;
    errors isolate. Images are serialized only where an event or its
    side-store blob can carry them: not for no-ops, and the old image
    only for REMOVEs (A9) and claim-checked events (A10)."""
    try:
        new_img = unmarshall(json.loads(new_raw)) if new_raw is not None else None
        old_img = unmarshall(json.loads(old_raw)) if old_raw is not None else None
        if keys_raw is not None:
            keys = unmarshall(json.loads(keys_raw)) or {}
            pk, sk = keys.get("pk"), keys.get("sk")
        changed, before, after = compare_images(new_img, old_img)
        if operation == "MODIFY" and not changed:  # A7 (:126-128)
            return (pk, sk, changed, None, None, None, None, None, "noop")
        return (
            pk,
            sk,
            changed,
            dumps_canonical(before),
            dumps_canonical(after),
            dumps_canonical(new_img) if new_img is not None else None,
            dumps_canonical(old_img)
            if old_img is not None and (claim or operation == "REMOVE") else None,
            None,
            "event",
        )
    except Exception as exc:  # row-level fault isolation (A3, :20-26)
        return (None, None, None, None, None, None, None,
                f"{type(exc).__name__}: {exc}", "error")


def _column(pdf: pd.DataFrame, name: str) -> list:
    # Arrow hands string columns over as object arrays with None for null
    return pdf[name].tolist() if name in pdf.columns else [None] * len(pdf)


def _diff_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = zip(*(_column(pdf, c) for c in _KERNEL_IN))
        out = pd.DataFrame(
            [_diff_record(*r) for r in rows], columns=list(_KERNEL_OUT),
            index=pdf.index,
        )
        yield pd.concat([pdf[_PASS_THROUGH], out], axis=1)


def tag_records(
    records: DataFrame,
    pk_filters: list[str] | None = None,
    claim_check_threshold: int = CLAIM_CHECK_THRESHOLD,
) -> DataFrame:
    """The one Python pass of the dynamic lane: pk filter, null guards,
    the claim decision, then unmarshall + diff per record, tagged with
    its ``disposition`` (``event``, ``noop`` or ``error``). Change
    events, dead letters (:func:`project`) and the claim-check side
    store (``claim_check.side_store_writes``) are projections of this
    frame, so a caller that persists it runs the Python once for all.

    Input: CDC_RECORD_SCHEMA (+ optional ``keys_json``). Output: the
    pass-through columns ``event_id, seq, ts, operation, claim`` plus
    ``pk, sk, attributes_changed, before, after, new_image, old_image,
    error, disposition`` — images as canonical plain JSON.
    """
    src = null_guards(pk_filter(records, pk_filters)).withColumn(
        "claim", claim_checked(claim_check_threshold))
    src = src.select(*dict.fromkeys(
        [*_PASS_THROUGH, *(c for c in _KERNEL_IN if c in src.columns)]))
    schema = {c: src.schema[c].dataType.simpleString() for c in _PASS_THROUGH}
    schema.update(_KERNEL_OUT)
    return src.mapInPandas(
        _diff_batches, schema=", ".join(f"{c} {t}" for c, t in schema.items())
    )


def project(
    tagged: DataFrame, disposition: str, *, claim_check_base: str | None = None
) -> DataFrame:
    """One disposition of a :func:`tag_records` frame, as events
    (CHANGE_EVENT_SCHEMA): ``"event"`` gives the change events,
    ``"error"`` the dead letters (A3), which add the ``error`` column.
    Claim-checked events carry an ``images_url`` pointer instead of
    inlined images (the side write is ``claim_check.py``'s, from the
    same frame); a dead letter has no side-store blob, so no pointer."""
    url = (images_url(claim_check_base) if disposition == "event"
           else F.lit(None).cast("string"))
    cols = [
        "event_id", "seq", "ts", "operation", "pk", "sk",
        "attributes_changed", "before", "after",
        # A9 (:134-138): new image inlined when small; old image only for
        # small REMOVEs (the kernel serializes it for REMOVEs and
        # claim-checked events alone); neither when claim-checked.
        F.when(~F.col("claim"), F.col("new_image")).alias("new_image"),
        F.when(~F.col("claim"), F.col("old_image")).alias("old_image"),
        url.alias("images_url"),
    ]
    if disposition == "error":
        cols.append("error")
    return tagged.filter(F.col("disposition") == disposition).select(*cols)


def cdc_change_events(
    records: DataFrame,
    *,
    pk_filters: list[str] | None = None,
    claim_check_base: str | None = None,
    claim_check_threshold: int = CLAIM_CHECK_THRESHOLD,
) -> DataFrame:
    """Full record->event transform: the ``"event"`` projection of
    :func:`tag_records`; no-op MODIFYs and failed records dropped."""
    return project(
        tag_records(records, pk_filters, claim_check_threshold),
        "event",
        claim_check_base=claim_check_base,
    )


def quarantine(records: DataFrame, *, pk_filters: list[str] | None = None) -> DataFrame:
    """Rows whose processing raised: the ``"error"`` projection of
    :func:`tag_records`."""
    return project(tag_records(records, pk_filters), "error")


def publish(events: DataFrame, event_source: str) -> DataFrame:
    """A11 (:168-177): wrap each change event in the published envelope.

    ``detail`` is the JSON document a downstream consumer receives; routing
    is then a plain filter on ``source`` / ``detail_type`` (A12).
    """
    detail = F.to_json(
        F.struct(
            F.col("after"),
            F.col("attributes_changed").alias("attributesChanged"),
            F.col("before"),
            F.col("images_url").alias("imagesUrl"),
            F.col("new_image").alias("newImage"),
            F.col("old_image").alias("oldImage"),
            F.col("operation"),
            F.col("pk"),
            F.col("sk"),
        )
    )
    return events.select(
        F.lit(event_source).alias("source"),
        F.lit("dynamo.item.changed").alias("detail_type"),
        detail.alias("detail"),
    )


def route(published: DataFrame, source: str, detail_type: str) -> DataFrame:
    """A12 (cdk-dynamodb-cdc-stack.ts:32-38): pattern-match subscription."""
    return published.filter(
        (F.col("source") == source) & (F.col("detail_type") == detail_type)
    )
