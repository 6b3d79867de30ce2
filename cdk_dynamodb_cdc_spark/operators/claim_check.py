"""Size-based claim check (reference A10, ``dynamo-stream-handler.ts:130-166``).

Large payloads are offloaded to a blob side-store keyed by ``event_id``
and the main row carries only a pointer (``images_url``) — the Spark
analogue of the reference's S3 put + 24 h presigned URL. The side-store
here is a parquet dataset under ``base_path`` (any Hadoop-compatible URI:
``s3a://``, ``hdfs://``, ``file://``), rows keyed by ``event_id``.

Its rows are a projection of the same disposition-tagged frame the
change events come from (``operators/pipeline.py:tag_records``): one row
per claim-checked *event*, holding the canonical ``{old_image,
new_image}`` that a small event would inline (the reference's object
body, :140-148). No-op MODIFYs, failed records and small events have no
blob. The claim decision is the frame's ``claim`` column, so the event's
pointer and the blob cannot disagree.

The streaming path (``api.py:CdcPipeline.run_stream``) tags inside
the stream's plan, so each micro-batch arrives tagged; it writes the
blobs from that micro-batch, through a projection built once per
stream (:func:`side_store_projection`), BEFORE the events, under
``dt=<d>/batch_id=<n>/`` partitions with dynamic partition overwrite:
a committed event never points at a missing blob, and a replayed
micro-batch overwrites its own partitions — exactly-once across
checkpoint retries, same recipe as the main sink.

Retention (reference A13: 24 h S3 lifecycle, ``dynamo.ts:111-116``) is
:func:`vacuum_side_store` — a partition-drop by write date.

The presigned-GET half of the reference's contract
(``dynamo-stream-handler.ts:154-165``) is :func:`presign_claim_urls` /
:func:`validate_claim_url`: an expiring keyed-hash capability appended
to the pointer, so possession of an event grants time-limited — not
permanent — access to the offloaded images.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdk_dynamodb_cdc_spark.operators.pipeline import tag_records


def side_store_projection() -> Callable[[DataFrame], DataFrame]:
    """The side-store projection of a :func:`tag_records` frame: its
    claim-checked events as ``(event_id, old_image, new_image, dt)``.

    ``dt`` partitions the store so retention is a cheap partition drop
    instead of a per-object scan. Like ``pipeline.projection``, its
    Columns are built once, for any number of tagged frames.
    """
    where = (F.col("disposition") == "event") & F.col("claim")
    cols = [
        "event_id",
        "old_image",
        "new_image",
        F.to_date(F.coalesce(F.col("ts"), F.current_timestamp())).alias("dt"),
    ]
    return lambda tagged: tagged.filter(where).select(*cols)


def side_store_writes(tagged: DataFrame) -> DataFrame:
    """:func:`side_store_projection` applied to ``tagged``."""
    return side_store_projection()(tagged)


def write_batch(df: DataFrame, path: str, batch_id: int, *partition_by: str) -> None:
    """Write ``df`` as parquet under ``<partition_by>/batch_id=<n>/``,
    replacing only the partitions it writes (per-write dynamic partition
    overwrite): a replay of the same batch overwrites its own output
    instead of appending a second copy."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by, "batch_id")
        .parquet(path)
    )


def write_side_store(records: DataFrame, base_path: str) -> None:
    """Append the claim-checked images of ``records`` (CDC_RECORD_SCHEMA)
    to the side store, partitioned by date.

    The rows come from ``tag_records(records)``, so while a
    ``CdcPipeline`` holds the persisted pass of the same ``records``
    (default threshold, no pk filter or reconstruction), Spark answers
    this write from that cache and no second Python pass runs. The
    stream writes its side store per micro-batch with
    :func:`write_batch` instead, so a replay overwrites its own
    partitions.
    """
    out = side_store_writes(tag_records(records))
    out.write.mode("append").partitionBy("dt").parquet(base_path)


def _keyed_hash(msg, secret: str):
    """HMAC-shaped keyed hash in pure Column arithmetic:
    sha2(key || sha2(key || msg)) — the nested construction (not a bare
    sha2(msg || key)) so length-extension over the outer hash is closed
    off. JVM-side sha2, no UDF."""
    inner = F.sha2(F.concat(F.lit(secret), F.lit("|"), msg), 256)
    return F.sha2(F.concat(F.lit(secret), F.lit("|"), inner), 256)


def presign_claim_urls(
    events: DataFrame,
    secret: str,
    *,
    ttl_hours: int = 24,
    now=None,
) -> DataFrame:
    """A10 presign analogue (``dynamo-stream-handler.ts:154-165``): turn
    each ``images_url`` pointer into an EXPIRING SIGNED CAPABILITY —
    ``<url>?expires=<epoch>&sig=<keyed-hash>`` — instead of a bare path
    any reader could fabricate.

    The reference hands consumers a 24 h presigned S3 GET; the engine's
    side store is a plain object path, so the access contract rides in
    the event itself: a consumer presents the URL, and the storage
    front (or :func:`validate_claim_url` in a reader job) recomputes
    the keyed hash over (path, expiry) and rejects tampered or expired
    tokens. TTL defaults to the reference's 24 h presign/lifecycle
    window, which also matches :func:`vacuum_side_store` — a token
    never outlives the object it points to.

    ``now`` accepts a Column for deterministic tests; small-payload
    rows (null ``images_url``) stay null. Pure Column arithmetic —
    signing a 100 TB day of events is scan-speed.
    """
    now_col = now if now is not None else F.current_timestamp()
    expires = (F.unix_timestamp(now_col) + F.lit(ttl_hours * 3600)).cast(
        "string"
    )
    msg = F.concat_ws("|", F.col("images_url"), expires)
    signed = F.when(
        F.col("images_url").isNotNull(),
        F.concat(
            F.col("images_url"),
            F.lit("?expires="),
            expires,
            F.lit("&sig="),
            _keyed_hash(msg, secret),
        ),
    )
    return events.withColumn("images_url", signed)


def validate_claim_url(url, secret: str, *, at=None):
    """Boolean Column: the signed capability from
    :func:`presign_claim_urls` is intact (signature matches path+expiry
    under ``secret``) and unexpired at ``at`` (Column; defaults to
    current_timestamp). Tampering with the path, the expiry, or the
    signature flips it false."""
    path = F.regexp_extract(url, r"^(.*)\?expires=", 1)
    expires = F.regexp_extract(url, r"[?&]expires=(\d+)", 1)
    sig = F.regexp_extract(url, r"[?&]sig=([0-9a-f]{64})", 1)
    at_col = at if at is not None else F.current_timestamp()
    msg = F.concat_ws("|", path, expires)
    return (
        (path != F.lit(""))
        & (sig == _keyed_hash(msg, secret))
        & (expires.cast("long") > F.unix_timestamp(at_col))
    )


def vacuum_side_store(spark, base_path: str, retain_days: int = 1) -> list[str]:
    """Drop side-store date partitions older than ``retain_days``.

    The engine analogue of the reference's 24 h lifecycle expiry
    (``dynamo.ts:111-116``): retention as metadata-only partition removal —
    no data scan, so it stays O(partitions) at any table size.
    Returns the removed partition paths.
    """
    import datetime

    from py4j.java_gateway import java_import

    # UTC, not driver-local: partitions are dated from UTC timestamps
    # (to_date under the session's UTC timezone), so a local-date cutoff
    # could be a day off and delete a partition still inside the window.
    cutoff = (
        datetime.datetime.now(datetime.timezone.utc).date()
        - datetime.timedelta(days=retain_days)
    ).isoformat()
    jvm = spark.sparkContext._jvm
    java_import(jvm, "org.apache.hadoop.fs.Path")
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.Path(base_path)
    fs = root.getFileSystem(conf)
    removed = []
    if not fs.exists(root):
        return removed
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if name.startswith("dt=") and name[3:] < cutoff:
            fs.delete(status.getPath(), True)
            removed.append(str(status.getPath()))
    return removed
