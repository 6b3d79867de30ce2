"""The jobs the workloads time, written the way a user runs them.

Every call into an engine layer sits inside a tracer span, so the same
code serves the untraced end-to-end runs and the traced run.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from pyspark.sql import types as T

from cdk_dynamodb_cdc_spark.api import CdcPipeline
from cdk_dynamodb_cdc_spark.operators.claim_check import write_side_store
from cdk_dynamodb_cdc_spark.schemas import CDC_RECORD_SCHEMA
from cdk_dynamodb_cdc_spark.streaming.stream import read_cdc_stream


def _set_meta(tag: str) -> dict:
    return {"dynamo_type": tag}


# The declared schema of the typed lane: every attribute the generator
# (gen.py) can produce, optional ones included (absent reads as null).
ITEM_SCHEMA = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("email", T.StringType()),
    T.StructField("status", T.StringType()),
    T.StructField("tier", T.StringType()),
    T.StructField("score", T.LongType()),
    T.StructField("balance", T.DoubleType()),
    T.StructField("active", T.BooleanType()),
    T.StructField("verified", T.BooleanType()),
    T.StructField("tags", T.ArrayType(T.StringType()), metadata=_set_meta("SS")),
    T.StructField("lucky", T.ArrayType(T.LongType()), metadata=_set_meta("NS")),
    T.StructField("history", T.ArrayType(T.StringType())),
    T.StructField("items", T.ArrayType(T.StructType([
        T.StructField("sku", T.StringType()),
        T.StructField("qty", T.LongType()),
    ]))),
    T.StructField("prefs", T.StructType([
        T.StructField("theme", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("notify", T.StructType([
            T.StructField("email", T.BooleanType()),
            T.StructField("sms", T.BooleanType()),
            T.StructField("push", T.BooleanType()),
            T.StructField("freq", T.LongType()),
        ])),
    ])),
    T.StructField("address", T.StructType([
        T.StructField("street", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("zip", T.StringType()),
        T.StructField("geo", T.StructType([
            T.StructField("lat", T.DoubleType()),
            T.StructField("lon", T.DoubleType()),
        ])),
    ])),
    T.StructField("version", T.LongType()),
    T.StructField("created", T.StringType()),
    T.StructField("updated", T.StringType()),
    T.StructField("notes", T.StringType()),
    T.StructField("nickname", T.StringType()),
    T.StructField("attachment", T.StringType()),
])


def outputs(out: str, dead: bool) -> dict:
    """Where a job writes: events, dead letters (dynamic batch lane only)
    and the claim-check side store, plus the pointer base of the events."""
    side = os.path.join(out, "side")
    return {
        "events": os.path.join(out, "events"),
        "dead": os.path.join(out, "dead") if dead else None,
        "side": side,
        "claim_check_base": f"{side}/",
    }


def backfill_dynamic(spark, backlog: str, out: str, tracer) -> dict:
    """Replay a backlog on the dynamic lane: events and dead letters to
    parquet, offloaded images to the side store."""
    o = outputs(out, dead=True)
    records = spark.read.parquet(backlog)
    pipe = CdcPipeline(claim_check_base=o["claim_check_base"])
    t0 = time.perf_counter()
    with tracer.span("pipeline.events.parquet"):
        pipe.events(records).write.parquet(o["events"])
    o["events_s"] = time.perf_counter() - t0
    with tracer.span("pipeline.quarantine.parquet"):
        pipe.quarantine(records).write.parquet(o["dead"])
    with tracer.span("claim_check.side_store"):
        write_side_store(records, o["side"])
    return o


def backfill_typed(spark, backlog: str, out: str, tracer) -> dict:
    """Replay a backlog on the typed lane (declared item schema)."""
    o = outputs(out, dead=False)
    records = spark.read.parquet(backlog)
    pipe = CdcPipeline(item_schema=ITEM_SCHEMA,
                       claim_check_base=o["claim_check_base"])
    with tracer.span("typed_diff.events.parquet"):
        pipe.events(records).write.parquet(o["events"])
    with tracer.span("claim_check.side_store.typed"):
        write_side_store(records, o["side"])
    return o


def stream_trickle(spark, source: str, out: str, tracer) -> dict:
    """One availableNow run of the streaming lane over the source files,
    one file per trigger, into a fresh sink and checkpoint."""
    o = outputs(out, dead=False)
    with tracer.span("streaming.run"):
        records = read_cdc_stream(spark, source, starting_position="trim_horizon",
                                  max_files_per_trigger=1)
        query = CdcPipeline().run_stream(
            records,
            sink_path=o["events"],
            checkpoint_path=os.path.join(out, "checkpoint"),
            side_store_path=o["side"],
        )
        query.awaitTermination()
    o["progress"] = [json.loads(p.json) for p in query.recentProgress]
    o["run_id"] = str(query.runId)
    return o


def read_backlog(spark, workload: str, backlog: str, source: str):
    """The records a workload's job reads, as a batch DataFrame."""
    if workload == "stream_trickle":
        return spark.read.schema(CDC_RECORD_SCHEMA).json(source)
    return spark.read.parquet(backlog)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def trigger_ms(progress: list[dict], key: str) -> list[float]:
    return [p["durationMs"].get(key, 0) for p in progress]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def functions_microbench(records: list[dict], expects: list[dict],
                         n: int = 1000, repeats: int = 5) -> dict:
    """Single-threaded unmarshall and diff on a fixed sample, no Spark:
    the per-record cost of the Python the dynamic lane runs, and the
    single-thread baseline for the workload's records."""
    from cdk_dynamodb_cdc_spark.functions.diff import compare_images
    from cdk_dynamodb_cdc_spark.functions.dynamo import unmarshall

    sample = [r for r, e in zip(records, expects)
              if e["class"] not in ("malformed", "guard")][:n]
    un, df = [], []
    for _ in range(repeats):
        t0 = time.perf_counter()
        parsed = [
            (unmarshall(json.loads(r["new_image"])) if r["new_image"] else None,
             unmarshall(json.loads(r["old_image"])) if r["old_image"] else None)
            for r in sample
        ]
        t1 = time.perf_counter()
        for new, old in parsed:
            compare_images(new, old)
        t2 = time.perf_counter()
        un.append((t1 - t0) / len(sample) * 1e6)
        df.append((t2 - t1) / len(sample) * 1e6)
    return {"unmarshall_us": statistics.median(un),
            "diff_us": statistics.median(df), "sample": len(sample)}
