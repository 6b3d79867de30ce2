"""CDC throughput benchmark: absolute records/sec through the engine's
record->event transform (both lanes) and the end-to-end Structured
Streaming pipeline (source -> pipeline -> idempotent sink, checkpointed).

The reference processes DynamoDB stream records one at a time in a
1024 MB Node.js Lambda (per-record try/catch, EventBridge publish;
/root/reference/lib/lambda/dynamo-stream-handler.ts) — its envelope is
bounded by per-record JS handling and the EventBridge PutEvents quota.
The engine runs the SAME semantic work (unmarshall -> recursive diff ->
no-op suppression -> event construction -> claim-check branch) as a
columnar Spark plan; this harness records what that is worth in
records/sec on one node, and is the absolute-throughput companion to
the lane-relative note in SCALING.md. Its typed lane declares two
fields; on the benchmark's 21-field items (perfbench/) the typed lane
is 4-10x slower than the dynamic lane (SCALING.md, ROADMAP direction B),
so a typed win here does not carry to wide items.

Method: synthesize the marshalled CDC record corpus from the events
table (untimed), replicate it with disjoint pk spaces to a target row
count so the measurement is not scheduler-bound (untimed, written to
parquet once), then time:

  * dynamic lane  — cdc_change_events (fused Arrow mapInPandas diff)
  * typed lane    — cdc_change_events_typed (pure Column codegen)
  * streaming e2e — JSON-shard source -> read_cdc_stream(trim_horizon,
    maxFilesPerTrigger) -> CdcPipeline.run_stream availableNow -> parquet sink
    with dynamic-partition-overwrite idempotence + checkpoint commits

Best-of-N wall per lane; /proc/stat steal sampled around each lane so
a contended window is visible in the artifact (bench.py's attribution
pattern). Usage:

    python tools/run_stream_bench.py [sf_dir] [out_json] [target_rows]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from cdk_dynamodb_cdc_spark.session import engine_env, get_spark  # noqa: E402


def steal_jiffies() -> int | None:
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/stream_bench.json"
    target_rows = int(sys.argv[3]) if len(sys.argv) > 3 else 2_000_000
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))

    from cdk_dynamodb_cdc_spark.operators.pipeline import cdc_change_events
    from cdk_dynamodb_cdc_spark.operators.typed_diff import (
        cdc_change_events_typed,
    )
    from cdk_dynamodb_cdc_spark.queries import synthesize_cdc_records
    from cdk_dynamodb_cdc_spark.api import CdcPipeline
    from cdk_dynamodb_cdc_spark.streaming.stream import read_cdc_stream

    spark = get_spark("stream_bench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm-up

    work = tempfile.mkdtemp(prefix="stream_bench_")
    base = synthesize_cdc_records(spark, sf_dir)
    n_base = base.count()
    n_rep = max(1, (target_rows + n_base - 1) // n_base)
    # disjoint pk/event spaces per replica: the per-key version
    # structure (seq, INSERT-then-MODIFY chains) is byte-identical per
    # replica, so the workload scales the way a real table grows — in
    # items, not in per-item history depth
    reps = spark.range(n_rep).select(F.col("id").cast("int").alias("rep"))
    records = (
        base.crossJoin(F.broadcast(reps))
        .select(
            F.concat_ws("#", "event_id", F.col("rep").cast("string")).alias(
                "event_id"
            ),
            "seq",
            "ts",
            "operation",
            F.concat_ws("#", "pk", F.col("rep").cast("string")).alias("pk"),
            "sk",
            "old_image",
            "new_image",
            "size_bytes",
        )
    )
    rec_path = os.path.join(work, "records.parquet")
    records.write.mode("overwrite").parquet(rec_path)
    rec = spark.read.parquet(rec_path)
    n_records = rec.count()

    def lane(fn) -> dict:
        s0 = steal_jiffies()
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        s1 = steal_jiffies()
        return {
            "sec": round(best, 3),
            "rows_per_sec": int(n_records / best),
            "steal_jiffies": (s1 - s0)
            if s0 is not None and s1 is not None
            else None,
        }

    item_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    dynamic = lane(lambda: cdc_change_events(rec))
    typed = lane(lambda: cdc_change_events_typed(rec, item_schema))

    # streaming end-to-end: shard the records as JSON-lines files (the
    # stream source format), then one availableNow pass through the
    # full checkpointed pipeline into a parquet sink
    src_dir = os.path.join(work, "stream_src")
    n_shards = 16
    rec.repartition(n_shards).write.mode("overwrite").json(src_dir)
    stream_runs = []
    for i in range(runs):
        sink = os.path.join(work, f"sink_{i}")
        ckpt = os.path.join(work, f"ckpt_{i}")
        s0 = steal_jiffies()
        t0 = time.perf_counter()
        stream = read_cdc_stream(
            spark,
            src_dir,
            starting_position="trim_horizon",
            max_files_per_trigger=4,
        )
        q = CdcPipeline().run_stream(
            stream,
            sink_path=sink,
            checkpoint_path=ckpt,
            available_now=True,
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        s1 = steal_jiffies()
        n_out = spark.read.parquet(sink).count()
        stream_runs.append(
            {
                "sec": round(wall, 3),
                "rows_per_sec": int(n_records / wall),
                "n_events_out": n_out,
                "steal_jiffies": (s1 - s0)
                if s0 is not None and s1 is not None
                else None,
            }
        )
    best_stream = min(stream_runs, key=lambda r: r["sec"])

    out = {
        "metric": "cdc_records_per_sec",
        "sf_dir": sf_dir,
        "n_records": n_records,
        "n_replicas": n_rep,
        "runs_per_lane": runs,
        "dynamic_lane": dynamic,
        "typed_lane": typed,
        "streaming_e2e": best_stream,
        "streaming_runs": stream_runs,
        "stream_micro_batches": n_shards // 4,
        "note": (
            "records/sec through the full record->event transform "
            "(unmarshall, recursive diff, no-op suppression, event "
            "construction, claim-check branch). streaming_e2e includes "
            "source listing, checkpoint commits, and the idempotent "
            "parquet sink. The reference's envelope for the same work "
            "is a per-record Node.js handler in a 1024 MB Lambda "
            "(BASELINE.md) bounded by the EventBridge PutEvents quota "
            "(default 10k entries/sec/region)."
        ),
        "__env__": engine_env(spark),
    }
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({k: out[k] for k in
                      ("n_records", "dynamic_lane", "typed_lane",
                       "streaming_e2e")}))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
