"""The traced run: every layer once, inside spans, on the workload's records.

The workload's own job runs once untraced and once traced (their ratio is
``trace.overhead_frac``).  The jobs of the other two lanes and the probes
that isolate a lower layer run traced on the same records, so every
per-layer metric is measured on every workload.  Where a layer can only
be forced together with the layers below it, the lower layer is timed
alone and the difference reported:

  sources.scan_s                 noop write of the backlog
  operators.pipeline.events_s    dynamic events -> noop, minus the scan
  operators.typed_diff.events_s  typed events -> noop, minus the scan
  sink.write_s                   dynamic events -> parquet, minus -> noop
"""

from __future__ import annotations

import json
import os
import shutil
import time

import check
import lanes
from measure import ROOT, dir_bytes, steal_seconds
from spans import Tracer, job_counts, last_execution, python_rows

from cdk_dynamodb_cdc_spark.api import CdcPipeline

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.scan_s": "s",
    "streaming.latest_offset_ms_p50": "ms",
    "streaming.get_batch_ms_p50": "ms",
    "functions.unmarshall_us_per_record": "us",
    "functions.diff_us_per_record": "us",
    "operators.pipeline.events_s": "s",
    "operators.pipeline.quarantine_s": "s",
    "operators.pipeline.jobs": "count",
    "operators.pipeline.stages": "count",
    "operators.pipeline.tasks": "count",
    "operators.pipeline.diff_passes": "ratio",
    "operators.pipeline.events_out": "count",
    "operators.pipeline.noop_dropped": "count",
    "operators.pipeline.guard_dropped": "count",
    "operators.pipeline.dead_letters": "count",
    "operators.typed_diff.events_s": "s",
    "operators.typed_diff.jobs": "count",
    "operators.typed_diff.stages": "count",
    "operators.typed_diff.tasks": "count",
    "operators.claim_check.side_store_s": "s",
    "operators.claim_check.rows_written": "count",
    "operators.claim_check.bytes_written": "B",
    "operators.claim_check.useful_ratio": "ratio",
    "sink.write_s": "s",
    "sink.bytes_written": "B",
    "sink.files_written": "count",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.overhead_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.jobs_per_batch": "count",
    "streaming.tasks_per_batch": "count",
    "streaming.batches": "count",
    "streaming.unaccounted_records": "count",
    "jvm.heap_used_after_gc_mb": "MB",
    "host.steal_s": "s",
    "bench.generate_s": "s",
    "trace.overhead_frac": "fraction",
    "check.failed_frac": "fraction",
}

_LANE_OF = {"backfill_dynamic": "dynamic", "stream_trickle": "stream"}


def _rows(path: str) -> int:
    return len(check.read_parquet_dir(path, ["event_id"])["event_id"])


def _untraced_job(r, tracer, k: int) -> float:
    out = os.path.join(r.tmp, f"untraced-{k}")
    t0 = time.perf_counter()
    r.job(r.input, out, tracer.off())
    wall = time.perf_counter() - t0
    shutil.rmtree(out, ignore_errors=True)
    return wall


def _heap_used_after_gc(spark) -> int:
    """Bytes of driver heap still in use after a full collection: the
    live heap the driver keeps once a job has finished."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mem.getHeapMemoryUsage().getUsed()


def run(r) -> dict:
    r.generate_s = r.generate()
    tracer = Tracer(f"{r.workload}-seed{r.args.seed}", enabled=True)
    r.setup(tracer)
    spark = r.spark
    sc = spark.sparkContext
    backlog = os.path.join(r.input, "backlog")
    source = os.path.join(r.input, "source")
    expects = check.load_expects(os.path.join(r.input, "expect.jsonl"))
    n = len(expects)
    records = []
    for name in sorted(os.listdir(source)):
        with open(os.path.join(source, name)) as fh:
            records += [json.loads(line) for line in fh]
    micro = lanes.functions_microbench(records, expects)
    del records

    own = _LANE_OF[r.workload]
    untraced = [_untraced_job(r, tracer, 0)]

    steal0 = steal_seconds()
    outs = {}
    ex0 = last_execution(spark)
    with tracer.span("job"):
        outs[own] = r.job(r.input, os.path.join(r.tmp, "own"), tracer)
    if own == "dynamic":
        diff_rows = python_rows(spark, ex0)
    heap_used = _heap_used_after_gc(spark)
    # untraced runs on both sides of the traced one, so the order of runs
    # does not bias trace.overhead_frac
    untraced.append(_untraced_job(r, tracer, 1))
    untraced_s = sum(untraced) / len(untraced)
    jobs = {"dynamic": (lanes.backfill_dynamic, backlog),
            "typed": (lanes.backfill_typed, backlog),
            "stream": (lanes.stream_trickle, source)}
    for lane, (fn, src) in jobs.items():
        if lane == own:
            continue
        ex0 = last_execution(spark)
        with tracer.span(f"probe.{lane}"):
            outs[lane] = fn(spark, src, os.path.join(r.tmp, lane), tracer)
        if lane == "dynamic":
            diff_rows = python_rows(spark, ex0)

    records_df = lanes.read_backlog(spark, r.workload, backlog, source)
    with tracer.span("sources.scan"):
        lanes.noop_write(records_df)
    ex0 = last_execution(spark)
    with tracer.span("pipeline.events.noop"):
        lanes.noop_write(CdcPipeline().events(records_df))
    one_pass_rows = python_rows(spark, ex0)
    with tracer.span("typed_diff.events.noop"):
        lanes.noop_write(CdcPipeline(item_schema=lanes.ITEM_SCHEMA).events(records_df))
    steal = steal_seconds() - steal0

    dyn, stream = outs["dynamic"], outs["stream"]
    scan_s = tracer.seconds("sources.scan")
    sink_s = tracer.seconds("pipeline.events.parquet") - \
        tracer.seconds("pipeline.events.noop")
    pipe_counts = {k: tracer.subtree("pipeline.events.parquet")[k] +
                   tracer.subtree("pipeline.quarantine.parquet")[k]
                   for k in ("jobs", "stages", "tasks")}
    typed_counts = tracer.subtree("typed_diff.events.parquet")

    events_out, dead_letters = _rows(dyn["events"]), _rows(dyn["dead"])
    o = outs[own]
    side = check.read_parquet_dir(o["side"], ["event_id"])["event_id"]
    ev = check.read_parquet_dir(o["events"], ["event_id", "images_url"])
    claimed = {e for e, u in zip(ev["event_id"], ev["images_url"]) if u is not None}
    side_bytes, _ = dir_bytes(o["side"])
    sink_bytes, sink_files = dir_bytes(o["events"], o.get("dead"))

    progress = stream["progress"]
    batches = len(progress)
    stream_jobs = job_counts(sc, [stream["run_id"]])
    # numInputRows counts every read of a trigger's batch, so the input
    # is taken from the files consumed (all of them under availableNow)
    in_rows = n
    stream_events = _rows(stream["events"])
    noops = sum(e["class"] == "noop" for e in expects)
    guards = sum(e["class"] == "guard" for e in expects)

    def p50(key):
        return lanes.median(lanes.trigger_ms(progress, key))

    overhead = [t - a for t, a in zip(lanes.trigger_ms(progress, "triggerExecution"),
                                      lanes.trigger_ms(progress, "addBatch"))]
    result = check.check_output(expects, o)
    metrics = {
        "session.start_s": tracer.seconds("session.start"),
        "session.warmup_s": tracer.seconds("session.warmup"),
        "sources.scan_s": scan_s,
        "streaming.latest_offset_ms_p50": p50("latestOffset"),
        "streaming.get_batch_ms_p50": p50("getBatch"),
        "functions.unmarshall_us_per_record": micro["unmarshall_us"],
        "functions.diff_us_per_record": micro["diff_us"],
        "operators.pipeline.events_s": tracer.seconds("pipeline.events.noop") - scan_s,
        "operators.pipeline.quarantine_s": tracer.seconds("pipeline.quarantine.parquet"),
        "operators.pipeline.jobs": pipe_counts["jobs"],
        "operators.pipeline.stages": pipe_counts["stages"],
        "operators.pipeline.tasks": pipe_counts["tasks"],
        "operators.pipeline.diff_passes": diff_rows / n,
        "operators.pipeline.events_out": events_out,
        "operators.pipeline.noop_dropped": one_pass_rows - events_out - dead_letters,
        "operators.pipeline.guard_dropped": n - one_pass_rows,
        "operators.pipeline.dead_letters": dead_letters,
        "operators.typed_diff.events_s":
            tracer.seconds("typed_diff.events.noop") - scan_s,
        "operators.typed_diff.jobs": typed_counts["jobs"],
        "operators.typed_diff.stages": typed_counts["stages"],
        "operators.typed_diff.tasks": typed_counts["tasks"],
        "operators.claim_check.side_store_s": tracer.seconds("claim_check.side_store"),
        "operators.claim_check.rows_written": len(side),
        "operators.claim_check.bytes_written": side_bytes,
        "operators.claim_check.useful_ratio":
            sum(e in claimed for e in side) / len(side) if side else 0.0,
        "sink.write_s": sink_s,
        "sink.bytes_written": sink_bytes,
        "sink.files_written": sink_files,
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.overhead_ms_p50": lanes.median(overhead),
        "streaming.wal_commit_ms_p50": p50("walCommit"),
        "streaming.commit_offsets_ms_p50": p50("commitOffsets"),
        "streaming.query_planning_ms_p50": p50("queryPlanning"),
        "streaming.jobs_per_batch": stream_jobs["jobs"] / batches,
        "streaming.tasks_per_batch": stream_jobs["tasks"] / batches,
        "streaming.batches": batches,
        "streaming.unaccounted_records": in_rows - stream_events - noops - guards,
        "jvm.heap_used_after_gc_mb": heap_used / 2**20,
        "host.steal_s": steal,
        "bench.generate_s": r.generate_s,
        "trace.overhead_frac": tracer.seconds("job") / untraced_s - 1,
        "check.failed_frac": result["failed_frac"],
    }
    r.notes.append(f"own job untraced {untraced} s, traced "
                   f"{tracer.seconds('job'):.3f} s")
    r.notes.append("self time: " + json.dumps(
        [{k: (round(v, 3) if isinstance(v, float) else v) for k, v in row.items()}
         for row in tracer.self_times()]))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{tracer.run_id}.json")
    tracer.dump(path, {"metrics": metrics, "units": PER_LAYER_UNITS,
                       "untraced_job_s": untraced, "functions": micro,
                       "check": result})
    r.notes.append(f"spans written to {os.path.relpath(path, ROOT)}")
    return r._finish(metrics, PER_LAYER_UNITS, result)
