"""Benchmark of the CDC record->event path.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One run is one fresh process with
fresh temp dirs under ``.perfbench_tmp/`` (removed at exit):

1. ``gen.py`` (a child process) writes the seeded records, the expected
   outcome of every record, and a fixed warm-up slice.
2. Set-up: start the Spark session and run the workload's whole job once
   on the warm-up slice (events, dead letters and side store, or six
   triggers).  ``setup_s`` counts from process start, so it includes the
   interpreter, the JVM launch and the cold first pass; the input
   generation is excluded.
3. ``--trace 0``: run the workload's job a fixed number of times back to
   back (``--seconds`` divided by the job's nominal length, at least
   once, so every run times the same work), then check the last job's
   output against the expectations and print the end-to-end metrics.  ``--trace 1``: run
   every layer once inside spans and print the per-layer metrics; spans
   and a self-time table go to ``.perfbench_out/``.

Every workload prints every end-to-end metric.  A microbatch is one
trigger on stream_trickle; on backfill_dynamic it is the events-to-parquet
action of a job, the wait until a replayed backlog's events are written
(the dead letters and side store that follow are not in it, but are in
``records_per_s``).

Workloads (closed loop, one process driving ``local[<cores>]``, both on
the same generated records):

  backfill_dynamic  a parquet backlog of wide schemaless items replayed on
                    the dynamic lane: events and dead letters to parquet,
                    offloaded images to the side store
  stream_trickle    the records as 18 JSON-lines files, one file per
                    trigger, through ``run_stream`` with availableNow

The typed lane has no workload of its own (one run of each workload must
fit the time the benchmark is given); the traced run measures it on both.

The last line of stdout is one JSON object: correct, attempted, failed,
metrics.  The lines before it print every metric with its unit, the
correctness breakdown and diagnostics such as ``host.steal_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import check
from gen import PARAMS
from measure import HERE, ROOT, RssSampler, dir_bytes, seconds_since_process_start, \
    steal_seconds, tail
from spans import Tracer

END_TO_END_UNITS = {
    "records_per_s": "rec/s",
    "setup_s": "s",
    "microbatch_p50_s": "s",
    "microbatch_tail_s": "s",
    "sink_bytes_per_record": "B/rec",
    "peak_rss_mb": "MB",
}
# Nominal wall of one job on a 4-core x86-64 VM: a run times
# round(--seconds / nominal) jobs, at least one.  The stream's job is one
# availableNow run of 18 triggers; at run_seconds 10 a run holds one,
# and its 18 triggers give the tail (p75) more than one sample to rest on.
NOMINAL_JOB_S = {"backfill_dynamic": 5.0, "stream_trickle": 30.0}


class Run:
    def __init__(self, args, tmp: str, t_proc0: float):
        self.args = args
        self.workload = args.workload
        self.tmp = tmp
        self.t_proc0 = t_proc0
        self.input = os.path.join(tmp, "input")
        self.warm = os.path.join(tmp, "warmup")
        self.spark = None
        self.generate_s = 0.0
        self.notes: list[str] = []

    # -- set-up --------------------------------------------------------

    def generate(self) -> float:
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), self.tmp,
             str(self.args.seed)],
            check=True,
        )
        return time.perf_counter() - t0

    def start_session(self):
        from cdk_dynamodb_cdc_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        self.spark = get_spark(
            "perfbench",
            master=f"local[{cores}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # A fixed 1 GiB driver heap (initial = maximum): with the
                # engine's default the collector resizes the heap from run
                # to run, and the JVM's resident memory with it (its share
                # of peak_rss_mb ranged 1.2-1.7 GB over five runs of
                # backfill_dynamic on a 4-core x86-64 VM).  So peak_rss_mb
                # does not see changes to the driver's live heap; the
                # traced run reports that as jvm.heap_used_after_gc_mb.
                "spark.driver.memory": "1g",
                "spark.local.dir": os.path.join(self.tmp, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
                # JVM temp files inside the run's dir, and no JVM
                # perf-data file outside it
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(self.tmp, 'jvm-tmp')} "
                    "-XX:-UsePerfData -Xms1g",
            },
        )
        return self.spark

    def job(self, base: str, out: str, tracer):
        import lanes

        if self.workload == "stream_trickle":
            return lanes.stream_trickle(self.spark, os.path.join(base, "source"),
                                        out, tracer)
        return lanes.backfill_dynamic(self.spark, os.path.join(base, "backlog"),
                                      out, tracer)

    def setup(self, tracer) -> float:
        """Session start plus one run of the workload's job on the warm-up
        slice; seconds since process start, less the input generation."""
        with tracer.span("session.start"):
            self.start_session()
        tracer.sc = self.spark.sparkContext if tracer.enabled else None
        out = os.path.join(self.tmp, "warm-out")
        with tracer.span("session.warmup"):
            self.job(self.warm, out, tracer.off())
        shutil.rmtree(out, ignore_errors=True)
        return time.perf_counter() - self.t_proc0 - self.generate_s

    # -- end-to-end run ------------------------------------------------

    def measure(self) -> dict:
        import lanes

        self.generate_s = self.generate()
        tracer = Tracer(self.workload, enabled=False)
        setup_s = self.setup(tracer)
        jobs = max(1, round(self.args.seconds / NOMINAL_JOB_S[self.workload]))
        # sampled over the timed jobs only: the memory the job holds
        with RssSampler() as rss:
            walls, batches = [], []
            steal0 = steal_seconds()
            last = None
            for k in range(jobs):
                out = os.path.join(self.tmp, f"out-{k}")
                t0 = time.perf_counter()
                o = self.job(self.input, out, tracer)
                walls.append(time.perf_counter() - t0)
                if self.workload == "stream_trickle":
                    batches += [ms / 1000 for ms in
                                lanes.trigger_ms(o["progress"], "triggerExecution")]
                else:
                    batches.append(o["events_s"])
                if last is not None:
                    shutil.rmtree(last[0], ignore_errors=True)
                last = (out, o)
            steal = steal_seconds() - steal0
        n = PARAMS["records"]
        out, o = last
        tail_v, tail_p = tail(batches)
        sink_bytes, _ = dir_bytes(o["events"], o.get("dead"), o["side"])
        result = check.check_output(check.load_expects(
            os.path.join(self.input, "expect.jsonl")), o)
        metrics = {
            "records_per_s": n / statistics.median(walls),
            "setup_s": setup_s,
            "microbatch_p50_s": statistics.median(batches),
            "microbatch_tail_s": tail_v,
            "sink_bytes_per_record": sink_bytes / n,
            "peak_rss_mb": rss.peak / 2**20,
        }
        unit = ("trigger" if self.workload == "stream_trickle"
                else "events-to-parquet action of a job")
        self.notes += [
            f"jobs run: {len(walls)}, wall s: {_fmt(walls)}",
            f"microbatch s: {_fmt(batches)}",
            f"microbatch = one {unit}; tail is p{tail_p:.1f} of {len(batches)}",
            f"bench.generate_s {self.generate_s:.3f} s",
            f"host.steal_s {steal:.3f} s",
            f"peak resident MB by process: {rss.describe()}",
        ]
        return self._finish(metrics, END_TO_END_UNITS, result)

    def _finish(self, metrics: dict, units: dict, result: dict) -> dict:
        self.notes += [
            f"failed_frac {result['failed_frac']:.6f} fraction "
            f"({result['failed']} of {result['attempted']})",
            "check breakdown: " + json.dumps(result["breakdown"]),
        ]
        if result["examples"]:
            self.notes.append("first failures: " + json.dumps(result["examples"]))
        for name, v in metrics.items():
            self.notes.append(f"{name} {v:.6g} {units[name]}")
        return {
            "correct": result["failed"] == 0,
            "attempted": result["attempted"],
            "failed": result["failed"],
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }

    # -- traced run ----------------------------------------------------

    def traced(self) -> dict:
        import traced

        return traced.run(self)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM to
    exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _fmt(xs) -> str:
    return "[" + ", ".join(f"{x:.3f}" for x in xs) + "]"


def main(argv=None) -> int:
    t_proc0 = time.perf_counter() - seconds_since_process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["backfill_dynamic", "stream_trickle"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # The engine is built from the checkout this script sits in; without
    # it there is nothing to measure.
    sys.path[:0] = [HERE, ROOT]
    try:
        import cdk_dynamodb_cdc_spark as pkg
    except ImportError as exc:
        print(f"perfbench: engine package not found under {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) != ROOT:
        print(f"perfbench: engine package imported from outside {ROOT}",
              file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(tmp, "jvm-tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(tmp, "jvm-tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    run = Run(args, tmp, t_proc0)
    try:
        result = run.traced() if args.trace else run.measure()
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(tmp, ignore_errors=True)
    for line in run.notes:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
