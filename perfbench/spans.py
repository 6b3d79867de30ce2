"""Spans around calls into the engine's layers, kept in memory.

A span records name, start, end, parent and run id.  With a SparkContext
each span also tags the Spark jobs it runs with its own job group, so the
job, stage and task counts of a span come from the status tracker.  A
disabled tracer runs the same code with no bookkeeping at all, which is
how the end-to-end metrics are measured.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool, sc=None):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()

    def off(self) -> "Tracer":
        """A disabled tracer: same calls, no spans."""
        return Tracer(self.run_id, False)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "group": f"{self.run_id}/{len(self.spans)}",
            "start": time.perf_counter() - self._t0,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp["group"])
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            self._set_group(self._stack[-1]["group"] if self._stack else None)
            sp.update(job_counts(self.sc, [sp["group"]]) if self.sc is not None
                      else {"jobs": 0, "stages": 0, "tasks": 0})

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    def find(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def seconds(self, name: str) -> float:
        s = self.find(name)
        return s["end"] - s["start"]

    def subtree(self, name: str) -> dict:
        """jobs/stages/tasks of a span including its descendants."""
        root = self.find(name)
        ids, total = {root["id"]}, {"jobs": 0, "stages": 0, "tasks": 0}
        for s in self.spans:  # parents precede children
            if s["id"] in ids or s["parent"] in ids:
                ids.add(s["id"])
                for k in total:
                    total[k] += s.get(k, 0)
        return total

    def self_times(self) -> list[dict]:
        """Per span: duration and self time (duration minus the union of
        its children's intervals)."""
        rows = []
        for s in self.spans:
            kids = sorted((c["start"], c["end"]) for c in self.spans
                          if c["parent"] == s["id"])
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in kids:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            dur = s["end"] - s["start"]
            rows.append({"name": s["name"], "parent": s["parent"],
                         "total_s": dur, "self_s": dur - covered,
                         "jobs": s.get("jobs", 0), "tasks": s.get("tasks", 0)})
        return rows

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "self_time": self.self_times(), **extra}, fh, indent=1)


def job_counts(sc, groups: list[str]) -> dict:
    """Jobs, stages and tasks the status tracker holds for job groups."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            jobs += 1
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def python_rows(spark, since_execution: int) -> int:
    """Rows that entered Python (MapInPandas / Arrow eval nodes) in SQL
    executions with id > ``since_execution``, read from Spark's SQL status
    store."""
    jvm = spark.sparkContext._jvm
    store = spark._jsparkSession.sharedState().statusStore()
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    rows = 0
    for ex in conv.asJava(store.executionsList()):
        eid = ex.executionId()
        if eid <= since_execution:
            continue
        values = conv.asJava(store.executionMetrics(eid))
        for node in conv.asJava(store.planGraph(eid).allNodes()):
            if "InPandas" not in node.name() and "Arrow" not in node.name():
                continue
            for m in conv.asJava(node.metrics()):
                if m.name() == "number of output rows":
                    v = values.get(m.accumulatorId())
                    if v is not None:
                        rows += int(str(v).replace(",", ""))
    return rows


def last_execution(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    ids = [ex.executionId() for ex in conv.asJava(store.executionsList())]
    return max(ids, default=-1)
