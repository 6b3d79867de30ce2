"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py

1. The same seed gives byte-identical inputs and expectations; another
   seed does not.
2. The check passes output built from the expectations, and flags one
   deliberately corrupted event and one dropped event.
3. Without the engine package next to it, run.py exits non-zero and
   prints no result.
4. A smoke run of each workload, untraced and traced, prints every
   metric of BENCHMARK.json by name with its unit, in its text lines and
   in the final JSON.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import check
import gen
from measure import ROOT

TMP = os.path.join(ROOT, ".perfbench_tmp", f"selftest-{os.getpid()}")


def _input_files(d: str) -> list[str]:
    files = []
    for sub in ("input/source", "input/backlog", "warmup/source", "warmup/backlog"):
        files += [os.path.join(d, sub, f) for f in sorted(os.listdir(os.path.join(d, sub)))]
    return files + [os.path.join(d, "input", "expect.jsonl"),
                    os.path.join(d, "warmup", "expect.jsonl")]


def test_determinism() -> None:
    digests = []
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        d = os.path.join(TMP, name)
        gen.stage(d, seed)
        digests.append(gen.digest(_input_files(d)))
    assert digests[0] == digests[1], "same seed, different inputs"
    assert digests[0] != digests[2], "different seeds, same inputs"


def _perfect_output(expects: list[dict], base: str):
    events = {c: [] for c in check.EVENT_COLUMNS}
    side = set()
    for e in expects:
        ev = e.get("event")
        if ev is None:
            continue
        eid = e["event_id"]
        row = {
            "event_id": eid, "operation": ev["operation"], "pk": ev["pk"],
            "sk": ev["sk"], "attributes_changed": list(reversed(ev["changed"])),
            "before": json.dumps(ev["before"]), "after": json.dumps(ev["after"]),
            "new_image": None if ev["new_image"] is None else json.dumps(ev["new_image"]),
            "old_image": None if ev["old_image"] is None else json.dumps(ev["old_image"]),
            "images_url": f"{base}{eid}.json" if ev["claim"] else None,
        }
        if ev["claim"]:
            side.add(eid)
        for c in check.EVENT_COLUMNS:
            events[c].append(row[c])
    dead = [e["event_id"] for e in expects if e["class"] == "malformed"]
    return events, dead, side


def test_check_flags_faults() -> None:
    _, lines = gen.generate(9, dict(gen.PARAMS, records=2000))
    expects = [json.loads(x) for x in lines]
    base = "side/"
    events, dead, side = _perfect_output(expects, base)
    ok = check.check(expects, events, claim_check_base=base,
                     dead_letter_ids=dead, side_ids=side)
    assert ok["failed"] == 0, ok["examples"]

    # corrupt one event's diff, drop another event
    modify = [i for i, e in enumerate(expects) if e["class"] == "modify"]
    ids = events["event_id"]
    corrupt = ids.index(expects[modify[0]]["event_id"])
    events["attributes_changed"][corrupt] = events["attributes_changed"][corrupt][1:]
    drop = ids.index(expects[modify[1]]["event_id"])
    for c in events:
        del events[c][drop]
    bad = check.check(expects, events, claim_check_base=base,
                      dead_letter_ids=dead, side_ids=side)
    assert bad["failed"] == 2, bad
    assert bad["breakdown"].get("wrong/modify") == 1, bad["breakdown"]
    assert bad["breakdown"].get("missing/modify") == 1, bad["breakdown"]


def _run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


def test_refuses_without_engine() -> None:
    d = os.path.join(TMP, "bare")
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
    p = _run(["--workload", "stream_trickle", "--seed", "1", "--seconds", "1",
              "--trace", "0"], d)
    assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout)


def test_smoke_prints_every_metric() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in bench["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            p = _run(["--workload", w["name"], "--seed", "3", "--seconds", "1",
                      "--trace", str(trace)], ROOT)
            assert p.returncode == 0, p.stderr[-2000:]
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}
            assert result["correct"] and result["attempted"] >= 1, lines[:-1]
            names = {m["name"]: m["unit"] for m in bench[kind]}
            assert set(result["metrics"]) == set(names), (w["name"], trace)
            for name, unit in names.items():
                assert result["metrics"][name]["unit"] == unit
                assert any(x.startswith(f"{name} ") and x.endswith(f" {unit}")
                           for x in lines[:-1]), (name, unit)
            print(f"smoke {w['name']} trace={trace}: ok", flush=True)


def main() -> int:
    os.makedirs(TMP, exist_ok=True)
    try:
        for test in (test_determinism, test_check_flags_faults,
                     test_refuses_without_engine, test_smoke_prints_every_metric):
            test()
            print(f"{test.__name__}: ok", flush=True)
    finally:
        shutil.rmtree(TMP, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
