"""Steadiness of the end-to-end metrics over seeds.

    python3 perfbench/steady.py --out A.json --seeds 1 2 3 --workloads stream_trickle
    python3 perfbench/steady.py --compare A.json B.json

The first form runs ``run.py`` once per (workload, seed), one after the
other, and records for every end-to-end metric its values, median,
quartiles (``statistics.quantiles(values, n=4)``) and spread, the
interquartile distance as a share of the median.  The second form
compares two such sets: for each metric, the change of the second median
from the first, next to the metric's bound in BENCHMARK.json.  Two sets
agree on a metric when the change, in either direction, and both
spreads are within the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

from measure import ROOT


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med}


def run_set(workloads: list[str], seeds: list[int], seconds: int) -> dict:
    out: dict = {}
    for w in workloads:
        runs = []
        for seed in seeds:
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w, "--seed",
                 str(seed), "--seconds", str(seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, check=True)
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            steal = next(float(x.split()[1]) for x in lines
                         if x.startswith("host.steal_s"))
            runs.append({"seed": seed, "result": result, "host.steal_s": steal,
                         "notes": lines[:-1]})
            print(w, seed, json.dumps({k: round(v["value"], 4) for k, v in
                                       result["metrics"].items()}), flush=True)
        metrics = {name: summarize([r["result"]["metrics"][name]["value"]
                                    for r in runs])
                   for name in runs[0]["result"]["metrics"]}
        out[w] = {"runs": runs, "metrics": metrics}
    return out


def compare(a_path: str, b_path: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    with open(a_path) as fh:
        a = json.load(fh)["sets"]
    with open(b_path) as fh:
        b = json.load(fh)["sets"]
    rows = {}
    for w in a:
        for name, ma in a[w]["metrics"].items():
            mb = b[w]["metrics"][name]
            change = mb["median"] / ma["median"] - 1
            rows[f"{w}/{name}"] = {
                "median_a": ma["median"], "median_b": mb["median"],
                "spread_a": ma["spread"], "spread_b": mb["spread"],
                "change": change, "bound": bounds[name],
                "ok": max(abs(change), ma["spread"], mb["spread"]) <= bounds[name],
            }
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out")
    ap.add_argument("--seeds", type=int, nargs="+")
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--compare", nargs=2)
    args = ap.parse_args()
    if args.compare:
        rows = compare(*args.compare)
        print("| workload/metric | 1st median (q1-q3) | 1st spread | 2nd median (q1-q3) "
              "| 2nd spread | change | bound | ok |")
        print("|---|---|---|---|---|---|---|---|")
        with open(args.compare[0]) as fa, open(args.compare[1]) as fb:
            sa, sb = json.load(fa)["sets"], json.load(fb)["sets"]
        for key, r in rows.items():
            w, name = key.split("/")
            qa, qb = sa[w]["metrics"][name], sb[w]["metrics"][name]
            print(f"| {key} | {qa['median']:.4g} ({qa['q1']:.4g}-{qa['q3']:.4g}) "
                  f"| {r['spread_a']:.3f} | {qb['median']:.4g} ({qb['q1']:.4g}-"
                  f"{qb['q3']:.4g}) | {r['spread_b']:.3f} | {r['change']:+.3f} "
                  f"| {r['bound']} | {'yes' if r['ok'] else 'NO'} |")
        return 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    seconds = args.seconds or bench["run_seconds"]
    sets = run_set(workloads, args.seeds, seconds)
    with open(args.out, "w") as fh:
        json.dump({"seconds": seconds, "seeds": args.seeds, "sets": sets}, fh,
                  indent=1)
    for w, s in sets.items():
        for name, m in s["metrics"].items():
            print(f"{w} {name}: median {m['median']:.6g} spread {m['spread']:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
