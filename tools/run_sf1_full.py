"""Full-registry correctness at sf1 (/root/repo/sf1, tools/make_sf1.py).

Runs every registered query through tools/check_correctness.py against
the sf1 corpus in CHUNKS (fresh JVM + fresh DuckDB per chunk, so one
heavy plan can't poison the rest), then composes the chunk artifacts
into one driver-shaped JSON with the exclusion policy recorded.

Round 11 closed the r10 oracle-capacity exclusions (MATERIALIZED
round CTEs, pointer-jumping label rounds, shortlist pre-filtering,
inverted-index exact candidates — see the oracle docstrings in
queries.py); ORACLE_SKIP_SF1 below holds whatever remains excluded,
each with its measured reason. Heavy oracles verified one-at-a-time
by a solo sweep can be merged via SF1_PREVERIFIED_GLOB instead of
re-running inside a chunk.

Usage: python tools/run_sf1_full.py [out.json] [chunk_size]
(``out.json`` defaults to ``correctness.json`` in the chunk directory.)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod  # noqa: E402

# EMPTY as of round 11: all fourteen r10 oracle-capacity exclusions
# are closed. The CTE-replay class (BFS/SSSP/semantic-dedup closures)
# needed MATERIALIZED round CTEs; DBSCAN needed pointer-jumping label
# rounds in place of the Theta(n^2) reach closure; MMR needed the
# shortlist semi-joins pushed below the dimension join; the
# word-3-gram similarity family needed inverted-index exact candidate
# generation (complete for any threshold > 0); and the simhash
# all-pairs bit oracle simply runs (67 s at sf1 — bit_count is cheap
# enough for 1.25e9 pairs). Every closure was verified solo at sf1 in
# the round-11 campaign before this list was emptied; the heavy
# index-join oracles cost 14-22 min each and are merged from the solo
# artifacts via SF1_PREVERIFIED_GLOB.
ORACLE_SKIP_SF1: list[str] = []

SF1 = "/root/repo/sf1"
TMP = "/tmp/sf1_full"


def main() -> int:
    # no default in the repo: a committed artifact is named by its caller
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(TMP, "correctness.json")
    chunk_size = int(sys.argv[2]) if len(sys.argv) > 2 else 28
    names = list(entrymod.queries())
    os.makedirs(TMP, exist_ok=True)
    merged: dict[str, dict] = {}
    env_fp = None
    failed_chunks = []
    # Pre-verified per-query results (the one-at-a-time solo sweeps a
    # round runs FIRST for the spill-risk class): point
    # SF1_PREVERIFIED_GLOB at their CHECK_CORRECTNESS_JSON files and
    # the chunked sweep skips those names instead of re-paying 20-30
    # minutes of index-join oracle per query.
    pre_glob = os.environ.get("SF1_PREVERIFIED_GLOB", "")
    if pre_glob:
        import glob as _glob
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd="/root/repo",
            capture_output=True, text=True,
        ).stdout.strip()
        registry = set(entrymod.queries())
        for p in sorted(_glob.glob(pre_glob)):
            d = json.load(open(p))
            pre_env = d.pop("__env__", None) or {}
            # Provenance gate (ADVICE r11): a stale solo artifact from
            # an older commit or a different corpus must not be merged
            # into an artifact that claims "same corpus, same commit".
            pre_commit = pre_env.get("commit")
            pre_sf = pre_env.get("sf_dir")
            # ADVICE r12: absent provenance is NOT a pass. Pre-r12
            # artifacts lack commit/sf_dir; they must be regenerated,
            # not merged on trust. Likewise a dirty working tree at
            # the same HEAD means the query code may differ from what
            # the commit claims — reject it.
            if not pre_commit or not pre_sf:
                print(f"SKIP preverified {p}: missing commit/sf_dir "
                      "provenance (__env__ predates the r12 stamp); "
                      "regenerate with tools/check_correctness.py",
                      flush=True)
                continue
            if pre_env.get("dirty"):
                print(f"SKIP preverified {p}: produced from a DIRTY "
                      f"working tree at {pre_commit[:12]}", flush=True)
                continue
            if head and pre_commit != head:
                print(f"SKIP preverified {p}: commit {pre_commit[:12]} "
                      f"!= HEAD {head[:12]}", flush=True)
                continue
            if os.path.realpath(pre_sf) != os.path.realpath(SF1):
                print(f"SKIP preverified {p}: sf_dir {pre_sf} != {SF1}",
                      flush=True)
                continue
            env_fp = pre_env or env_fp
            for k, v in d.items():
                if k.startswith("__"):
                    continue
                if k not in registry:
                    print(f"SKIP preverified row {k} ({p}): not in the "
                          "current registry", flush=True)
                    continue
                v["preverified_solo"] = os.path.basename(p)
                v["preverified_commit"] = pre_commit
                merged[k] = v
        print(f"preverified solo results: {len(merged)}", flush=True)
    names = [n for n in names if n not in merged]
    chunks = [
        names[i:i + chunk_size] for i in range(0, len(names), chunk_size)
    ]
    for i, chunk in enumerate(chunks):
        part = f"{TMP}/chunk_{i:02d}.json"
        if os.path.exists(part):
            print(f"[chunk {i}] cached: {part}", flush=True)
        else:
            env = dict(os.environ)
            env["CHECK_CORRECTNESS_JSON"] = part
            env["CHECK_CORRECTNESS_ORACLE_SKIP"] = ",".join(ORACLE_SKIP_SF1)
            print(f"[chunk {i}] {len(chunk)} queries: "
                  f"{chunk[0]}..{chunk[-1]}", flush=True)
            try:
                rc = subprocess.call(
                    [sys.executable, "tools/check_correctness.py",
                     SF1, *chunk],
                    env=env, cwd="/root/repo",
                    stdout=open(f"{TMP}/chunk_{i:02d}.log", "w"),
                    stderr=subprocess.STDOUT,
                    timeout=7200,
                )
            except subprocess.TimeoutExpired:
                rc = "timeout"
            print(f"[chunk {i}] rc={rc}", flush=True)
        if not os.path.exists(part):
            failed_chunks.append(i)
            continue
        d = json.load(open(part))
        env_fp = d.pop("__env__", env_fp)
        merged.update({k: v for k, v in d.items() if not k.startswith("__")})
    # Three disjoint buckets (ADVICE r10: skip rows must not count as
    # passes): hash-verified, rows-only (query has no oracle at any
    # SF), and oracle-skipped (capacity exclusion — no comparison ran).
    n_skipped = sum(
        1 for v in merged.values() if v.get("oracle_skipped")
    )
    n_rows_only = sum(
        1 for v in merged.values()
        if not v.get("oracle_skipped") and v.get("oracle_rows") is None
        and v.get("rows_match") and not v.get("err")
    )
    n_pass = sum(
        1 for v in merged.values()
        if v.get("hash_match") and v.get("rows_match")
        and not v.get("err")
    )
    artifact = {
        "note": os.environ.get("SWEEP_NOTE") or (
            f"FULL-registry correctness at sf1 over the current "
            f"{len(merged)}-query registry (10x the sf0.1 robustness "
            "sweep, 100x the driver gate): every registered query ran "
            "its Spark plan on the sf1 corpus and, unless listed in "
            "oracle_excluded, was hash-compared against its DuckDB "
            "oracle at sf1. Entries carrying preverified_solo were "
            "verified one-at-a-time by a solo sweep whose artifact "
            "commit/corpus fingerprint was validated against HEAD and "
            "the sf1 path before merging."
        ),
        "sf_dir": SF1,
        "oracle_excluded": ORACLE_SKIP_SF1,
        "n_queries": len(merged),
        "n_pass": n_pass,
        "n_rows_only": n_rows_only,
        "n_oracle_skipped": n_skipped,
        "failed_chunks": failed_chunks,
        "__env__": env_fp,
        "queries": dict(sorted(merged.items())),
    }
    with open(out, "w") as fh:
        json.dump(artifact, fh, indent=2)
    print(f"wrote {out}: {n_pass} hash-pass + {n_rows_only} rows-only "
          f"+ {n_skipped} oracle-skipped of {len(merged)}, "
          f"{len(failed_chunks)} failed chunks", flush=True)
    ok = n_pass + n_rows_only + n_skipped == len(merged)
    return 0 if ok and not failed_chunks else 1


if __name__ == "__main__":
    sys.exit(main())
