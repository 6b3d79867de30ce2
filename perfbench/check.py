"""Check a job's output against the generator's expectations.

Runs outside the timed section.  Every input record is one attempt; it
fails when its event is missing, extra (including duplicates), or wrong
in any of: operation, pk/sk, ``attributes_changed`` as a set,
before/after, which image is inlined, and whether ``images_url`` is null
(and, when set, that it points at a side-store row for the record).  A
malformed record must produce no event, and in the batch dynamic lane
exactly one dead-letter row.  Events whose ``event_id`` matches no input
record count as extra attempts that failed.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from decimal import Decimal


def read_parquet_dir(path: str, columns: list[str]) -> dict[str, list]:
    """Columns of a Spark parquet output (hive partitions allowed) as lists;
    an output that was never written reads as empty."""
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return {c: [] for c in columns}
    table = ds.dataset(path, format="parquet", partitioning="hive",
                       exclude_invalid_files=True).to_table(columns=columns)
    return {c: table.column(c).to_pylist() for c in columns}


def _json(text):
    return None if text is None else json.loads(text, parse_float=Decimal)


def _normalize(expected):
    """Expectation values go through the same Decimal-exact JSON parse as
    the engine's output, so numbers compare by value."""
    return json.loads(json.dumps(expected), parse_float=Decimal)


def _event_diffs(exp: dict, row: dict, url: str, side_ids: set) -> list[str]:
    bad = []
    for field in ("operation", "pk", "sk"):
        if row[field] != exp[field]:
            bad.append(field)
    changed = row["attributes_changed"] or []
    if len(changed) != len(set(changed)) or set(changed) != set(exp["changed"]):
        bad.append("attributes_changed")
    for field in ("before", "after", "new_image", "old_image"):
        if _json(row[field]) != _normalize(exp[field]):
            bad.append(field)
    if exp["claim"]:
        if row["images_url"] != url:
            bad.append("images_url")
        elif row["event_id"] not in side_ids:
            bad.append("side_store")
    elif row["images_url"] is not None:
        bad.append("images_url")
    return bad


def check(expects: list[dict], events: dict[str, list], *,
          claim_check_base: str, dead_letter_ids: list | None,
          side_ids: set) -> dict:
    """Compare outputs with ``expects``.

    ``events``: columns of the event output.  ``dead_letter_ids``: event ids
    of dead-letter rows, or None where the lane has no dead-letter output.
    Returns attempted, failed, a breakdown {"<outcome>/<class>": n} and the
    first few failures."""
    rows_by_id: dict[str, list[dict]] = {}
    cols = list(events)
    for vals in zip(*(events[c] for c in cols)):
        row = dict(zip(cols, vals))
        rows_by_id.setdefault(row["event_id"], []).append(row)
    dead = Counter(dead_letter_ids or [])

    breakdown: Counter = Counter()
    examples: list[dict] = []
    failed = 0

    def fail(outcome: str, cls: str, eid, detail=None) -> None:
        nonlocal failed
        failed += 1
        breakdown[f"{outcome}/{cls}"] += 1
        if len(examples) < 10:
            examples.append({"event_id": eid, "outcome": outcome,
                             "class": cls, "detail": detail})

    seen = set()
    for e in expects:
        eid = e["event_id"]
        seen.add(eid)
        exp = e.get("event")
        cls = "claim-check" if exp and exp["claim"] else e["class"]
        rows = rows_by_id.get(eid, [])
        if exp is None:
            if rows:
                fail("extra", cls, eid, "event emitted")
                continue
        elif not rows:
            fail("missing", cls, eid, "no event")
            continue
        elif len(rows) > 1:
            fail("extra", cls, eid, f"{len(rows)} events")
            continue
        else:
            url = f"{claim_check_base}{eid}.json"
            bad = _event_diffs(exp, rows[0], url, side_ids)
            if bad:
                fail("wrong", cls, eid, bad)
                continue
        if dead_letter_ids is not None:
            want = 1 if e["class"] == "malformed" else 0
            if dead[eid] < want:
                fail("missing", cls, eid, "no dead letter")
                continue
            if dead[eid] > want:
                fail("extra", cls, eid, f"{dead[eid]} dead letters")
                continue
        breakdown[f"ok/{cls}"] += 1

    unknown = [eid for eid in rows_by_id if eid not in seen]
    unknown += [eid for eid in dead if eid not in seen]
    for eid in unknown:
        fail("extra", "unknown", eid, "event_id not in input")
    attempted = len(expects) + len(unknown)
    return {
        "attempted": attempted,
        "failed": failed,
        "failed_frac": failed / attempted,
        "breakdown": dict(sorted(breakdown.items())),
        "examples": examples,
    }


def load_expects(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh]


EVENT_COLUMNS = ["event_id", "operation", "pk", "sk", "attributes_changed",
                 "before", "after", "new_image", "old_image", "images_url"]


def check_output(expects: list[dict], out: dict) -> dict:
    """Check one job's output directories (``out``: events, dead, side,
    claim_check_base)."""
    events = read_parquet_dir(out["events"], EVENT_COLUMNS)
    dead = (read_parquet_dir(out["dead"], ["event_id"])["event_id"]
            if out.get("dead") else None)
    side = set(read_parquet_dir(out["side"], ["event_id"])["event_id"])
    return check(expects, events, claim_check_base=out["claim_check_base"],
                 dead_letter_ids=dead, side_ids=side)
