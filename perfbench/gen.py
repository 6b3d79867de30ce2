"""Seeded CDC record generator that knows the correct output of every record.

Each record is built from a plain item (Python values) that is then
marshalled to the DynamoDB AttributeValue wire format.  A MODIFY is an
old item plus a list of mutations, each on its own top-level attribute,
and the expected ``attributes_changed`` / ``before`` / ``after`` are
derived from that mutation list, not by running a diff.  The engine only
ever sees the marshalled records; the expectations are written beside
them (``expect.jsonl``) keyed by ``event_id``.

Record classes (one per record):

  insert, modify, remove  an event is expected
  noop       MODIFY whose new image equals the old one, re-marshalled with
             shuffled set members and attribute order: no event
  malformed  an image that is not valid AttributeValue JSON: no event, and
             in the batch lane one dead-letter row
  guard      ``operation`` is null: dropped by the null guards, no event

Independently of class, a ``big`` share of records carries an
``attachment`` attribute that pushes the marshalled images past the
64 KiB claim-check threshold, with a ``size_bytes`` that matches; every
other record's ``size_bytes`` is its real marshalled size.

Numbers stay inside what both lanes represent exactly: integers as
``long`` and decimals with at most 4 fractional digits below 1e6 (read
as ``double`` by the typed lane, whose shortest round-trip text parses
back to the same decimal).
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import random

# The engine's threshold (schemas.CLAIM_CHECK_THRESHOLD), restated here so
# the generator, which defines the expected output, imports no engine code.
CLAIM_CHECK_THRESHOLD = 64 * 1024

# Generator parameters.  Both workloads replay the same records: the
# batch backlog is staged as ``parquet_files`` files so every core gets
# tasks, and the stream reads the ``files`` JSON-lines files one per
# trigger.  Class shares are fractions of ``records``; ``big`` is the
# share whose images exceed the claim-check threshold.
PARAMS = dict(
    records=9_000, files=18, parquet_files=8, insert=0.08, remove=0.04,
    noop=0.10, malformed=0.005, guard=0.002, big=0.004,
)

# The warm-up slice run inside set-up: same generator, fixed seed, small.
# Six source files, so the stream warms up on six triggers (after one,
# the next two or three triggers still ran slower than the rest, and the
# first triggers of a run are the ones the tail would pick up).
WARMUP = dict(PARAMS, records=1_000, files=6, parquet_files=4)
WARMUP_SEED = 7

_TS0 = datetime.datetime(2024, 3, 1, tzinfo=datetime.timezone.utc)


class StrSet(tuple):
    """A DynamoDB string set (SS); plain value is the sorted list."""


class NumSet(tuple):
    """A DynamoDB number set (NS) of integers."""


_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform "
    "victor whiskey xray yankee zulu"
).split()
_CITIES = ("Austin", "Boston", "Chicago", "Denver", "Miami", "Oakland", "Reno",
           "Seattle", "Tulsa", "Yonkers")
_STATUSES = ("ACTIVE", "PENDING", "SUSPENDED", "CLOSED")
_TIERS = ("free", "basic", "pro", "enterprise")
_THEMES = ("dark", "light", "solarized", "contrast")
_LANGS = ("en", "de", "fr", "es", "ja", "pt")


def _decimal(rng: random.Random, lo: int, hi: int, digits: int) -> float:
    """A float whose shortest text has at most ``digits`` decimals."""
    return round(rng.uniform(lo, hi), digits)


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _stamp(rng: random.Random) -> str:
    t = _TS0 + datetime.timedelta(seconds=rng.randrange(86_400 * 30))
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def make_item(rng: random.Random, idx: int) -> dict:
    """A wide plain item: ~20 attributes, maps nested 2 deep, lists, sets."""
    item = {
        "id": f"u-{idx:08d}",
        "name": f"{rng.choice(_WORDS).title()} {rng.choice(_WORDS).title()}",
        "email": f"{rng.choice(_WORDS)}.{idx}@example.com",
        "status": rng.choice(_STATUSES),
        "tier": rng.choice(_TIERS),
        "score": rng.randrange(1, 10**9),
        "balance": _decimal(rng, 0, 999_999, 2),
        "active": rng.random() < 0.5,
        "verified": rng.random() < 0.5,
        "tags": StrSet(rng.sample(_WORDS, rng.randint(2, 3))),
        "lucky": NumSet(rng.sample(range(1, 1000), rng.randint(2, 3))),
        "history": [_stamp(rng) for _ in range(rng.randint(1, 3))],
        "items": [
            {"sku": f"SKU-{rng.randrange(10**5):05d}", "qty": rng.randint(1, 9)}
            for _ in range(rng.randint(1, 2))
        ],
        "prefs": {
            "theme": rng.choice(_THEMES),
            "lang": rng.choice(_LANGS),
            "notify": {
                "email": rng.random() < 0.5,
                "sms": rng.random() < 0.5,
                "freq": rng.randint(1, 30),
            },
        },
        "address": {
            "street": f"{rng.randint(1, 9999)} {rng.choice(_WORDS).title()} St",
            "city": rng.choice(_CITIES),
            "zip": f"{rng.randrange(10**5):05d}",
            "geo": {
                "lat": _decimal(rng, -80, 80, 4),
                "lon": _decimal(rng, -170, 170, 4),
            },
        },
        "version": rng.randint(1, 500),
        "created": _stamp(rng),
        "updated": _stamp(rng),
    }
    if rng.random() < 0.7:
        item["notes"] = _words(rng, rng.randint(3, 8))
    return item


# -- wire format -----------------------------------------------------------


def marshal(v, rng: random.Random | None = None) -> dict:
    """Plain value -> AttributeValue.  With ``rng``, set members and map
    keys are emitted in shuffled order (equal content, different text)."""
    if isinstance(v, StrSet):
        members = list(v)
        if rng is not None:
            rng.shuffle(members)
        return {"SS": members}
    if isinstance(v, NumSet):
        members = [str(x) for x in v]
        if rng is not None:
            rng.shuffle(members)
        return {"NS": members}
    if isinstance(v, bool):
        return {"BOOL": v}
    if isinstance(v, (int, float)):
        return {"N": repr(v)}
    if isinstance(v, str):
        return {"S": v}
    if isinstance(v, dict):
        return {"M": marshal_item(v, rng)}
    if isinstance(v, list):
        return {"L": [marshal(x, rng) for x in v]}
    raise TypeError(type(v))


def marshal_item(item: dict, rng: random.Random | None = None) -> dict:
    keys = list(item)
    if rng is not None:
        rng.shuffle(keys)
    return {k: marshal(item[k], rng) for k in keys}


def plain(v):
    """Plain value -> the JSON value the engine should emit for it."""
    if isinstance(v, StrSet):
        return sorted(v)
    if isinstance(v, NumSet):
        return sorted(v)
    if isinstance(v, dict):
        return {k: plain(x) for k, x in v.items()}
    if isinstance(v, list):
        return [plain(x) for x in v]
    return v


# -- mutations -------------------------------------------------------------
# Each mutation edits one top-level attribute of ``new`` in place and
# returns (paths, before, after) for that attribute: the dot-paths the
# diff must report and the changed-only subtrees, as plain values.


def _m_scalar(key, choices):
    def mut(rng, old, new):
        new[key] = rng.choice([c for c in choices if c != old[key]])
        return [key], {key: old[key]}, {key: new[key]}
    return mut


def _m_score(rng, old, new):
    new["score"] = old["score"] + rng.randint(1, 1000)
    return ["score"], {"score": old["score"]}, {"score": new["score"]}


def _m_balance(rng, old, new):
    new["balance"] = round(old["balance"] + rng.randint(1, 9999) / 100, 2)
    return ["balance"], {"balance": old["balance"]}, {"balance": new["balance"]}


def _m_flip(key):
    def mut(rng, old, new):
        new[key] = not old[key]
        return [key], {key: old[key]}, {key: new[key]}
    return mut


def _m_tags(rng, old, new):
    extra = rng.choice([w for w in _WORDS if w not in old["tags"]])
    new["tags"] = StrSet(list(old["tags"]) + [extra])
    return ["tags"], {"tags": plain(old["tags"])}, {"tags": plain(new["tags"])}


def _m_history(rng, old, new):
    new["history"] = old["history"] + [_stamp(rng)]
    return ["history"], {"history": old["history"]}, {"history": new["history"]}


def _m_items(rng, old, new):
    items = [dict(x) for x in old["items"]]
    items[rng.randrange(len(items))]["qty"] += rng.randint(1, 5)
    new["items"] = items
    return ["items"], {"items": old["items"]}, {"items": items}


def _m_theme(rng, old, new):
    theme = rng.choice([t for t in _THEMES if t != old["prefs"]["theme"]])
    new["prefs"] = dict(old["prefs"], theme=theme)
    return (["prefs", "prefs.theme"],
            {"prefs": {"theme": old["prefs"]["theme"]}},
            {"prefs": {"theme": theme}})


def _m_sms(rng, old, new):
    notify = old["prefs"]["notify"]
    new["prefs"] = dict(old["prefs"], notify=dict(notify, sms=not notify["sms"]))
    return (["prefs", "prefs.notify", "prefs.notify.sms"],
            {"prefs": {"notify": {"sms": notify["sms"]}}},
            {"prefs": {"notify": {"sms": not notify["sms"]}}})


def _m_push_added(rng, old, new):
    push = rng.random() < 0.5
    new["prefs"] = dict(old["prefs"],
                        notify=dict(old["prefs"]["notify"], push=push))
    return (["prefs", "prefs.notify", "prefs.notify.push"],
            {"prefs": {"notify": {}}},
            {"prefs": {"notify": {"push": push}}})


def _m_lang_removed(rng, old, new):
    prefs = dict(old["prefs"])
    lang = prefs.pop("lang")
    new["prefs"] = prefs
    return (["prefs", "prefs.lang"], {"prefs": {"lang": lang}}, {"prefs": {}})


def _m_lat(rng, old, new):
    geo = old["address"]["geo"]
    lat = round(geo["lat"] + rng.choice((-1, 1)) * rng.randint(1, 999) / 1e4, 4)
    new["address"] = dict(old["address"], geo=dict(geo, lat=lat))
    return (["address", "address.geo", "address.geo.lat"],
            {"address": {"geo": {"lat": geo["lat"]}}},
            {"address": {"geo": {"lat": lat}}})


def _m_city(rng, old, new):
    city = rng.choice([c for c in _CITIES if c != old["address"]["city"]])
    new["address"] = dict(old["address"], city=city)
    return (["address", "address.city"],
            {"address": {"city": old["address"]["city"]}},
            {"address": {"city": city}})


def _m_notes(rng, old, new):
    if "notes" in old:
        del new["notes"]
        return ["notes"], {"notes": old["notes"]}, {}
    new["notes"] = _words(rng, 4)
    return ["notes"], {}, {"notes": new["notes"]}


def _m_nickname(rng, old, new):
    new["nickname"] = rng.choice(_WORDS)
    return ["nickname"], {}, {"nickname": new["nickname"]}


# top-level attribute -> mutations on it (at most one per attribute)
_MUTATIONS = {
    "status": [_m_scalar("status", _STATUSES)],
    "tier": [_m_scalar("tier", _TIERS)],
    "score": [_m_score],
    "balance": [_m_balance],
    "active": [_m_flip("active")],
    "verified": [_m_flip("verified")],
    "tags": [_m_tags],
    "history": [_m_history],
    "items": [_m_items],
    "prefs": [_m_theme, _m_sms, _m_push_added, _m_lang_removed],
    "address": [_m_lat, _m_city],
    "notes": [_m_notes],
    "nickname": [_m_nickname],
}
_MUTABLE = sorted(_MUTATIONS)


def _modify(rng: random.Random, old: dict) -> tuple[dict, list, dict, dict]:
    """Every real MODIFY bumps version and updated, plus 1-3 more attributes."""
    new = dict(old)
    paths: list[str] = []
    before: dict = {}
    after: dict = {}
    new["version"] = old["version"] + 1
    new["updated"] = _stamp(rng)
    while new["updated"] == old["updated"]:
        new["updated"] = _stamp(rng)
    paths += ["version", "updated"]
    before.update(version=old["version"], updated=old["updated"])
    after.update(version=new["version"], updated=new["updated"])
    for key in rng.sample(_MUTABLE, rng.randint(1, 3)):
        p, b, a = rng.choice(_MUTATIONS[key])(rng, old, new)
        paths += p
        before.update(plain(b))
        after.update(plain(a))
    return new, paths, before, after


_dumps = json.JSONEncoder(separators=(",", ":")).encode


class _Image:
    """One item as values plus, per attribute, the JSON text of its wire
    form and of its plain form, so a record re-serializes only the
    attributes it changed."""

    __slots__ = ("val", "wj", "pj")

    def __init__(self, val: dict, wj: dict | None = None, pj: dict | None = None):
        self.val = val
        if wj is None:
            wj, pj = {}, {}
            for k, v in val.items():
                wj[k], pj[k] = _dumps(marshal(v)), _dumps(plain(v))
        self.wj, self.pj = wj, pj

    def copy(self) -> "_Image":
        return _Image(dict(self.val), dict(self.wj), dict(self.pj))

    def set(self, key: str, v) -> None:
        self.val[key] = v
        self.wj[key], self.pj[key] = _dumps(marshal(v)), _dumps(plain(v))

    def sync(self, keys) -> None:
        """Refresh the JSON of ``keys`` after ``val`` changed."""
        for k in keys:
            if k in self.val:
                self.set(k, self.val[k])
            else:
                self.wj.pop(k, None)
                self.pj.pop(k, None)

    def wire(self) -> str:
        return "{" + ",".join(f'"{k}":{t}' for k, t in self.wj.items()) + "}"

    def plain(self) -> str:
        return "{" + ",".join(f'"{k}":{t}' for k, t in self.pj.items()) + "}"


_POOL = 512  # distinct base items per seed; per-record attributes vary on top


def generate(seed: int, params: dict) -> tuple[list, list]:
    """Return (records, expectations): record dicts with the
    CDC_RECORD_SCHEMA fields and marshalled images, and one JSON line per
    record holding its class and, when an event is expected, the event as
    the engine should emit it (images as plain JSON values)."""
    rng = random.Random(seed)
    pool = [_Image(make_item(rng, j)) for j in range(_POOL)]
    records, expects = [], []
    for i in range(params["records"]):
        event_id = f"ev-{seed}-{i:07d}"
        pk, sk = f"USER#{seed}-{i:07d}", "PROFILE"
        old = pool[rng.randrange(_POOL)].copy()
        old.set("id", f"u-{seed}-{i:07d}")
        old.set("score", rng.randrange(1, 10**9))
        old.set("version", rng.randint(1, 500))
        r = rng.random()
        cut = params["insert"]
        if r < cut:
            op, cls = "INSERT", "insert"
        elif r < (cut := cut + params["remove"]):
            op, cls = "REMOVE", "remove"
        elif r < (cut := cut + params["noop"]):
            op, cls = "MODIFY", "noop"
        elif r < (cut := cut + params["malformed"]):
            op, cls = "MODIFY", "malformed"
        elif r < (cut := cut + params["guard"]):
            op, cls = None, "guard"
        else:
            op, cls = "MODIFY", "modify"
        big = rng.random() < params["big"]

        before = after = "{}"
        if cls in ("modify", "malformed", "guard"):
            new_val, paths, b, a = _modify(rng, old.val)
            new = _Image(new_val, dict(old.wj), dict(old.pj))
            new.sync({p.split(".")[0] for p in paths})
            before, after = _dumps(b), _dumps(a)
        elif cls == "noop":
            new, paths = old.copy(), []
        elif cls == "insert":
            new, old = old, None
        else:  # remove
            new = None
        if big:
            # both images of a MODIFY carry the attachment, unchanged
            text = _words(rng, 12)
            n_img = (old is not None) + (new is not None)
            size = (CLAIM_CHECK_THRESHOLD // n_img) + 512
            attachment = (text * (size // len(text) + 1))[:size]
            for img in (old, new):
                if img is not None:
                    img.set("attachment", attachment)
        if cls == "insert":
            paths, after = list(new.val), new.plain()
        elif cls == "remove":
            paths, before = list(old.val), old.plain()

        if cls == "noop":  # same content, different text
            old_wire = _dumps(marshal_item(old.val, rng))
            new_wire = _dumps(marshal_item(new.val, rng))
        else:
            old_wire = old.wire() if old is not None else None
            new_wire = new.wire() if new is not None else None
        if cls == "malformed":
            if rng.random() < 0.5:
                new_wire = new_wire[: len(new_wire) // 2]  # truncated JSON
            else:
                new_wire = new_wire[:-1] + ',"bad":{"SX":"1"}}'  # unknown tag
        size_bytes = len(old_wire or "") + len(new_wire or "")
        ts = _TS0 + datetime.timedelta(milliseconds=i * 37)
        records.append({
            "event_id": event_id,
            "seq": i + 1,
            "ts": ts.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z",
            "operation": op,
            "pk": pk,
            "sk": sk,
            "old_image": old_wire,
            "new_image": new_wire,
            "size_bytes": size_bytes,
        })
        head = f'{{"event_id":"{event_id}","class":"{cls}","big":{_dumps(big)}'
        if cls in ("insert", "modify", "remove"):
            claim = size_bytes >= CLAIM_CHECK_THRESHOLD
            new_img = "null" if claim or new is None else new.plain()
            old_img = old.plain() if not claim and op == "REMOVE" else "null"
            expects.append(
                f'{head},"event":{{"operation":"{op}","pk":"{pk}","sk":"{sk}",'
                f'"changed":{_dumps(sorted(paths))},"before":{before},'
                f'"after":{after},"new_image":{new_img},"old_image":{old_img},'
                f'"claim":{_dumps(claim)}}}}}')
        else:
            expects.append(head + "}")
    return records, expects


def write_inputs(out_dir: str, seed: int, params: dict) -> list[dict]:
    """Write the records as JSON-lines source files (the only input the
    engine receives) plus ``expect.jsonl`` beside them; return the records."""
    records, expects = generate(seed, params)
    src = os.path.join(out_dir, "source")
    os.makedirs(src, exist_ok=True)
    n_files = params["files"]
    per_file = -(-len(records) // n_files)
    for f in range(n_files):
        chunk = records[f * per_file:(f + 1) * per_file]
        with open(os.path.join(src, f"part-{f:05d}.json"), "w") as fh:
            fh.writelines(_dumps(r) + "\n" for r in chunk)
    expect_path = os.path.join(out_dir, "expect.jsonl")
    with open(expect_path, "w") as fh:
        fh.writelines(e + "\n" for e in expects)
    return records


def write_parquet(records: list, path: str, n_files: int) -> None:
    """Stage records as a parquet backlog of ``n_files`` files (pyarrow,
    no Spark job), so the timed job starts from a columnar backlog."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("event_id", pa.string()), ("seq", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")), ("operation", pa.string()),
        ("pk", pa.string()), ("sk", pa.string()),
        ("old_image", pa.string()), ("new_image", pa.string()),
        ("size_bytes", pa.int64()),
    ])
    os.makedirs(path, exist_ok=True)
    per_file = -(-len(records) // n_files)
    for f in range(n_files):
        chunk = records[f * per_file:(f + 1) * per_file]
        cols = {name: [r[name] for r in chunk] for name in schema.names}
        cols["ts"] = [
            datetime.datetime.strptime(t, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
                tzinfo=datetime.timezone.utc)
            for t in cols["ts"]
        ]
        pq.write_table(pa.table(cols, schema=schema),
                       os.path.join(path, f"part-{f:05d}.parquet"))


def digest(paths: list[str]) -> str:
    """sha256 over the bytes of ``paths`` in order (determinism self-test)."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def stage(out_dir: str, seed: int) -> None:
    """Write the inputs of a run: JSON-lines source files, expectations, a
    parquet backlog of the same records, and the fixed warm-up slice."""
    for sub, seed_, params in (("input", seed, PARAMS),
                               ("warmup", WARMUP_SEED, WARMUP)):
        records = write_inputs(os.path.join(out_dir, sub), seed_, params)
        write_parquet(records, os.path.join(out_dir, sub, "backlog"),
                      params["parquet_files"])


if __name__ == "__main__":
    import sys

    # python3 gen.py <out_dir> <seed>
    stage(sys.argv[1], int(sys.argv[2]))
