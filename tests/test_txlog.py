"""Transaction-log table (storage/txlog.py): atomic versioned commits,
time travel, idempotent batch commits, optimistic-concurrency races,
vacuum, and the exactly-once streaming sink lane."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from cdk_dynamodb_cdc_spark import CdcPipeline
from cdk_dynamodb_cdc_spark.storage import TxTable, txlog_sink_writer


def _df(spark, vals):
    return spark.createDataFrame([(v, f"r{v}") for v in vals], "id long, s string")


def test_append_commits_and_snapshot(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "tbl"))
    assert t.commit(_df(spark, [1, 2])) == 0
    assert t.commit(_df(spark, [3])) == 1
    got = sorted(r["id"] for r in t.snapshot().collect())
    assert got == [1, 2, 3]


def test_time_travel_and_overwrite(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.commit(_df(spark, [1, 2]))
    t.commit(_df(spark, [3]))
    t.commit(_df(spark, [99]), mode="overwrite")
    assert sorted(r["id"] for r in t.snapshot().collect()) == [99]
    assert sorted(r["id"] for r in t.snapshot(version=1).collect()) == [
        1,
        2,
        3,
    ]
    assert sorted(r["id"] for r in t.snapshot(version=0).collect()) == [
        1,
        2,
    ]


def test_replayed_batch_id_commits_nothing(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "tbl"))
    assert t.commit(_df(spark, [1]), app_id="app", batch_id=0) == 0
    # replay of the same (app_id, batch_id): skipped, no new version
    assert t.commit(_df(spark, [1]), app_id="app", batch_id=0) is None
    assert t.latest_version() == 0
    assert t.snapshot().count() == 1
    # a NEW batch id commits normally
    assert t.commit(_df(spark, [2]), app_id="app", batch_id=1) == 1


def test_optimistic_concurrency_retries_next_version(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.commit(_df(spark, [1]))
    # Simulate a concurrent committer stealing version 1: write its
    # manifest directly, then commit through the API.
    rogue = {
        "version": 1,
        "mode": "append",
        "live": t.manifest(0)["live"],
        "schema": _df(spark, [0]).schema.json(),
        "app_id": None,
        "batch_id": None,
    }
    assert t._create_exclusive(t._manifest_path(1), json.dumps(rogue))
    v = t.commit(_df(spark, [2]))
    assert v == 2  # lost the race for 1, retried, won 2
    assert sorted(r["id"] for r in t.snapshot().collect()) == [1, 2]


def test_crashed_commit_files_stay_invisible_and_vacuumable(
    spark, tmp_path
):
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.commit(_df(spark, [1]))
    # a crashed job: data files written, no manifest published
    _df(spark, [777]).write.parquet(str(tmp_path / "tbl/data/c-crashed"))
    assert sorted(r["id"] for r in t.snapshot().collect()) == [1]
    deleted = t.vacuum(retain_last=1, retention_seconds=0)
    assert any("c-crashed" in f for f in deleted)
    assert sorted(r["id"] for r in t.snapshot().collect()) == [1]


def test_vacuum_prunes_time_travel_beyond_retention(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.commit(_df(spark, [1]))
    t.commit(_df(spark, [2]), mode="overwrite")
    deleted = t.vacuum(retain_last=1, retention_seconds=0)
    assert deleted  # version 0's exclusive file went away
    assert sorted(r["id"] for r in t.snapshot().collect()) == [2]
    with pytest.raises(Exception):
        t.snapshot(version=0).collect()  # vacuumed history is gone


def test_empty_overwrite_keeps_schema(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.commit(_df(spark, [1]))
    t.commit(_df(spark, []).limit(0), mode="overwrite")
    snap = t.snapshot()
    assert snap.count() == 0
    assert snap.columns == ["id", "s"]


def test_streaming_sink_is_exactly_once_across_restart(spark, tmp_path):
    """End-to-end: the CDC pipeline streams into the txlog sink; a
    second run over the same checkpoint (plus new data) adds only the
    new batch, and replays publish nothing twice."""
    import datetime
    import json as _json

    from cdk_dynamodb_cdc_spark.sources.cdc_shards import (
        append_cdc_records,
        read_cdc_shards_stream,
    )

    shards = str(tmp_path / "shards")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def rec(seq, pk):
        return {
            "event_id": f"e{seq}",
            "seq": seq,
            "ts": datetime.datetime(2024, 1, 1, 0, 0, seq),
            "operation": "INSERT",
            "pk": pk,
            "sk": "v0",
            "old_image": None,
            "new_image": _json.dumps({"v": {"N": str(seq)}}),
            "size_bytes": 30,
        }

    append_cdc_records(shards, "0000", [rec(1, "A"), rec(2, "B")])
    writer = txlog_sink_writer(spark, sink, app_id="cdc-test")

    def run_once():
        q = CdcPipeline().run_stream(
            read_cdc_shards_stream(
                spark, shards, starting_position="trim_horizon"
            ),
            sink_path=sink,
            checkpoint_path=ckpt,
            sink_writer=writer,
        )
        q.awaitTermination(120)

    run_once()
    t = TxTable(spark, sink)
    first = t.snapshot().count()
    assert first == 2

    # restart, no new data: no new version, no duplicate rows
    run_once()
    assert t.snapshot().count() == 2

    append_cdc_records(shards, "0000", [rec(3, "C")])
    run_once()
    assert t.snapshot().count() == 3
    pks = sorted(
        r["pk"] for r in t.snapshot().select("pk").collect()
    )
    assert pks == ["A", "B", "C"]


def test_merge_into_applies_log_window_atomically(spark, tmp_path):
    """MERGE INTO the transactional table: update + insert + delete in
    one atomic overwrite version; pre-merge state stays time-travelable."""
    import datetime
    import json as _json

    from cdk_dynamodb_cdc_spark.operators.compaction import snapshot_at
    from cdk_dynamodb_cdc_spark.storage.txlog import merge_into

    def img(v):
        return _json.dumps({"v": {"N": str(v)}})

    t0 = datetime.datetime(2024, 1, 1)
    REC = (
        "event_id string, seq long, ts timestamp, operation string, "
        "pk string, sk string, old_image string, new_image string, "
        "size_bytes long"
    )
    base_log = spark.createDataFrame(
        [
            ("s1", 1, t0, "INSERT", "A", "S", None, img(1), 64),
            ("s2", 2, t0, "INSERT", "B", "S", None, img(2), 64),
        ],
        REC,
    )
    window = spark.createDataFrame(
        [
            ("s3", 3, t0, "MODIFY", "A", "S", img(1), img(10), 64),
            ("s4", 4, t0, "REMOVE", "B", "S", img(2), None, 64),
            ("s5", 5, t0, "INSERT", "C", "S", None, img(3), 64),
        ],
        REC,
    )
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.commit(snapshot_at(base_log))
    v = merge_into(t, window, app_id="m", batch_id=0)
    assert v == 1
    live = {
        r["pk"]: r["image"] for r in t.snapshot().collect()
    }
    assert live == {"A": img(10), "C": img(3)}
    # replay is a no-op; pre-merge state still time-travelable
    assert merge_into(t, window, app_id="m", batch_id=0) is None
    pre = {r["pk"] for r in t.snapshot(version=0).collect()}
    assert pre == {"A", "B"}


def test_optimize_rewrites_files_atomically(spark, tmp_path):
    from cdk_dynamodb_cdc_spark.storage.txlog import optimize

    t = TxTable(spark, str(tmp_path / "tbl"))
    for k in range(4):  # four append versions -> many small files
        t.commit(_df(spark, [k * 10 + i for i in range(5)]))
    before = sorted(r["id"] for r in t.snapshot().collect())
    n_files_before = len(t.manifest(t.latest_version())["live"])

    v = optimize(t, target_file_bytes=10**9)  # everything into 1 file
    assert v == t.latest_version()
    m = t.manifest(v)
    assert m["mode"] == "optimize"
    assert len(m["live"]) < n_files_before
    assert sorted(r["id"] for r in t.snapshot().collect()) == before
    # pre-optimize state still time-travelable
    assert sorted(
        r["id"] for r in t.snapshot(version=v - 1).collect()
    ) == before


def test_optimize_aborts_on_concurrent_commit(spark, tmp_path, monkeypatch):
    from cdk_dynamodb_cdc_spark.storage import txlog as mod

    t = TxTable(spark, str(tmp_path / "tbl"))
    t.commit(_df(spark, [1, 2]))

    # Deterministic interleave: patch snapshot() so a concurrent
    # append lands between optimize's base snapshot and its publish.
    class Sneak:
        done = False

    real_snapshot = TxTable.snapshot

    def snapshot_then_commit(self, version=None):
        snap = real_snapshot(self, version=version)
        if not Sneak.done:
            Sneak.done = True
            t2 = TxTable(spark, self.path)
            t2.commit(_df(spark, [99]))
        return snap

    monkeypatch.setattr(TxTable, "snapshot", snapshot_then_commit)
    with pytest.raises(RuntimeError, match="conflicts|lost the race"):
        mod.optimize(t, target_file_bytes=10**9)
    monkeypatch.setattr(TxTable, "snapshot", real_snapshot)
    # the concurrent append survived (no lost update)
    assert sorted(r["id"] for r in t.snapshot().collect()) == [1, 2, 99]


@pytest.mark.parametrize(
    "op", ["delete_where", "update_where", "attach_stats", "attach_blooms"]
)
def test_rewrites_losing_the_version_race_raise(
    spark, tmp_path, monkeypatch, op
):
    """A concurrent writer takes version base + 1 just before the
    operation publishes: the operation raises RuntimeError instead of
    retrying on a state it never read, the rogue version stays latest,
    and nothing of the loser is visible."""
    from cdk_dynamodb_cdc_spark.storage import txlog as mod

    t = TxTable(spark, str(tmp_path / "tbl"))
    t.commit(_df(spark, [1, 2, 3]))
    base = t.latest_version()
    rogue = {
        "version": base + 1,
        "mode": "append",
        "add": [],
        "remove": [],
        "schema": _df(spark, [0]).schema.json(),
        "app_id": "rogue",
        "batch_id": None,
        "txn": {},
    }
    rogue_path = t._manifest_path(base + 1)
    real_create = TxTable._create_exclusive

    def rogue_first(self, file_path, text):
        # the rival publishes its version an instant before we do
        if file_path == rogue_path and not self._fs.exists(
            self._jPath(rogue_path)
        ):
            assert real_create(self, rogue_path, json.dumps(rogue))
        return real_create(self, file_path, text)

    monkeypatch.setattr(TxTable, "_create_exclusive", rogue_first)
    call = {
        "delete_where": lambda: mod.delete_where(t, "id = 2"),
        "update_where": lambda: mod.update_where(
            t, "id = 2", {"s": "'changed'"}
        ),
        "attach_stats": lambda: mod.attach_stats(t, ["id"]),
        "attach_blooms": lambda: mod.attach_blooms(t, ["id"]),
    }[op]
    with pytest.raises(RuntimeError, match="lost the race"):
        call()
    monkeypatch.setattr(TxTable, "_create_exclusive", real_create)

    assert t.versions() == [base, base + 1]
    assert t._action(base + 1) == rogue
    m = t.manifest(base + 1)
    assert not m.get("dv") and not m.get("stats")
    assert sorted((r["id"], r["s"]) for r in t.snapshot().collect()) == [
        (1, "r1"),
        (2, "r2"),
        (3, "r3"),
    ]


@pytest.mark.parametrize("op", ["attach_stats", "attach_blooms"])
def test_metadata_rewrites_on_an_empty_table_raise_no_commits(
    spark, tmp_path, op
):
    from cdk_dynamodb_cdc_spark.storage import txlog as mod

    t = TxTable(spark, str(tmp_path / "tbl"))
    with pytest.raises(ValueError, match="has no commits"):
        getattr(mod, op)(t, ["id"])
    assert t.latest_version() is None


def test_change_feed_streams_appended_versions(spark, tmp_path):
    from cdk_dynamodb_cdc_spark.storage.txlog import read_txlog_feed

    tbl = str(tmp_path / "tbl")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t = TxTable(spark, tbl)
    t.commit(_df(spark, [1, 2]))
    t.commit(_df(spark, [3]))

    def run_once():
        q = (
            read_txlog_feed(spark, tbl)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert sorted(
        r["id"] for r in spark.read.parquet(out).collect()
    ) == [1, 2, 3]

    # an optimize rewrite emits NOTHING on the feed (no new rows)...
    from cdk_dynamodb_cdc_spark.storage.txlog import optimize

    optimize(t, target_file_bytes=10**9)
    run_once()
    assert spark.read.parquet(out).count() == 3

    # ...while a new append streams exactly its rows
    t.commit(_df(spark, [4]))
    run_once()
    assert sorted(
        r["id"] for r in spark.read.parquet(out).collect()
    ) == [1, 2, 3, 4]


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_commit_walks_match_model(spark, tmp_path, seed):
    """Model-based check: random append/overwrite/merge-skip walks must
    keep every retained version's snapshot equal to an in-memory model
    of the live multiset — the whole-protocol invariant the unit tests
    sample pointwise."""
    import random

    rng = random.Random(seed)
    t = TxTable(spark, str(tmp_path / f"tbl{seed}"))
    model: list[list[int]] = []  # model[v] = sorted live ids
    next_id = 0

    for step in range(6):
        vals = [next_id + i for i in range(rng.randint(1, 4))]
        next_id += len(vals)
        if model and rng.random() < 0.4:
            t.commit(_df(spark, vals), mode="overwrite")
            model.append(sorted(vals))
        else:
            t.commit(_df(spark, vals))
            prev = model[-1] if model else []
            model.append(sorted(prev + vals))
    # a replayed (app_id, batch_id) never changes state: the first
    # walk-tagged commit lands (tracked in the model), every replay
    # after it is a no-op
    tagged = [next_id, next_id + 1]
    v = t.commit(_df(spark, tagged), app_id="walk", batch_id=7)
    assert v == len(model)
    model.append(sorted(model[-1] + tagged))
    for _ in range(2):
        assert (
            t.commit(_df(spark, [12345]), app_id="walk", batch_id=7)
            is None
        )

    assert t.latest_version() == len(model) - 1
    for v, want in enumerate(model):
        got = sorted(r["id"] for r in t.snapshot(version=v).collect())
        assert got == want, f"seed {seed} version {v}"

    # vacuum keeps the last two versions readable and unchanged
    t.vacuum(retain_last=2, retention_seconds=0)
    for v in range(len(model) - 2, len(model)):
        got = sorted(r["id"] for r in t.snapshot(version=v).collect())
        assert got == model[v]


def test_commit_check_constraints_reject_bad_batches(spark, tmp_path):
    """CHECK constraints at the transactional boundary: a violating
    batch publishes NOTHING (no version, no files in the live set);
    a clean batch commits normally under the same rules."""
    t = TxTable(spark, str(tmp_path / "tbl"))
    rules = [{"rule": "between", "col": "id", "lo": 0, "hi": 100}]
    assert t.commit(_df(spark, [1, 2]), expectations=rules) == 0

    with pytest.raises(ValueError, match="CHECK constraints"):
        t.commit(_df(spark, [3, 999]), expectations=rules)
    assert t.latest_version() == 0
    assert sorted(r["id"] for r in t.snapshot().collect()) == [1, 2]

    assert t.commit(_df(spark, [3]), expectations=rules) == 1
    assert sorted(r["id"] for r in t.snapshot().collect()) == [1, 2, 3]


def test_additive_schema_evolution_on_append(spark, tmp_path):
    """Appending a batch with a NEW column widens the table schema;
    pre-evolution files surface the column as NULL, and the pre-
    evolution version still reads under its own narrower schema."""
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.commit(_df(spark, [1, 2]))
    wider = spark.createDataFrame(
        [(3, "r3", "extra")], "id long, s string, note string"
    )
    t.commit(wider)
    snap = t.snapshot()
    assert snap.columns == ["id", "s", "note"]
    rows = {r["id"]: r["note"] for r in snap.collect()}
    assert rows == {1: None, 2: None, 3: "extra"}
    # time travel: version 0 keeps its original two columns
    assert t.snapshot(version=0).columns == ["id", "s"]


def test_schema_evolution_rejects_type_changes(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.commit(_df(spark, [1]))
    retyped = spark.createDataFrame(
        [("x", "r")], "id string, s string"
    )
    with pytest.raises(ValueError, match="cannot change column"):
        t.commit(retyped)
    # overwrite DOES allow the new type (explicit table rewrite)
    assert t.commit(retyped, mode="overwrite") == 1
    assert t.snapshot().collect()[0]["id"] == "x"


def test_stats_pruned_scan_skips_files_and_stays_correct(
    spark, tmp_path
):
    """Data skipping: after optimize(zorder) + attach_stats, a range
    scan reads a strict subset of files and returns exactly the rows a
    full-scan filter would."""
    from cdk_dynamodb_cdc_spark.storage.txlog import (
        attach_stats,
        optimize,
        scan,
    )

    t = TxTable(spark, str(tmp_path / "tbl"))
    li = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).select("l_orderkey", "l_partkey", "l_suppkey")
    t.commit(li)
    optimize(
        t,
        target_file_bytes=12_000,  # force several files
        zorder_cols=["l_partkey", "l_suppkey"],
    )
    attach_stats(t, ["l_partkey", "l_suppkey"])

    where = [("l_partkey", 0, 50), ("l_suppkey", 0, 8)]
    df, files_read, files_total = scan(t, where=where)
    assert files_total > 2
    assert files_read < files_total  # pruning actually bit
    want = (
        li.filter("l_partkey between 0 and 50")
        .filter("l_suppkey between 0 and 8")
        .count()
    )
    assert df.count() == want

    # a range outside the data prunes everything and returns empty
    df0, read0, _ = scan(t, where=[("l_partkey", 10**9, 10**9 + 1)])
    assert read0 == 0 and df0.count() == 0


def test_streaming_contract_quarantines_to_dead_letter_table(
    spark, tmp_path
):
    """Contract-enforcing streaming sink: passing events commit to the
    main table, violating events land in the dead-letter table with
    their failed rules; replays publish neither twice."""
    import datetime
    import json as _json

    from cdk_dynamodb_cdc_spark.sources.cdc_shards import (
        append_cdc_records,
        read_cdc_shards_stream,
    )

    shards = str(tmp_path / "shards")
    sink = str(tmp_path / "sink")
    dlq_path = str(tmp_path / "dlq")
    ckpt = str(tmp_path / "ckpt")

    def rec(seq, pk):
        return {
            "event_id": f"e{seq}",
            "seq": seq,
            "ts": datetime.datetime(2024, 1, 1, 0, 0, seq),
            "operation": "INSERT",
            "pk": pk,
            "sk": "v0",
            "old_image": None,
            "new_image": _json.dumps({"v": {"N": str(seq)}}),
            "size_bytes": 30,
        }

    append_cdc_records(
        shards, "0000",
        [rec(1, "USER#1"), rec(2, "USER#2"), rec(3, "ORDER#9")],
    )
    writer = txlog_sink_writer(
        spark,
        sink,
        app_id="contract-test",
        expectations=[
            {"rule": "matches", "col": "pk", "pattern": "^USER#"}
        ],
        dead_letter_path=dlq_path,
    )

    def run_once():
        q = CdcPipeline().run_stream(
            read_cdc_shards_stream(
                spark, shards, starting_position="trim_horizon"
            ),
            sink_path=sink,
            checkpoint_path=ckpt,
            sink_writer=writer,
        )
        q.awaitTermination(120)

    run_once()
    main = TxTable(spark, sink).snapshot()
    dlq = TxTable(spark, dlq_path).snapshot()
    assert sorted(r["pk"] for r in main.collect()) == [
        "USER#1",
        "USER#2",
    ]
    bad = dlq.collect()
    assert [r["pk"] for r in bad] == ["ORDER#9"]
    assert bad[0]["_violations"] == ["matches(pk)"]

    # replay: neither table grows
    run_once()
    assert TxTable(spark, sink).snapshot().count() == 2
    assert TxTable(spark, dlq_path).snapshot().count() == 1


def test_bulk_feed_replays_backlog_with_file_partitions(spark, tmp_path):
    """The partition-planned feed skips rewrites and reads appended
    rows with executor-side file reads; restart resumes from the
    checkpointed version offset."""
    from cdk_dynamodb_cdc_spark.storage.txlog import read_txlog_feed

    tbl = str(tmp_path / "tbl")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t = TxTable(spark, tbl)
    t.commit(_df(spark, [1, 2]))
    t.commit(_df(spark, [3]))
    t.commit(_df(spark, [99]), mode="overwrite")  # feed skips rewrites
    t.commit(_df(spark, [4]))

    def run_once():
        q = (
            read_txlog_feed(spark, tbl)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3, 4]

    t.commit(_df(spark, [5]))
    run_once()
    got = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3, 4, 5]


def test_restore_rolls_back_as_a_new_version(spark, tmp_path):
    from cdk_dynamodb_cdc_spark.storage.txlog import restore

    t = TxTable(spark, str(tmp_path / "tbl"))
    t.commit(_df(spark, [1, 2]))
    t.commit(_df(spark, [99]), mode="overwrite")
    v = restore(t, 0)
    assert v == 2
    assert sorted(r["id"] for r in t.snapshot().collect()) == [1, 2]
    # the overwrite remains in history; the restore is itself history
    assert [r["id"] for r in t.snapshot(version=1).collect()] == [99]
    assert t.manifest(2)["restored_from"] == 0


def test_restore_guards_empty_table_and_vacuumed_versions(
    spark, tmp_path
):
    """restore() fails loudly instead of publishing a broken current
    version: empty table -> clear error; vacuumed target -> clear
    error BEFORE any manifest is written."""
    from cdk_dynamodb_cdc_spark.storage.txlog import restore

    t = TxTable(spark, str(tmp_path / "tbl"))
    with pytest.raises(ValueError, match="no commits"):
        restore(t, 0)

    t.commit(_df(spark, [1, 2]))
    t.commit(_df(spark, [99]), mode="overwrite")
    t.vacuum(retain_last=1, retention_seconds=0)
    latest_before = t.latest_version()
    with pytest.raises(ValueError, match="vacuumed"):
        restore(t, 0)
    # no restore manifest was published
    assert t.latest_version() == latest_before


def test_vacuum_retention_window_spares_young_unreferenced_files(
    spark, tmp_path
):
    """Files inside the retention window are never deleted — this is
    the guard that makes vacuum safe against a concurrent committer
    whose files are staged but whose manifest is not yet published."""
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.commit(_df(spark, [1]))
    t.commit(_df(spark, [2]), mode="overwrite")  # v0's file now dead
    # default 1h retention: the just-written dead file is spared
    assert t.vacuum(retain_last=1) == []
    assert sorted(r["id"] for r in t.snapshot(version=0).collect()) == [1]
    # zero retention: swept
    assert len(t.vacuum(retain_last=1, retention_seconds=0)) >= 1
    with pytest.raises(Exception):
        t.snapshot(version=0).collect()


def test_feeds_decode_by_name_across_evolution_and_reorder(
    spark, tmp_path
):
    """The change feed must decode rows BY NAME against the stream
    schema: files older than an additive evolution pad the new columns
    with NULL, and a commit whose DataFrame column order differs from
    the manifest order must not swap same-typed values."""
    from cdk_dynamodb_cdc_spark.storage.txlog import read_txlog_feed

    tbl = str(tmp_path / "tbl")
    t = TxTable(spark, tbl)
    t.commit(_df(spark, [1]))  # (id long, s string)
    # additive evolution: new column t
    t.commit(
        spark.createDataFrame(
            [(2, "r2", "x2")], "id long, s string, t string"
        )
    )
    # same types s/t, REVERSED dataframe order vs manifest order —
    # positional decode would swap s and t silently
    t.commit(
        spark.createDataFrame(
            [("t3", "s3", 3)], "t string, s string, id long"
        )
    )

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        read_txlog_feed(spark, tbl)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r["id"]: (r["s"], r["t"])
        for r in spark.read.parquet(out).collect()
    }
    assert rows == {
        1: ("r1", None),  # pre-evolution file: t padded NULL
        2: ("r2", "x2"),
        3: ("s3", "t3"),  # by-name, not by position
    }


def test_temporal_stats_serialize_and_prune(spark, tmp_path):
    """attach_stats on date/timestamp columns must produce a JSON
    manifest (ISO strings) and scan() must prune on date-range
    predicates given as datetime.date bounds."""
    import datetime

    from cdk_dynamodb_cdc_spark.storage.txlog import attach_stats, scan

    t = TxTable(spark, str(tmp_path / "tbl"))
    for d in ("2024-01-01", "2024-06-01", "2024-12-01"):
        t.commit(
            spark.sql(
                f"SELECT DATE'{d}' AS dt, TIMESTAMP'{d} 10:00:00' AS ts,"
                f" 1 AS v"
            )
        )
    attach_stats(t, ["dt", "ts"])  # raised TypeError before the fix
    df, files_read, files_total = scan(
        t,
        where=[
            (
                "dt",
                datetime.date(2024, 5, 1),
                datetime.date(2024, 7, 1),
            )
        ],
    )
    assert files_total == 3 and files_read == 1
    assert [r["dt"] for r in df.collect()] == [
        datetime.date(2024, 6, 1)
    ]


def test_bulk_feed_restore_composition_at_scale(spark, tmp_path):
    """Composition pin: the executor-parallel change feed over a
    multi-hundred-file table, with a RESTORE mid-stream. The restore
    publishes as new history (time-travelable version) but emits
    NOTHING on the appends feed — its rows were already streamed when
    first appended — and the feed resumes cleanly past it, offsets
    advancing through the restore version."""
    from cdk_dynamodb_cdc_spark.storage.txlog import (
        read_txlog_feed,
        restore,
    )

    tbl = str(tmp_path / "tbl")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t = TxTable(spark, tbl)
    # ~40 commits x 6 files = 240 data files
    n_commits, files_per = 40, 6
    for c in range(n_commits):
        df = spark.range(c * 10, c * 10 + 10).select(
            F.col("id"), F.concat(F.lit("r"), F.col("id")).alias("s")
        )
        t.commit(df.repartition(files_per))
    n_rows = n_commits * 10

    def run_once():
        q = (
            read_txlog_feed(spark, tbl)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    assert spark.read.parquet(out).count() == n_rows
    assert (
        spark.read.parquet(out).select("id").distinct().count() == n_rows
    )

    # mid-stream: squash history with an overwrite, then restore back
    t.commit(_df(spark, [777_000]), mode="overwrite")
    v = restore(t, n_commits - 1)  # back to the full table
    assert t.manifest(v)["mode"] == "restore"
    assert t.snapshot().count() == n_rows

    run_once()  # restore emits nothing on the appends feed
    assert spark.read.parquet(out).count() == n_rows

    # and the feed picks up appends AFTER the restore
    t.commit(_df(spark, [999_999]))
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == n_rows + 1
    assert got.filter(F.col("id") == 999_999).count() == 1


def test_incremental_log_bounds_reader_cost(spark, tmp_path):
    """The Delta-layout property: materializing a snapshot opens the
    newest checkpoint plus at most checkpoint_interval action files —
    never the whole log — and append commits write O(files-added)
    actions, not full live lists."""
    t = TxTable(spark, str(tmp_path / "tbl"), checkpoint_interval=10)
    for c in range(25):
        t.commit(_df(spark, [c]))  # versions 0..24; checkpoints at 10, 20
    assert t.checkpoints() == [10, 20]

    # action files are incremental: each append names only its own files
    for v in (5, 15, 24):
        a = t._action(v)
        assert "live" not in a
        assert a["remove"] == []
        assert 0 < len(a["add"]) <= 2  # one tiny df's part files

    # reader cost: snapshot(24) = 1 action (mode/schema) + 1 checkpoint
    # + replay of (20, 24] = 4 actions. Bounded by K, not by 25.
    opens = []
    orig = TxTable._read_text

    def counting(self, file_path):
        opens.append(file_path)
        return orig(self, file_path)

    TxTable._read_text = counting
    try:
        live = t.manifest(24)["live"]
    finally:
        TxTable._read_text = orig
    assert len(live) > 0
    action_opens = [p for p in opens if not p.endswith(".checkpoint.json")]
    cp_opens = [p for p in opens if p.endswith(".checkpoint.json")]
    assert len(cp_opens) == 1 and cp_opens[0].endswith(
        "00000000000000000020.checkpoint.json"
    )
    assert len(action_opens) <= t.checkpoint_interval
    # and the reconstructed state is right: 25 appended rows
    assert sorted(r["id"] for r in t.snapshot().collect()) == list(range(25))

    # overwrite folds correctly through a checkpoint boundary too
    t.commit(_df(spark, [99]), mode="overwrite")  # v25
    for _ in range(5):
        t.commit(_df(spark, [100]))  # v26..30 -> checkpoint at 30
    assert 30 in t.checkpoints()
    assert sorted(r["id"] for r in t.snapshot().collect()) == [99] + [100] * 5
    # time travel across the whole mixed log still reconstructs
    assert sorted(r["id"] for r in t.snapshot(version=24).collect()) == list(
        range(25)
    )


def test_cleanup_log_bounds_log_size(spark, tmp_path):
    """Metadata vacuum: action/checkpoint files behind the retention
    horizon's base checkpoint are deleted, retained versions still
    reconstruct exactly, older versions stop being readable."""
    from cdk_dynamodb_cdc_spark.storage.txlog import cleanup_log

    t = TxTable(spark, str(tmp_path / "tbl"), checkpoint_interval=5)
    for c in range(23):
        t.commit(_df(spark, [c]))  # v0..22, checkpoints at 5,10,15,20
    # retain 8 versions -> oldest retained v15; base checkpoint 15
    deleted = cleanup_log(t, retain_versions=8)
    assert deleted
    assert t.versions() == list(range(15, 23))
    assert t.checkpoints() == [15, 20]
    # retained versions reconstruct bit-identically
    assert sorted(r["id"] for r in t.snapshot().collect()) == list(range(23))
    assert sorted(
        r["id"] for r in t.snapshot(version=16).collect()
    ) == list(range(17))
    # pre-horizon versions are gone
    with pytest.raises(Exception):
        t.manifest(3)
    # a young table (no checkpoint behind the horizon) deletes nothing
    t2 = TxTable(spark, str(tmp_path / "tbl2"), checkpoint_interval=5)
    t2.commit(_df(spark, [1]))
    assert cleanup_log(t2, retain_versions=8) == []
    # commits continue normally after cleanup
    assert t.commit(_df(spark, [99])) == 23
    assert 99 in {r["id"] for r in t.snapshot().collect()}


def test_bloom_point_lookup_prunes_files(spark, tmp_path):
    """Bloom skipping: on a table whose files all span the full key
    range (arrival-ordered writes — min/max stats prune nothing), a
    bloom point lookup reads a strict subset of files and returns
    exactly the rows a full-scan IN filter would; an absent key reads
    (almost) nothing."""
    from cdk_dynamodb_cdc_spark.storage.txlog import (
        TxTable,
        attach_blooms,
        attach_stats,
        scan,
        scan_point,
    )

    t = TxTable(spark, str(tmp_path / "tbl"))
    # 4 commits = 4 files, each covering the WHOLE key space modulo 4
    # (interleaved keys: range stats are useless, blooms are not)
    for r in range(4):
        rows = [(k, f"v{k}") for k in range(r, 4000, 4)]
        t.commit(
            spark.createDataFrame(
                rows, "pk long, payload string"
            ).coalesce(1)
        )
    attach_stats(t, ["pk"])
    attach_blooms(t, ["pk"])

    # range stats cannot prune interleaved files
    _, range_read, total = scan(t, where=[("pk", 17, 17)])
    assert total == 4 and range_read == 4

    # bloom prunes the point lookup to the one file holding pk=17
    df, files_read, files_total = scan_point(t, "pk", [17])
    assert files_total == 4
    assert files_read == 1
    assert [(r.pk, r.payload) for r in df.collect()] == [(17, "v17")]

    # multi-probe: keys living in two distinct files read two files
    df2, read2, _ = scan_point(t, "pk", [17, 18])
    assert read2 == 2 and df2.count() == 2

    # absent key: every bloom says no (modulo ~1% FP per file)
    df0, read0, _ = scan_point(t, "pk", [10**9])
    assert read0 <= 1 and df0.count() == 0

    # attach_blooms preserved the range-stats channel
    _, r2, _ = scan(t, where=[("pk", 10**7, 10**7 + 1)])
    assert r2 == 0


def test_deletion_vectors_merge_on_read(spark, tmp_path):
    """delete_where publishes a metadata-only version: live files are
    untouched, readers subtract positions, time travel still sees the
    pre-delete rows, a second delete consolidates, OPTIMIZE
    materializes, RESTORE reinstates vectors, vacuum reclaims
    superseded dv files."""
    from cdk_dynamodb_cdc_spark.storage.txlog import (
        TxTable,
        delete_where,
        optimize,
        restore,
    )

    t = TxTable(spark, str(tmp_path / "tbl"))
    rows = [(k, k % 7, f"v{k}") for k in range(1000)]
    t.commit(
        spark.createDataFrame(
            rows, "pk long, bucket long, payload string"
        ).coalesce(2)
    )  # v0
    files_v0 = sorted(t.manifest(0)["live"])

    got = delete_where(t, "bucket = 3")
    assert got is not None
    v1, n1 = got
    assert v1 == 1 and n1 == len([r for r in rows if r[1] == 3])
    m1 = t.manifest(1)
    # merge-on-read: SAME live files, vectors attached
    assert sorted(m1["live"]) == files_v0
    assert m1["dv"]
    assert t.snapshot().count() == 1000 - n1
    assert t.snapshot().filter("bucket = 3").count() == 0
    # time travel: the pre-delete version still sees every row
    assert t.snapshot(0).count() == 1000

    # idempotent: nothing newly visible matches -> no new version
    assert delete_where(t, "bucket = 3") is None
    assert t.latest_version() == 1

    # consolidation: second predicate unions into one dv generation
    v2, n2 = delete_where(t, "pk < 10 AND bucket <> 3")
    assert v2 == 2 and n2 == len(
        [r for r in rows if r[0] < 10 and r[1] != 3]
    )
    assert t.snapshot().count() == 1000 - n1 - n2
    gen2 = {p for lst in t.manifest(2)["dv"].values() for p in lst}

    # restore to v0: vectors gone, all rows back
    restore(t, 0)  # v3
    assert "dv" not in t.manifest(3) or not t.manifest(3)["dv"]
    assert t.snapshot().count() == 1000

    # restore to v2: vectors come back with the restored state
    restore(t, 2)  # v4
    assert t.snapshot().count() == 1000 - n1 - n2

    # OPTIMIZE materializes the deletes: new files, no vectors
    optimize(t, target_file_bytes=1 << 20)  # v5
    m5 = t.manifest(5)
    assert not m5.get("dv", {})
    assert t.snapshot().count() == 1000 - n1 - n2
    assert sorted(m5["live"]) != files_v0

    # vacuum keeps only the latest version's files: v0 data files and
    # both dv generations are reclaimable, current files survive
    deleted = t.vacuum(retain_last=1, retention_seconds=0)
    assert set(files_v0) <= set(deleted)
    assert gen2 <= set(deleted)
    assert t.snapshot().count() == 1000 - n1 - n2


def test_update_where_atomic_dv_plus_append(spark, tmp_path):
    """UPDATE WHERE: one version carries both the deletion vector for
    the old rows and the appended updated copies; row count is
    conserved, unmatched files are untouched, pre-update state stays
    time-travelable, and a later delete consolidates on top."""
    from cdk_dynamodb_cdc_spark.storage.txlog import (
        TxTable,
        delete_where,
        update_where,
    )

    t = TxTable(spark, str(tmp_path / "tbl"))
    rows = [(k, k % 5, 100) for k in range(500)]
    t.commit(
        spark.createDataFrame(
            rows, "pk long, bucket long, val long"
        ).coalesce(2)
    )  # v0
    files_v0 = sorted(t.manifest(0)["live"])

    got = update_where(t, "bucket = 2", {"val": "val * 10"})
    assert got is not None
    v1, n1 = got
    assert v1 == 1 and n1 == 100
    snap = t.snapshot()
    assert snap.count() == 500  # conserved
    assert snap.filter("bucket = 2 AND val = 1000").count() == 100
    assert snap.filter("bucket = 2 AND val = 100").count() == 0
    assert snap.filter("bucket <> 2 AND val = 100").count() == 400
    m1 = t.manifest(1)
    # original files still live (plus the appended copies), DV attached
    assert set(files_v0) <= set(m1["live"])
    assert len(m1["live"]) > len(files_v0)
    assert m1["dv"]
    # time travel: pre-update values intact
    assert t.snapshot(0).filter("val = 1000").count() == 0

    # no-match update publishes nothing
    assert update_where(t, "bucket = 99", {"val": "0"}) is None
    assert t.latest_version() == 1

    # delete after update consolidates: updated copies are deletable
    v2, n2 = delete_where(t, "val = 1000")
    assert v2 == 2 and n2 == 100
    assert t.snapshot().count() == 400
    assert t.snapshot().filter("bucket = 2").count() == 0


def test_shallow_clone_zero_copy_independent(spark, tmp_path):
    """SHALLOW CLONE references the source's files at v0 (zero data
    copied), evolves independently, carries deletion vectors, and
    detaches fully once OPTIMIZE rewrites it into its own directory."""
    from cdk_dynamodb_cdc_spark.storage.txlog import (
        TxTable,
        clone,
        delete_where,
        optimize,
    )

    src = TxTable(spark, str(tmp_path / "src"))
    src.commit(_df(spark, [1, 2, 3, 4]))
    delete_where(src, "id = 4")

    c = clone(src, str(tmp_path / "clone"))
    # v0 references the SOURCE's files — nothing copied
    assert sorted(c.manifest(0)["live"]) == sorted(
        src.manifest(src.latest_version())["live"]
    )
    assert c.manifest(0)["dv"]  # deletion vector came along
    assert sorted(r["id"] for r in c.snapshot().collect()) == [1, 2, 3]

    # clone-local append: source unchanged
    c.commit(_df(spark, [9]))
    assert sorted(r["id"] for r in c.snapshot().collect()) == [1, 2, 3, 9]
    assert sorted(r["id"] for r in src.snapshot().collect()) == [1, 2, 3]

    # source append: clone unchanged
    src.commit(_df(spark, [7]))
    assert sorted(r["id"] for r in c.snapshot().collect()) == [1, 2, 3, 9]

    # detach: OPTIMIZE rewrites the clone into its own directory ...
    optimize(c, target_file_bytes=1 << 20)
    assert all(
        f.startswith(
            c.path if not f.startswith("file:") else ""
        ) or "/clone/" in f
        for f in c.manifest(c.latest_version())["live"]
    )
    # ... after which vacuuming the source cannot break the clone
    src.vacuum(retain_last=1, retention_seconds=0)
    assert sorted(r["id"] for r in c.snapshot().collect()) == [1, 2, 3, 9]

    # cloning over an existing table refuses
    import pytest as _pytest

    with _pytest.raises(ValueError):
        clone(src, str(tmp_path / "clone"))


def test_ltz_localize_recurses_into_nested_types():
    """ADVICE r12: _ltz_field_names only looked at top-level fields, so
    a TIMESTAMP nested in a struct/array/map surfaced tz-naive
    datetimes and hit Spark's arrow rejection. The spec builder must
    recurse, and the localizer must rewrite exactly the timestamp
    leaves."""
    import datetime as dt

    from pyspark.sql.types import (
        ArrayType,
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
        TimestampType,
    )

    from cdk_dynamodb_cdc_spark.storage.txlog import (
        _localize_feed_cell,
        _ltz_field_names,
    )

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("ts", TimestampType()),
            StructField("ntz", TimestampNTZType()),
            StructField(
                "meta",
                StructType(
                    [
                        StructField("created", TimestampType()),
                        StructField("label", StringType()),
                    ]
                ),
            ),
            StructField("history", ArrayType(TimestampType())),
            StructField("tags", MapType(StringType(), TimestampType())),
        ]
    )
    specs = _ltz_field_names(schema)
    # NTZ stays naive; the plain-long and all-string branches vanish
    assert set(specs) == {"ts", "meta", "history", "tags"}

    naive = dt.datetime(2024, 1, 2, 3, 4, 5)
    utc = naive.replace(tzinfo=dt.timezone.utc)
    assert _localize_feed_cell(naive, specs["ts"]) == utc
    assert _localize_feed_cell(
        {"created": naive, "label": "x"}, specs["meta"]
    ) == {"created": utc, "label": "x"}
    assert _localize_feed_cell([naive, None], specs["history"]) == [utc, None]
    assert _localize_feed_cell({"k": naive}, specs["tags"]) == {"k": utc}
    # no spec -> untouched (NTZ lane)
    assert _localize_feed_cell(naive, None) is naive


def test_change_feed_handles_nested_timestamps(spark, tmp_path):
    """End-to-end: nested-timestamp columns stream through the change
    feed without the tz-naive arrow rejection, values intact."""
    import datetime as dt

    from cdk_dynamodb_cdc_spark.storage.txlog import read_txlog_feed

    tbl = str(tmp_path / "tbl")
    t = TxTable(spark, tbl)
    t0 = dt.datetime(2024, 5, 6, 7, 8, 9, tzinfo=dt.timezone.utc)
    rows = [
        (1, t0, {"created": t0, "label": "a"}, [t0], {"k": t0}),
        (2, None, {"created": None, "label": "b"}, [], {}),
    ]
    schema = (
        "id long, ts timestamp, "
        "meta struct<created: timestamp, label: string>, "
        "history array<timestamp>, tags map<string, timestamp>"
    )
    t.commit(spark.createDataFrame(rows, schema))

    out = str(tmp_path / "out")
    q = (
        read_txlog_feed(spark, tbl)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["id"]: r for r in spark.read.parquet(out).collect()}
    assert got[1]["ts"] == t0.replace(tzinfo=None) or got[1][
        "ts"
    ] == t0  # session-UTC collect yields naive-UTC datetimes
    assert got[1]["meta"]["created"] is not None
    assert got[1]["history"][0] is not None
    assert got[1]["tags"]["k"] is not None
    assert got[2]["ts"] is None and got[2]["meta"]["created"] is None
