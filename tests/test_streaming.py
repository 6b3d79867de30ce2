"""Structured Streaming tests (SURVEY.md §5.4).

Covers: availableNow backlog processing, checkpointed exactly-once
across a forced restart (including a replayed batch overwriting its own
partition rather than duplicating), streaming dedup within watermark,
and watermarked windowed aggregation with late data.
"""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import functions as F

from cdk_dynamodb_cdc_spark import CdcPipeline
from cdk_dynamodb_cdc_spark.schemas import CDC_RECORD_SCHEMA
from cdk_dynamodb_cdc_spark.sources.fixtures import fixture_rows
from cdk_dynamodb_cdc_spark.streaming import (
    dedup_within_watermark,
    read_cdc_stream,
    windowed_change_counts,
)

UTC = datetime.timezone.utc


def _write_records_file(path, rows):
    """One JSON-lines file of CDC records."""
    with open(path, "w") as fh:
        for r in rows:
            (event_id, seq, ts, op, pk, sk, old, new, size) = r
            fh.write(
                json.dumps(
                    {
                        "event_id": event_id,
                        "seq": seq,
                        "ts": ts.strftime("%Y-%m-%dT%H:%M:%S.%f%z"),
                        "operation": op,
                        "pk": pk,
                        "sk": sk,
                        "old_image": old,
                        "new_image": new,
                        "size_bytes": size,
                    }
                )
                + "\n"
            )


def _run_until_done(query):
    query.awaitTermination(120)
    assert not query.isActive


def test_stream_processes_backlog_and_is_exactly_once_across_restart(
    spark, tmp_path
):
    src = tmp_path / "src"
    src.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    side = str(tmp_path / "side")

    rows = fixture_rows()
    _write_records_file(src / "batch0.json", rows[:9])

    stream = read_cdc_stream(spark, str(src), starting_position="trim_horizon")
    _run_until_done(
        CdcPipeline().run_stream(
            stream, sink_path=sink, checkpoint_path=ckpt, side_store_path=side
        )
    )
    first = spark.read.parquet(sink)
    first_ids = {r.event_id for r in first.select("event_id").collect()}
    # 9 records in; ev-noop is dropped by the no-op MODIFY filter
    assert "ev-noop" not in first_ids and "ev-set-reorder" not in first_ids
    assert "ev-insert" in first_ids and "ev-remove" in first_ids

    # restart with MORE data: only the new file may be processed
    _write_records_file(src / "batch1.json", rows[9:])
    stream2 = read_cdc_stream(spark, str(src), starting_position="trim_horizon")
    _run_until_done(
        CdcPipeline().run_stream(
            stream2, sink_path=sink, checkpoint_path=ckpt, side_store_path=side
        )
    )
    out = spark.read.parquet(sink)
    ids = [r.event_id for r in out.select("event_id").collect()]
    # exactly-once: no event id appears twice across the restart
    assert len(ids) == len(set(ids))
    assert first_ids <= set(ids)
    # second batch contributed: claim-check row present with pointer only
    big = out.filter(F.col("event_id") == "ev-big").collect()[0]
    assert big.images_url is not None and big.new_image is None

    # side store holds the oversized + sizeless images, keyed by event_id
    side_df = spark.read.parquet(side)
    side_ids = {r.event_id for r in side_df.collect()}
    assert {"ev-big", "ev-zero-size"} <= side_ids


def test_replayed_batch_overwrites_instead_of_duplicating(spark, tmp_path):
    """Simulate a replay: rerunning a batch with the same batch_id must
    overwrite its own sink and side-store partitions (dynamic partition
    overwrite), the idempotence the checkpoint relies on after a
    mid-write crash."""
    src = tmp_path / "src"
    src.mkdir()
    sink, side = str(tmp_path / "sink"), str(tmp_path / "side")

    _write_records_file(src / "b.json", fixture_rows())

    for _ in range(2):  # same data, same checkpoint-less rerun -> batch_id 0 twice
        ckpt = str(tmp_path / f"ckpt{_}")
        stream = read_cdc_stream(spark, str(src), starting_position="trim_horizon")
        _run_until_done(
            CdcPipeline().run_stream(
                stream, sink_path=sink, checkpoint_path=ckpt, side_store_path=side
            )
        )
    events = spark.read.parquet(sink)
    ids = [r.event_id for r in events.select("event_id").collect()]
    assert sorted(ids) == sorted(set(ids))
    side_ids = [r.event_id for r in spark.read.parquet(side).collect()]
    claimed = {
        r.event_id for r in events.filter(F.col("images_url").isNotNull()).collect()
    }
    assert sorted(side_ids) == sorted(set(side_ids))
    assert set(side_ids) == claimed == {"ev-big", "ev-zero-size"}


def test_side_store_replay_overwrites_instead_of_duplicating(spark, tmp_path):
    """A replayed micro-batch (same batch_id) must overwrite its own
    side-store partition, not append a second copy of every image."""
    from cdk_dynamodb_cdc_spark.operators.claim_check import (
        side_store_writes,
        write_batch,
    )
    from cdk_dynamodb_cdc_spark.operators.pipeline import tag_records
    from cdk_dynamodb_cdc_spark.sources.fixtures import cdc_fixture_df

    records = cdc_fixture_df(spark)
    side = str(tmp_path / "side")
    for _ in range(2):  # crash-and-replay of batch 7
        write_batch(side_store_writes(tag_records(records)), side, 7, "dt")
    out = spark.read.parquet(side)
    ids = [r.event_id for r in out.select("event_id").collect()]
    assert sorted(ids) == sorted(set(ids))
    assert {"ev-big", "ev-zero-size"} <= set(ids)


def test_latest_skips_backlog_trim_horizon_reads_it(spark, tmp_path):
    """StartingPosition.LATEST semantics (`dynamo.ts:154,193`): records
    present BEFORE subscription must never reach the sink under
    `latest`, while `trim_horizon` reads them."""
    import os
    import time

    src = tmp_path / "src"
    src.mkdir()
    rows = fixture_rows()
    backlog, fresh = rows[:5], rows[6:9]
    _write_records_file(src / "backlog.json", backlog)
    past = time.time() - 60  # backlog mtime clearly predates subscription
    os.utime(src / "backlog.json", (past, past))

    stream = read_cdc_stream(spark, str(src), starting_position="latest")
    time.sleep(0.2)  # file mtime must exceed the subscription timestamp
    _write_records_file(src / "fresh.json", fresh)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    _run_until_done(
        CdcPipeline().run_stream(stream, sink_path=sink, checkpoint_path=ckpt)
    )
    ids = {r.event_id for r in spark.read.parquet(sink).select("event_id").collect()}
    backlog_ids = {r[0] for r in backlog}
    assert ids == {"ev-add", "ev-remove-attr", "ev-remove"}
    assert not ids & backlog_ids

    # same directory, trim_horizon: the backlog IS processed
    stream2 = read_cdc_stream(spark, str(src), starting_position="trim_horizon")
    sink2, ckpt2 = str(tmp_path / "sink2"), str(tmp_path / "ckpt2")
    _run_until_done(
        CdcPipeline().run_stream(stream2, sink_path=sink2, checkpoint_path=ckpt2)
    )
    ids2 = {r.event_id for r in spark.read.parquet(sink2).select("event_id").collect()}
    assert "ev-insert" in ids2 and "ev-scalar" in ids2

    with pytest.raises(ValueError, match="starting_position"):
        read_cdc_stream(spark, str(src), starting_position="earliest")


def test_latest_checkpoint_init_skips_backlog_without_reading_it(
    spark, tmp_path
):
    """Zero-scan `latest`: given a checkpoint path, first subscription
    commits the backlog into the checkpoint via an empty availableNow
    pass — the backlog files are LISTED but never READ (no Spark jobs,
    numInputRows == 0) — and the real query then skips them at source
    level instead of row-filtering them."""
    from cdk_dynamodb_cdc_spark.streaming import initialize_latest_checkpoint

    src = tmp_path / "src"
    src.mkdir()
    rows = fixture_rows()
    backlog, fresh = rows[:5], rows[6:9]
    _write_records_file(src / "backlog.json", backlog)

    ckpt = str(tmp_path / "ckpt")
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None) or [])
    initialize_latest_checkpoint(spark, str(src), ckpt)
    assert len(tracker.getJobIdsForGroup(None) or []) == jobs_before

    # the init pass committed the backlog without scanning a row
    stream = read_cdc_stream(
        spark, str(src), starting_position="latest", checkpoint_path=ckpt
    )
    _write_records_file(src / "fresh.json", fresh)
    sink = str(tmp_path / "sink")
    _run_until_done(
        CdcPipeline().run_stream(stream, sink_path=sink, checkpoint_path=ckpt)
    )
    ids = {r.event_id for r in spark.read.parquet(sink).select("event_id").collect()}
    assert ids == {"ev-add", "ev-remove-attr", "ev-remove"}
    assert not ids & {r[0] for r in backlog}


def test_latest_checkpoint_restart_keeps_unprocessed_files(spark, tmp_path):
    """Restart safety: when the checkpoint already exists,
    read_cdc_stream must NOT re-initialize it — files that arrived
    while the consumer was down would be silently marked consumed."""
    src = tmp_path / "src"
    src.mkdir()
    rows = fixture_rows()
    ckpt = str(tmp_path / "ckpt")

    # first subscription over an empty dir creates the checkpoint
    stream = read_cdc_stream(
        spark, str(src), starting_position="latest", checkpoint_path=ckpt
    )
    sink = str(tmp_path / "sink")
    _run_until_done(
        CdcPipeline().run_stream(stream, sink_path=sink, checkpoint_path=ckpt)
    )

    # consumer goes down; records arrive meanwhile
    _write_records_file(src / "while_down.json", rows[6:9])

    # restart: same checkpoint — the arrived-but-unprocessed file must flow
    stream2 = read_cdc_stream(
        spark, str(src), starting_position="latest", checkpoint_path=ckpt
    )
    _run_until_done(
        CdcPipeline().run_stream(stream2, sink_path=sink, checkpoint_path=ckpt)
    )
    ids = {r.event_id for r in spark.read.parquet(sink).select("event_id").collect()}
    assert ids == {"ev-add", "ev-remove-attr", "ev-remove"}


def test_stream_reads_each_batch_once(spark, tmp_path):
    """One read per micro-batch: each trigger's numInputRows is its
    file's record count, and the side store written from the same
    tagged frame holds exactly the sink's claim-checked events."""
    src = tmp_path / "src"
    src.mkdir()
    rows = fixture_rows()
    _write_records_file(src / "a.json", rows[:9])
    _write_records_file(src / "b.json", rows[9:])
    sink, side = str(tmp_path / "sink"), str(tmp_path / "side")
    stream = read_cdc_stream(
        spark, str(src), starting_position="trim_horizon", max_files_per_trigger=1
    )
    q = CdcPipeline().run_stream(
        stream, sink_path=sink, checkpoint_path=str(tmp_path / "ckpt"),
        side_store_path=side,
    )
    _run_until_done(q)
    counts = [json.loads(p.json)["numInputRows"] for p in q.recentProgress]
    assert sorted(counts) == [6, 9]
    claimed = {
        r.event_id
        for r in spark.read.parquet(sink).filter(F.col("images_url").isNotNull()).collect()
    }
    side_ids = {r.event_id for r in spark.read.parquet(side).collect()}
    assert side_ids == claimed == {"ev-big", "ev-zero-size"}


def test_stream_with_reconstruction_matches_batch_lane(spark, tmp_path):
    """NEW_IMAGE-only records: the stream's per-key reconstruction feeds
    the tag pass in its plan, and its events equal the batch lane's
    (lag over seq) across three triggers: a no-op, a REMOVE, an INSERT
    after it, a claim-checked image and a nested change."""
    import os
    import time

    from cdk_dynamodb_cdc_spark.streaming.stream import read_cdc_stream

    t0 = datetime.datetime(2024, 1, 1, tzinfo=UTC)

    def rec(eid, seq, op, pk, item, size=64):
        new = json.dumps(item) if item is not None else None
        return (eid, seq, t0 + datetime.timedelta(minutes=seq), op, pk, "S",
                None, new, size)

    a1 = {"v": {"N": "1"}, "m": {"M": {"x": {"N": "1"}, "y": {"S": "a"}}}}
    a2 = {"v": {"N": "2"}, "m": {"M": {"x": {"N": "1"}, "y": {"S": "a"}}}}
    b1 = {"tags": {"SS": ["p", "q"]}, "m": {"M": {"x": {"BOOL": True}}}}
    b2 = {"tags": {"SS": ["p", "q"]}, "m": {"M": {"x": {"BOOL": False}}}}
    files = [
        [rec("a1", 1, "INSERT", "A", a1), rec("b1", 2, "INSERT", "B", b1),
         rec("a2", 3, "MODIFY", "A", a2)],
        [rec("a3", 4, "MODIFY", "A", a2), rec("b2", 5, "MODIFY", "B", b2),
         rec("c1", 6, "INSERT", "C", a1, size=70_000),
         rec("a4", 7, "REMOVE", "A", None)],
        [rec("a5", 8, "INSERT", "A", a1), rec("c2", 9, "MODIFY", "C", a2),
         rec("b3", 10, "MODIFY", "B", {**b2, "tags": {"SS": ["q", "p"]}})],
    ]
    src = tmp_path / "src"
    src.mkdir()
    now = time.time()
    for i, rows in enumerate(files):
        path = src / f"f{i}.json"
        _write_records_file(path, rows)
        os.utime(path, (now - 60 * (len(files) - i),) * 2)

    side = str(tmp_path / "side")
    pipe = CdcPipeline(reconstruct_missing_old=True, claim_check_base=side)
    sink = str(tmp_path / "sink")
    stream = read_cdc_stream(
        spark, str(src), starting_position="trim_horizon", max_files_per_trigger=1
    )
    q = pipe.run_stream(stream, sink_path=sink, checkpoint_path=str(tmp_path / "ckpt"))
    _run_until_done(q)
    assert len(q.recentProgress) == 3

    def by_id(df):
        return {r.event_id: r.asDict() for r in df.drop("batch_id").collect()}

    batch = by_id(pipe.events(spark.read.schema(CDC_RECORD_SCHEMA).json(str(src))))
    pipe.close()
    streamed = by_id(spark.read.parquet(sink))
    assert set(batch) == {"a1", "b1", "a2", "b2", "c1", "a4", "a5", "c2"}
    assert streamed == batch
    # the REMOVE carries the previous version; the INSERT after it none
    assert json.loads(batch["a4"]["old_image"]) == {"v": 2, "m": {"x": 1, "y": "a"}}
    assert json.loads(batch["a5"]["before"]) == {}
    assert json.loads(batch["c2"]["before"]) == {"v": 1}
    assert batch["c1"]["images_url"] is not None


def test_kafka_value_decoding_roundtrips_cdc_records(spark):
    """The Kafka lane's value decoder must round-trip the same JSON
    wire format the file lane reads — tested on a batch frame of Kafka
    shape (binary value, partition, offset), since the connector jars
    are absent here."""
    from cdk_dynamodb_cdc_spark.streaming import parse_cdc_kafka_records

    payload = json.dumps(
        {
            "event_id": "ev-k1",
            "seq": 7,
            "ts": "2026-01-01T00:00:00.000000+0000",
            "operation": "MODIFY",
            "pk": "user#1",
            "sk": "profile",
            "old_image": "{}",
            "new_image": '{"a":{"N":"1"}}',
            "size_bytes": 42,
        }
    )
    raw = spark.createDataFrame(
        [(bytearray(payload.encode()), 0, 123)],
        "value binary, partition int, offset long",
    )
    row = parse_cdc_kafka_records(raw).collect()[0]
    assert (row.event_id, row.seq, row.operation, row.pk, row.size_bytes) == (
        "ev-k1", 7, "MODIFY", "user#1", 42
    )


def test_kafka_stream_is_honestly_stubbed(spark):
    """Without the spark-sql-kafka jars the seekable lane must fail at
    construction with guidance, not with a raw classpath error."""
    from cdk_dynamodb_cdc_spark.streaming import read_cdc_kafka_stream

    with pytest.raises(ModuleNotFoundError, match="spark-sql-kafka"):
        read_cdc_kafka_stream(
            spark, bootstrap_servers="localhost:9092", topic="cdc"
        )
    with pytest.raises(ValueError, match="starting_position"):
        read_cdc_kafka_stream(
            spark,
            bootstrap_servers="localhost:9092",
            topic="cdc",
            starting_position="earliest",
        )


def test_custom_sink_writer_replaces_default_sink(spark, tmp_path):
    """The sink_writer hook (the transactional-format plug point) must
    receive the transformed change events per batch and fully replace
    the parquet partition-overwrite write."""
    src = tmp_path / "src"
    src.mkdir()
    _write_records_file(src / "b.json", fixture_rows()[:3])
    sink = str(tmp_path / "sink")
    seen: list[tuple[int, list[str]]] = []

    def writer(events, batch_id):
        seen.append((batch_id, sorted(r.event_id for r in events.collect())))

    stream = read_cdc_stream(spark, str(src), starting_position="trim_horizon")
    _run_until_done(
        CdcPipeline().run_stream(
            stream,
            sink_path=sink,
            checkpoint_path=str(tmp_path / "ckpt"),
            sink_writer=writer,
        )
    )
    assert len(seen) == 1 and seen[0][1]  # one batch, non-empty events
    import os

    assert not os.path.exists(sink)  # default sink fully replaced


def test_dedup_within_watermark_collapses_redelivery(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    rows = fixture_rows()[:2]
    _write_records_file(src / "a.json", rows + rows)  # redelivered twice

    stream = read_cdc_stream(spark, str(src), starting_position="trim_horizon")
    deduped = dedup_within_watermark(stream, watermark="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _run_until_done(q)
    out = spark.sql("SELECT event_id FROM dedup_out").collect()
    ids = [r.event_id for r in out]
    assert sorted(ids) == ["ev-insert", "ev-scalar"]


def test_windowed_counts_drop_late_data(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    t0 = datetime.datetime(2024, 1, 1, 12, 0, tzinfo=UTC)

    def rec(eid, minutes, op="INSERT"):
        return (
            eid, 1, t0 + datetime.timedelta(minutes=minutes), op,
            "PK", "SK", None, json.dumps({"v": {"N": "1"}}), 64,
        )

    # file 1: events up to 12:30 -> watermark advances to 12:20
    _write_records_file(src / "f1.json", [rec("e1", 0), rec("e2", 1), rec("e3", 30)])
    # file 2: watermark 12:20 finalizes + emits the 12:00 window
    _write_records_file(src / "f2.json", [rec("e4", 31)])
    # file 3: an event at 12:02 — 28 min late, beyond the 10-min
    # watermark, arriving AFTER its window's state was evicted. (Spark
    # still merges late rows into windows whose state is open; the
    # watermark guarantee is only that finalized windows stay final.)
    _write_records_file(src / "f3.json", [rec("late", 2), rec("e5", 32)])
    # distinct mtimes: the file source orders batches by modification
    # time, and sub-second writes can tie
    import os
    import time

    now = time.time()
    for i, name in enumerate(["f1.json", "f2.json", "f3.json"]):
        os.utime(src / name, (now - 60 + 30 * i, now - 60 + 30 * i))

    stream = read_cdc_stream(
        spark, str(src), starting_position="trim_horizon", max_files_per_trigger=1
    )
    counts = windowed_change_counts(stream, window_duration="5 minutes", watermark="10 minutes")
    q = (
        counts.writeStream.format("memory")
        .queryName("win_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _run_until_done(q)
    out = {
        (r.window_start.strftime("%H:%M"), r.n_events)
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    # the finalized 12:00 window counts e1+e2 but NOT the late arrival
    assert ("12:00", 2) in out


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join (watermarked, state-bounded) must
    produce exactly the rows the equivalent batch join produces."""
    import datetime

    from cdk_dynamodb_cdc_spark.streaming.stream import interval_join_streams

    UTC = datetime.timezone.utc
    t0 = datetime.datetime(2024, 1, 1, tzinfo=UTC)

    def rec(eid, minutes, op, pk):
        return {
            "event_id": eid, "seq": minutes,
            "ts": (t0 + datetime.timedelta(minutes=minutes)).strftime(
                "%Y-%m-%dT%H:%M:%S.%f%z"),
            "operation": op, "pk": pk, "sk": "SK",
            "old_image": None, "new_image": "{}", "size_bytes": 64,
        }

    rows = [
        rec("i1", 0, "INSERT", "A"),
        rec("m1", 10, "MODIFY", "A"),   # within 30 min of i1 -> pair
        rec("m2", 50, "MODIFY", "A"),   # too late -> no pair
        rec("i2", 45, "INSERT", "A"),   # m2 within 5 min of i2 -> pair
        rec("m3", 20, "MODIFY", "B"),   # no INSERT for B -> no pair
    ]
    src = tmp_path / "src"
    src.mkdir()
    import json as _json
    (src / "data.json").write_text(
        "\n".join(_json.dumps(r) for r in rows) + "\n")

    def split(df):
        ins = df.filter(F.col("operation") == "INSERT").select(
            F.col("pk"), F.col("ts").alias("ins_ts"),
            F.col("event_id").alias("ins_id"))
        mods = df.filter(F.col("operation") == "MODIFY").select(
            F.col("pk"), F.col("ts").alias("mod_ts"),
            F.col("event_id").alias("mod_id"))
        return ins, mods

    # batch expectation
    batch_df = spark.read.schema(CDC_RECORD_SCHEMA).json(str(src))
    bi, bm = split(batch_df)
    expected = {
        (r.ins_id, r.mod_id)
        for r in bi.join(
            bm,
            (bi["pk"] == bm["pk"])
            & (bm["mod_ts"] > bi["ins_ts"])
            & (bm["mod_ts"] <= bi["ins_ts"] + F.expr("INTERVAL 30 MINUTES")),
        ).collect()
    }
    assert expected == {("i1", "m1"), ("i2", "m2")}

    # streaming
    stream = spark.readStream.schema(CDC_RECORD_SCHEMA).json(str(src))
    si, sm = split(stream)
    joined = interval_join_streams(
        si, sm, key="pk", left_time="ins_ts", right_time="mod_ts",
        max_delay="30 minutes",
    ).select("ins_id", "mod_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    got = {
        (r.ins_id, r.mod_id)
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    }
    assert got == expected


def test_stream_stream_left_outer_interval_join_emits_unmatched(
    spark, tmp_path
):
    """left_outer lane: unmatched left rows must emit null-padded once
    the watermark passes their join horizon. Finite input, so a far-
    future flush row on a throwaway key advances both branches'
    watermarks past every core row's horizon."""
    import datetime
    import json as _json

    from cdk_dynamodb_cdc_spark.streaming.stream import interval_join_streams

    t0 = datetime.datetime(2024, 1, 1, tzinfo=UTC)

    def rec(eid, minutes, op, pk):
        return {
            "event_id": eid, "seq": minutes,
            "ts": (t0 + datetime.timedelta(minutes=minutes)).strftime(
                "%Y-%m-%dT%H:%M:%S.%f%z"),
            "operation": op, "pk": pk, "sk": "SK",
            "old_image": None, "new_image": "{}", "size_bytes": 64,
        }

    rows = [
        rec("i1", 0, "INSERT", "A"),
        rec("m1", 10, "MODIFY", "A"),    # pair
        rec("i3", 5, "INSERT", "C"),     # no MODIFY in window -> null row
        # flush: throwaway key, MODIFY before its INSERT so they can't
        # pair; both event-time branches advance past every horizon
        rec("zi", 1000, "INSERT", "ZZ"),
        rec("zm", 900, "MODIFY", "ZZ"),
    ]
    src = tmp_path / "src"
    src.mkdir()
    (src / "data.json").write_text(
        "\n".join(_json.dumps(r) for r in rows) + "\n")

    stream = spark.readStream.schema(CDC_RECORD_SCHEMA).json(str(src))
    ins = stream.filter(F.col("operation") == "INSERT").select(
        F.col("pk"), F.col("ts").alias("ins_ts"),
        F.col("event_id").alias("ins_id"))
    mods = stream.filter(F.col("operation") == "MODIFY").select(
        F.col("pk"), F.col("ts").alias("mod_ts"),
        F.col("event_id").alias("mod_id"))
    joined = interval_join_streams(
        ins, mods, key="pk", left_time="ins_ts", right_time="mod_ts",
        max_delay="30 minutes", how="left_outer",
    ).select("ins_id", "mod_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_outer")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj_outer"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    got = {
        (r.ins_id, r.mod_id)
        for r in spark.sql("SELECT * FROM ssj_outer").collect()
        if r.ins_id != "zi"  # flush key horizon never flushes itself
    }
    assert got == {("i1", "m1"), ("i3", None)}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="how"):
        interval_join_streams(
            ins, mods, key="pk", left_time="ins_ts", right_time="mod_ts",
            how="left_anti",  # stream-stream anti join is unsupported
        )


def test_stream_static_join_enriches_records(spark, tmp_path):
    """Stream-static join: the static side is re-read per micro-batch
    and broadcast — no stream state at all."""
    import datetime
    import json as _json

    UTC = datetime.timezone.utc
    t0 = datetime.datetime(2024, 1, 1, tzinfo=UTC)
    rows = [
        {"event_id": "e1", "seq": 1,
         "ts": t0.strftime("%Y-%m-%dT%H:%M:%S.%f%z"),
         "operation": "INSERT", "pk": "USER#1", "sk": "SK",
         "old_image": None, "new_image": "{}", "size_bytes": 64},
        {"event_id": "e2", "seq": 2,
         "ts": t0.strftime("%Y-%m-%dT%H:%M:%S.%f%z"),
         "operation": "INSERT", "pk": "USER#2", "sk": "SK",
         "old_image": None, "new_image": "{}", "size_bytes": 64},
    ]
    src = tmp_path / "src2"
    src.mkdir()
    (src / "d.json").write_text("\n".join(_json.dumps(r) for r in rows) + "\n")

    dim = spark.createDataFrame(
        [("USER#1", "gold")], "pk string, tier string")
    stream = spark.readStream.schema(CDC_RECORD_SCHEMA).json(str(src))
    enriched = stream.join(F.broadcast(dim), "pk", "left")
    q = (
        enriched.select("event_id", "tier")
        .writeStream.format("memory")
        .queryName("ssj_static")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_static"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.event_id: r.tier for r in spark.sql("SELECT * FROM ssj_static").collect()}
    assert got == {"e1": "gold", "e2": None}


def test_aggregate_store_maintains_group_totals_and_survives_replay(
    spark, tmp_path
):
    """IVM streaming lane: per-group totals stay equal to a batch
    recompute across multi-batch INSERT/MODIFY/REMOVE traffic
    (including a cross-group MODIFY), and replaying the whole stream
    against the finished store (fresh checkpoint, same state) applies
    nothing twice — the per-bucket applied_batch_id guard."""
    import decimal

    from cdk_dynamodb_cdc_spark.operators.ivm import (
        maintain_aggregate_stream,
        read_aggregate_store,
    )

    def img(group, value):
        return (
            '{"event_type":{"S":"%s"},"value":{"N":"%s"}}' % (group, value)
        )

    t0 = datetime.datetime(2024, 1, 1, tzinfo=UTC)
    b1 = [
        ("e1", 1, t0, "INSERT", "U#1", "S", None, img("a", "10.50"), 64),
        ("e2", 1, t0, "INSERT", "U#2", "S", None, img("a", "2.00"), 64),
        ("e3", 1, t0, "INSERT", "U#3", "S", None, img("b", "5.25"), 64),
    ]
    b2 = [
        # value-only modify; cross-group modify a->b; delete
        ("e4", 2, t0, "MODIFY", "U#1", "S", img("a", "10.50"),
         img("a", "11.00"), 64),
        ("e5", 2, t0, "MODIFY", "U#2", "S", img("a", "2.00"),
         img("b", "2.00"), 64),
        ("e6", 2, t0, "REMOVE", "U#3", "S", img("b", "5.25"), None, 64),
    ]
    src = tmp_path / "src"
    src.mkdir()
    _write_records_file(src / "b1.json", b1)
    state = str(tmp_path / "aggstate")

    def run(ckpt):
        stream = read_cdc_stream(
            spark, str(src), starting_position="trim_horizon",
            max_files_per_trigger=1,
        )
        q = maintain_aggregate_stream(
            stream,
            state_path=state,
            checkpoint_path=str(tmp_path / ckpt),
            group_field="event_type",
            value_field="value",
        )
        _run_until_done(q)

    run("ckpt1")
    _write_records_file(src / "b2.json", b2)
    run("ckpt1")  # same checkpoint: only b2 is new

    def totals():
        return {
            r.group_key: (r.n_items, decimal.Decimal(r.total_value))
            for r in read_aggregate_store(spark, state).collect()
        }

    want = {
        "a": (1, decimal.Decimal("11.00")),       # U#1 only
        "b": (1, decimal.Decimal("2.00")),        # U#2 moved in, U#3 removed
    }
    assert totals() == want

    # full replay: fresh checkpoint reprocesses b1+b2 against the
    # finished store; applied_batch_id >= replayed ids -> no-op
    run("ckpt2")
    assert totals() == want


def test_snapshot_store_upserts_and_deletes_across_batches(spark, tmp_path):
    """Streaming materialized-table maintenance: winners upsert, REMOVE
    deletes, untouched keys survive bucket rewrites, and the final
    store equals the batch-mode snapshot_at of the full log."""
    import json as _json

    from cdk_dynamodb_cdc_spark.operators.compaction import snapshot_at
    from cdk_dynamodb_cdc_spark.streaming import (
        maintain_snapshot_stream,
        read_snapshot_store,
    )

    def img(v):
        return _json.dumps({"v": {"N": str(v)}})

    t0 = datetime.datetime(2024, 1, 1, tzinfo=UTC)
    batch0 = [
        ("s1", 1, t0, "INSERT", "A", "S", None, img(1), 512),
        ("s2", 2, t0, "INSERT", "B", "S", None, img(2), 512),
        ("s3", 3, t0, "INSERT", "C", "S", None, img(3), 512),
    ]
    batch1 = [
        ("s4", 4, t0, "MODIFY", "A", "S", img(1), img(10), 512),
        ("s5", 5, t0, "REMOVE", "B", "S", img(2), None, 512),
        ("s6", 6, t0, "INSERT", "D", "S", None, img(4), 512),
    ]
    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    _write_records_file(src / "b0.json", batch0)
    stream = read_cdc_stream(spark, str(src), starting_position="trim_horizon")
    _run_until_done(
        maintain_snapshot_stream(
            stream, state_path=state, checkpoint_path=ckpt, buckets=4
        )
    )
    mid = {r.pk: r.image for r in read_snapshot_store(spark, state).collect()}
    assert set(mid) == {"A", "B", "C"} and '"1"' in mid["A"]

    _write_records_file(src / "b1.json", batch1)
    stream2 = read_cdc_stream(spark, str(src), starting_position="trim_horizon")
    _run_until_done(
        maintain_snapshot_stream(
            stream2, state_path=state, checkpoint_path=ckpt, buckets=4
        )
    )
    final = {r.pk: r.image for r in read_snapshot_store(spark, state).collect()}
    assert set(final) == {"A", "C", "D"}          # B deleted, C untouched
    assert '"10"' in final["A"] and '"3"' in final["C"]

    # parity with the batch-mode operator over the full log
    full = spark.createDataFrame(batch0 + batch1, schema=CDC_RECORD_SCHEMA)
    want = {
        r.pk: r.image for r in snapshot_at(full, key_cols=("pk", "sk")).collect()
    }
    assert {k: v for k, v in final.items()} == want


def test_snapshot_store_delete_only_bucket_purges_key(spark, tmp_path):
    """Regression: a batch whose net effect on a bucket is deleting its
    LAST key must still make the deletion durable. Dynamic partition
    overwrite cannot write an empty partition, so the store keeps a
    REMOVE tombstone row — and the reader must hide it."""
    import json as _json

    from cdk_dynamodb_cdc_spark.streaming import (
        maintain_snapshot_stream,
        read_snapshot_store,
    )

    def img(v):
        return _json.dumps({"v": {"N": str(v)}})

    t0 = datetime.datetime(2024, 1, 1, tzinfo=UTC)
    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    _write_records_file(
        src / "b0.json", [("s1", 1, t0, "INSERT", "A", "S", None, img(1), 512)]
    )
    stream = read_cdc_stream(spark, str(src), starting_position="trim_horizon")
    _run_until_done(
        maintain_snapshot_stream(
            stream, state_path=state, checkpoint_path=ckpt, buckets=1
        )
    )
    assert {r.pk for r in read_snapshot_store(spark, state).collect()} == {"A"}

    # the only record of the only bucket is a REMOVE
    _write_records_file(
        src / "b1.json", [("s2", 2, t0, "REMOVE", "A", "S", img(1), None, 512)]
    )
    stream2 = read_cdc_stream(spark, str(src), starting_position="trim_horizon")
    _run_until_done(
        maintain_snapshot_stream(
            stream2, state_path=state, checkpoint_path=ckpt, buckets=1
        )
    )
    assert read_snapshot_store(spark, state).count() == 0
    # the tombstone is physically present (that's what made the
    # deletion durable), just hidden by the reader
    raw = spark.read.parquet(state).collect()
    assert [r.operation for r in raw] == ["REMOVE"]


def test_stream_stream_left_semi_interval_join_matches_batch(
    spark, tmp_path
):
    """left_semi stream-stream interval join: each matched left row
    exactly once (no fan-out on multiple matches), equal to the batch
    semi join."""
    import datetime
    import json as _json

    from cdk_dynamodb_cdc_spark.streaming.stream import (
        interval_join_streams,
    )

    UTC = datetime.timezone.utc
    t0 = datetime.datetime(2024, 1, 1, tzinfo=UTC)

    def rec(eid, minutes, op, pk):
        return {
            "event_id": eid, "seq": minutes,
            "ts": (t0 + datetime.timedelta(minutes=minutes)).strftime(
                "%Y-%m-%dT%H:%M:%S.%f%z"),
            "operation": op, "pk": pk, "sk": "SK",
            "old_image": None, "new_image": "{}", "size_bytes": 64,
        }

    rows = [
        rec("i1", 0, "INSERT", "A"),
        rec("m1", 5, "MODIFY", "A"),    # match for i1
        rec("m2", 10, "MODIFY", "A"),   # SECOND match: no fan-out
        rec("i2", 100, "INSERT", "A"),  # no mod in window -> dropped
        rec("i3", 0, "INSERT", "B"),    # no mods at all -> dropped
    ]
    src = tmp_path / "src"
    src.mkdir()
    (src / "data.json").write_text(
        "\n".join(_json.dumps(r) for r in rows) + "\n")

    def split(df):
        ins = df.filter(F.col("operation") == "INSERT").select(
            F.col("pk"), F.col("ts").alias("ins_ts"),
            F.col("event_id").alias("ins_id"))
        mods = df.filter(F.col("operation") == "MODIFY").select(
            F.col("pk"), F.col("ts").alias("mod_ts"),
            F.col("event_id").alias("mod_id"))
        return ins, mods

    batch_df = spark.read.schema(CDC_RECORD_SCHEMA).json(str(src))
    bi, bm = split(batch_df)
    expected = sorted(
        r.ins_id
        for r in bi.join(
            bm,
            (bi["pk"] == bm["pk"])
            & (bm["mod_ts"] > bi["ins_ts"])
            & (bm["mod_ts"] <= bi["ins_ts"] + F.expr("INTERVAL 30 MINUTES")),
            "left_semi",
        ).collect()
    )
    assert expected == ["i1"]

    stream = spark.readStream.schema(CDC_RECORD_SCHEMA).json(str(src))
    si, sm = split(stream)
    joined = interval_join_streams(
        si, sm, key="pk", left_time="ins_ts", right_time="mod_ts",
        max_delay="30 minutes", how="left_semi",
    ).select("ins_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_semi_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_semi"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        r.ins_id for r in spark.sql("SELECT * FROM ssj_semi_out").collect()
    )
    assert got == expected


def test_stream_stream_full_outer_interval_join_matches_batch(
    spark, tmp_path
):
    """full_outer stream-stream interval join: matches join, unmatched
    LEFT rows null-pad once the watermark passes ins_ts + delay,
    unmatched RIGHT rows null-pad once it passes mod_ts — equal to the
    batch full outer join (flush rows excluded)."""
    import datetime
    import json as _json

    from cdk_dynamodb_cdc_spark.streaming.stream import (
        interval_join_streams,
    )

    UTC = datetime.timezone.utc
    t0 = datetime.datetime(2024, 1, 1, tzinfo=UTC)

    def rec(eid, minutes, op, pk):
        return {
            "event_id": eid, "seq": minutes,
            "ts": (t0 + datetime.timedelta(minutes=minutes)).strftime(
                "%Y-%m-%dT%H:%M:%S.%f%z"),
            "operation": op, "pk": pk, "sk": "SK",
            "old_image": None, "new_image": "{}", "size_bytes": 64,
        }

    rows = [
        rec("i1", 0, "INSERT", "A"),
        rec("m1", 5, "MODIFY", "A"),     # matches i1
        rec("i2", 100, "INSERT", "A"),   # unmatched left
        rec("m2", 200, "MODIFY", "A"),   # unmatched right (precedes no ins)
        rec("i3", 0, "INSERT", "B"),     # unmatched left (no B mods)
        rec("m3", 3, "MODIFY", "C"),     # unmatched right (no C inserts)
        # flush: push both watermarks far past every horizon above
        rec("i_flush", 100000, "INSERT", "Z"),
        rec("m_flush", 100000, "MODIFY", "Z"),
    ]
    src = tmp_path / "src"
    src.mkdir()
    (src / "data.json").write_text(
        "\n".join(_json.dumps(r) for r in rows) + "\n")

    def split(df):
        ins = df.filter(F.col("operation") == "INSERT").select(
            F.col("pk"), F.col("ts").alias("ins_ts"),
            F.col("event_id").alias("ins_id"))
        mods = df.filter(F.col("operation") == "MODIFY").select(
            F.col("pk"), F.col("ts").alias("mod_ts"),
            F.col("event_id").alias("mod_id"))
        return ins, mods

    def pairs(df):
        return sorted(
            (
                (r.ins_id, r.mod_id)
                for r in df.collect()
                if (r.ins_id or "") != "i_flush"
                and (r.mod_id or "") != "m_flush"
            ),
            key=lambda p: (p[0] or "", p[1] or ""),
        )

    batch_df = spark.read.schema(CDC_RECORD_SCHEMA).json(str(src))
    bi, bm = split(batch_df)
    expected = pairs(
        bi.join(
            bm,
            (bi["pk"] == bm["pk"])
            & (bm["mod_ts"] > bi["ins_ts"])
            & (bm["mod_ts"] <= bi["ins_ts"] + F.expr("INTERVAL 30 MINUTES")),
            "full_outer",
        ).select("ins_id", "mod_id")
    )
    assert (None, "m2") in expected and (None, "m3") in expected
    assert ("i2", None) in expected and ("i3", None) in expected
    assert ("i1", "m1") in expected

    stream = spark.readStream.schema(CDC_RECORD_SCHEMA).json(str(src))
    si, sm = split(stream)
    joined = interval_join_streams(
        si, sm, key="pk", left_time="ins_ts", right_time="mod_ts",
        max_delay="30 minutes", how="full_outer",
    )
    q = (
        joined.select("ins_id", "mod_id")
        .writeStream.format("memory")
        .queryName("ssj_fo_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_fo"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = pairs(spark.sql("SELECT * FROM ssj_fo_out"))
    assert got == expected


def test_streaming_cms_maintenance_folds_to_batch_sketch(
    spark, tmp_path
):
    """Sketch maintenance across micro-batches: each batch's CMS cells
    append to a transactional table (exactly-once via app/batch ids);
    the groupBy-sum fold of all appended cells equals the one-shot
    batch sketch of the whole stream — the mergeability theorem as a
    running pipeline."""
    from cdk_dynamodb_cdc_spark.functions.sketches import cms_cells
    from cdk_dynamodb_cdc_spark.storage import TxTable

    rows = fixture_rows()
    src = tmp_path / "src"
    src.mkdir()
    _write_records_file(src / "b0.json", rows[:6])
    _write_records_file(src / "b1.json", rows[6:])

    state = str(tmp_path / "cms_state")
    table = TxTable(spark, state)

    def sink(batch_df, batch_id):
        table.commit(
            cms_cells(batch_df, "pk", depth=3, width=32),
            app_id="cms",
            batch_id=batch_id,
        )

    stream = read_cdc_stream(
        spark, str(src), starting_position="trim_horizon"
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive

    folded = (
        table.snapshot()
        .groupBy("seed", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    whole = cms_cells(
        spark.read.schema(CDC_RECORD_SCHEMA).json(str(src)),
        "pk",
        depth=3,
        width=32,
    )
    assert folded.exceptAll(whole).count() == 0
    assert whole.exceptAll(folded).count() == 0


def test_streaming_daily_hll_folds_to_batch_registers(spark, tmp_path):
    """Daily-uniques dashboard shape: each micro-batch's per-day HLL
    registers append to a transactional table; the max-fold of all
    appended registers equals the one-shot batch sketch, so estimates
    match exactly — late data for an old day merges by the same max."""
    from cdk_dynamodb_cdc_spark.functions.sketches import (
        hll_estimate,
        hll_registers,
    )
    from cdk_dynamodb_cdc_spark.storage import TxTable

    rows = fixture_rows()
    src = tmp_path / "src"
    src.mkdir()
    _write_records_file(src / "b0.json", rows[:6])
    _write_records_file(src / "b1.json", rows[6:])

    table = TxTable(spark, str(tmp_path / "hll_state"))

    def sink(batch_df, batch_id):
        regs = hll_registers(
            batch_df.select(
                F.col("ts").cast("date").alias("day"), "pk"
            ),
            "pk",
            group_cols=("day",),
        )
        table.commit(regs, app_id="hll", batch_id=batch_id)

    stream = read_cdc_stream(
        spark, str(src), starting_position="trim_horizon"
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive

    folded = (
        table.snapshot()
        .groupBy("day", "reg")
        .agg(F.max("rho").alias("rho"))
    )
    whole_input = spark.read.schema(CDC_RECORD_SCHEMA).json(str(src))
    whole = hll_registers(
        whole_input.select(
            F.col("ts").cast("date").alias("day"), "pk"
        ),
        "pk",
        group_cols=("day",),
    )
    assert folded.exceptAll(whole).count() == 0
    assert whole.exceptAll(folded).count() == 0
    # and the per-day estimates from the folded store match the batch
    se = {
        (r.day, r.estimate)
        for r in hll_estimate(folded, group_cols=("day",)).collect()
    }
    be = {
        (r.day, r.estimate)
        for r in hll_estimate(whole, group_cols=("day",)).collect()
    }
    assert se == be and se


def test_streaming_drift_profile_folds_and_alarms(spark, tmp_path):
    """CDC-ops composition: field_drift_stats per micro-batch appends
    to a transactional store; the fold (sum counts, min/max spans)
    equals the batch profile, and an alarm join against a baseline
    surfaces exactly the attributes that appeared mid-stream."""
    import datetime as _dt
    import json as _json

    from cdk_dynamodb_cdc_spark.operators.monitor import field_drift_stats
    from cdk_dynamodb_cdc_spark.storage import TxTable

    t0 = _dt.datetime(2024, 1, 1, tzinfo=UTC)

    def rec(eid, minutes, image):
        return (
            eid, minutes, t0 + _dt.timedelta(minutes=minutes),
            "INSERT", f"PK#{eid}", "SK", None, _json.dumps(image), 64,
        )

    batch0 = [
        rec("a1", 0, {"name": {"S": "x"}, "v": {"N": "1"}}),
        rec("a2", 1, {"name": {"S": "y"}, "v": {"N": "2"}}),
    ]
    batch1 = [  # drift: new attribute 'flag'; 'v' re-typed N -> S
        rec("b1", 60, {"name": {"S": "z"}, "v": {"S": "high"},
                       "flag": {"BOOL": True}}),
    ]
    src = tmp_path / "src"
    src.mkdir()
    _write_records_file(src / "b0.json", batch0)
    _write_records_file(src / "b1.json", batch1)

    table = TxTable(spark, str(tmp_path / "drift_state"))

    def sink(batch_df, batch_id):
        table.commit(
            field_drift_stats(batch_df), app_id="drift", batch_id=batch_id
        )

    stream = read_cdc_stream(
        spark, str(src), starting_position="trim_horizon"
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive

    folded = table.snapshot().groupBy("field", "wire_type").agg(
        F.sum("n_records").alias("n_records"),
        F.min("first_seen_us").alias("first_seen_us"),
        F.max("last_seen_us").alias("last_seen_us"),
    )
    whole = field_drift_stats(
        spark.read.schema(CDC_RECORD_SCHEMA).json(str(src))
    )
    assert folded.exceptAll(whole).count() == 0
    assert whole.exceptAll(folded).count() == 0

    # alarm: pairs absent from the day-one baseline
    baseline = field_drift_stats(
        spark.createDataFrame(batch0, CDC_RECORD_SCHEMA)
    ).select("field", "wire_type")
    alarms = sorted(
        (r.field, r.wire_type)
        for r in folded.join(
            baseline, ["field", "wire_type"], "left_anti"
        ).collect()
    )
    assert alarms == [("flag", "BOOL"), ("v", "S")]


def test_stream_stream_right_outer_interval_join_matches_batch(
    spark, tmp_path
):
    """right_outer: matches join, unmatched RIGHT rows null-pad at
    their right_time horizon, unmatched left rows drop — equal to the
    batch right outer join (flush rows excluded)."""
    import datetime
    import json as _json

    from cdk_dynamodb_cdc_spark.streaming.stream import (
        interval_join_streams,
    )

    UTC = datetime.timezone.utc
    t0 = datetime.datetime(2024, 1, 1, tzinfo=UTC)

    def rec(eid, minutes, op, pk):
        return {
            "event_id": eid, "seq": minutes,
            "ts": (t0 + datetime.timedelta(minutes=minutes)).strftime(
                "%Y-%m-%dT%H:%M:%S.%f%z"),
            "operation": op, "pk": pk, "sk": "SK",
            "old_image": None, "new_image": "{}", "size_bytes": 64,
        }

    rows = [
        rec("i1", 0, "INSERT", "A"),
        rec("m1", 5, "MODIFY", "A"),     # matches i1
        rec("i2", 100, "INSERT", "A"),   # unmatched left -> dropped
        rec("m2", 200, "MODIFY", "A"),   # unmatched right -> kept
        rec("m3", 3, "MODIFY", "C"),     # unmatched right -> kept
        rec("i_flush", 100000, "INSERT", "Z"),
        rec("m_flush", 100000, "MODIFY", "Z"),
    ]
    src = tmp_path / "src"
    src.mkdir()
    (src / "data.json").write_text(
        "\n".join(_json.dumps(r) for r in rows) + "\n")

    def split(df):
        ins = df.filter(F.col("operation") == "INSERT").select(
            F.col("pk"), F.col("ts").alias("ins_ts"),
            F.col("event_id").alias("ins_id"))
        mods = df.filter(F.col("operation") == "MODIFY").select(
            F.col("pk"), F.col("ts").alias("mod_ts"),
            F.col("event_id").alias("mod_id"))
        return ins, mods

    def pairs(df):
        return sorted(
            (
                (r.ins_id, r.mod_id)
                for r in df.collect()
                if (r.ins_id or "") != "i_flush"
                and (r.mod_id or "") != "m_flush"
            ),
            key=lambda p: (p[0] or "", p[1] or ""),
        )

    batch_df = spark.read.schema(CDC_RECORD_SCHEMA).json(str(src))
    bi, bm = split(batch_df)
    expected = pairs(
        bi.join(
            bm,
            (bi["pk"] == bm["pk"])
            & (bm["mod_ts"] > bi["ins_ts"])
            & (bm["mod_ts"] <= bi["ins_ts"] + F.expr("INTERVAL 30 MINUTES")),
            "right_outer",
        ).select("ins_id", "mod_id")
    )
    assert (None, "m2") in expected and (None, "m3") in expected
    assert ("i1", "m1") in expected and ("i2", None) not in expected

    stream = spark.readStream.schema(CDC_RECORD_SCHEMA).json(str(src))
    si, sm = split(stream)
    joined = interval_join_streams(
        si, sm, key="pk", left_time="ins_ts", right_time="mod_ts",
        max_delay="30 minutes", how="right_outer",
    )
    q = (
        joined.select("ins_id", "mod_id")
        .writeStream.format("memory")
        .queryName("ssj_ro_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ro"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = pairs(spark.sql("SELECT * FROM ssj_ro_out"))
    assert got == expected


def test_streaming_inverted_index_maintenance(spark, tmp_path):
    """Search-index maintenance as a running pipeline: each micro-batch
    of documents appends its posting rows (term, doc_id, tf) to a
    transactional table; the sum-fold of all appended postings equals
    the one-shot index of the whole corpus, and a conjunctive search
    over the maintained index returns exactly the batch answer — the
    index-mergeability theorem that lets a 100-TB index absorb a daily
    crawl without a rebuild."""
    from cdk_dynamodb_cdc_spark.llm.text import (
        build_inverted_index,
        search_conjunctive,
    )
    from cdk_dynamodb_cdc_spark.storage import TxTable

    docs = [
        (0, "spark merge window spark"),
        (1, "merge window"),
        (2, "spark window"),
        (3, "unrelated words only"),
        (4, "spark merge window extra"),
        (5, "window window spark merge"),
    ]
    src = tmp_path / "docs"
    src.mkdir()
    for name, chunk in (("b0.json", docs[:3]), ("b1.json", docs[3:])):
        with open(src / name, "w") as fh:
            for doc_id, text in chunk:
                fh.write(
                    json.dumps({"doc_id": doc_id, "text": text}) + "\n"
                )

    table = TxTable(spark, str(tmp_path / "idx_state"))

    def sink(batch_df, batch_id):
        table.commit(
            build_inverted_index(batch_df),
            app_id="idx",
            batch_id=batch_id,
        )

    stream = spark.readStream.schema("doc_id long, text string").json(
        str(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive

    folded = (
        table.snapshot()
        .groupBy("term", "doc_id")
        .agg(F.sum("tf").alias("tf"))
    )
    whole = build_inverted_index(
        spark.read.schema("doc_id long, text string").json(str(src))
    )
    assert folded.exceptAll(whole).count() == 0
    assert whole.exceptAll(folded).count() == 0

    got = {
        (r.doc_id, r.n_terms_matched, r.score)
        for r in search_conjunctive(
            folded, ["spark", "merge", "window"], top_k=10
        ).collect()
    }
    want = {
        (r.doc_id, r.n_terms_matched, r.score)
        for r in search_conjunctive(
            whole, ["spark", "merge", "window"], top_k=10
        ).collect()
    }
    assert got == want
    assert {d for d, _, _ in got} == {0, 4, 5}


def test_temporal_enrich_stream_matches_batch_temporal_join(
    spark, tmp_path
):
    """Streaming SCD2 enrichment (one (value, open) state cell per
    key) equals the batch temporal_join on the same interleaved rows,
    including tombstone holes, a version arriving in a later
    micro-batch, and a same-instant version replacement."""
    import datetime
    import json as _json

    from pyspark.sql import Window

    from cdk_dynamodb_cdc_spark.operators.asof import temporal_join
    from cdk_dynamodb_cdc_spark.streaming.stream import (
        TEMPORAL_TAGGED_SCHEMA,
        temporal_enrich_stream,
    )

    UTC = datetime.timezone.utc
    t0 = datetime.datetime(2024, 1, 1, tzinfo=UTC)

    def rec(k, minutes, seq, side, v):
        return {
            "k": k, "seq": seq, "side": side, "v": v,
            "t": (t0 + datetime.timedelta(minutes=minutes)).strftime(
                "%Y-%m-%dT%H:%M:%S.%f%z"),
        }

    batch0 = [
        rec("A", 0, 1, 0, "v1"),
        rec("A", 5, 2, 1, None),     # fact -> v1
        rec("A", 10, 3, 0, "v2"),
        rec("A", 10, 4, 1, None),    # fact AT the open instant -> v2
        rec("A", 15, 5, 0, None),    # tombstone
        rec("A", 20, 6, 1, None),    # fact in the hole -> NULL
        rec("B", 7, 12, 1, None),    # key with no dim at all -> NULL
    ]
    batch1 = [
        rec("A", 25, 7, 0, "v3"),    # reopens in a LATER micro-batch
        rec("A", 30, 8, 1, None),    # fact -> v3
        rec("A", 40, 9, 0, "v4"),
        rec("A", 40, 10, 0, "v5"),   # same-instant replacement
        rec("A", 40, 11, 1, None),   # fact -> v5 (log order wins)
    ]
    src = tmp_path / "src"
    src.mkdir()
    (src / "b0.json").write_text(
        "\n".join(_json.dumps(r) for r in batch0) + "\n")
    (src / "b1.json").write_text(
        "\n".join(_json.dumps(r) for r in batch1) + "\n")

    # batch reference: SCD2 intervals via lead over (t, seq) incl.
    # tombstones, then the batch temporal join
    tagged = spark.read.schema(TEMPORAL_TAGGED_SCHEMA).json(str(src))
    w = Window.partitionBy("k").orderBy("t", "seq")
    dim = (
        tagged.filter(F.col("side") == 0)
        .withColumn("valid_to", F.lead("t").over(w))
        .filter(F.col("v").isNotNull())
        .select("k", F.col("v").alias("state_v"),
                F.col("t").alias("valid_from"), "valid_to")
    )
    facts = tagged.filter(F.col("side") == 1).select("k", "t", "seq")
    expected = {
        (r.k, r.seq): r.state_v
        for r in temporal_join(
            facts, dim, fact_time="t", keys=("k",),
            value_cols=("state_v",),
        ).collect()
    }
    assert expected == {
        ("A", 2): "v1", ("A", 4): "v2", ("A", 6): None,
        ("A", 8): "v3", ("A", 11): "v5", ("B", 12): None,
    }

    stream = (
        spark.readStream.schema(TEMPORAL_TAGGED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        temporal_enrich_stream(stream)
        .writeStream.format("memory")
        .queryName("temporal_enrich_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.k, r.seq): r.v
        for r in spark.sql("SELECT * FROM temporal_enrich_out").collect()
    }
    assert got == expected
