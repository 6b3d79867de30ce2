"""CdcPipeline builder tests: lane selection, custom transform hook,
reconstruction wiring, and publish envelope."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdk_dynamodb_cdc_spark import CdcPipeline
from cdk_dynamodb_cdc_spark.sources.fixtures import cdc_fixture_df


def test_batch_events_with_transform_hook(spark):
    records = cdc_fixture_df(spark)
    pipe = CdcPipeline(
        transform=lambda df: df.filter(F.col("operation") == "INSERT")
    )
    ops = {r.operation for r in pipe.events(records).collect()}
    assert ops == {"INSERT"}


def _stream_of(spark, records, src):
    """`records` written as one JSON-lines file under `src`, read back
    as a record stream from the start."""
    from cdk_dynamodb_cdc_spark.streaming import read_cdc_stream

    src.mkdir()
    with open(src / "b.json", "w") as fh:
        for r in (r.asDict() for r in records.collect()):
            r["ts"] = r["ts"].strftime("%Y-%m-%dT%H:%M:%S.%f+0000")
            fh.write(json.dumps(r) + "\n")
    return read_cdc_stream(spark, str(src), starting_position="trim_horizon")


def test_presign_and_transform_apply_in_both_lanes(spark, tmp_path):
    """presign_secret, the functionPath-style transform and a
    non-default claim threshold must shape the output identically
    whether the pipeline runs as a batch or as a checkpointed stream."""
    from cdk_dynamodb_cdc_spark.operators.claim_check import validate_claim_url

    pipe = CdcPipeline(
        claim_check_base=str(tmp_path / "store") + "/",
        claim_check_threshold=512,
        presign_secret="k3y",
        transform=lambda df: df.withColumn("tenant", F.lit("t0")),
    )

    records = cdc_fixture_df(spark)
    batch = pipe.events(records)
    batch_signed = batch.filter(F.col("images_url").isNotNull())
    assert batch_signed.count() > 0
    assert batch_signed.filter(
        ~validate_claim_url(F.col("images_url"), "k3y")
    ).count() == 0
    assert {r.tenant for r in batch.collect()} == {"t0"}

    sink = str(tmp_path / "sink")
    q = pipe.run_stream(
        _stream_of(spark, records, tmp_path / "src"),
        sink_path=sink,
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    streamed = spark.read.parquet(sink)
    assert {r.tenant for r in streamed.collect()} == {"t0"}
    s_signed = streamed.filter(F.col("images_url").isNotNull())
    assert s_signed.count() == batch_signed.count()
    assert s_signed.filter(
        ~validate_claim_url(F.col("images_url"), "k3y")
    ).count() == 0

    # one claim rule and one pointer rule: both lanes claim-check the
    # same events (size >= 512 or 0) and point at the same paths
    def paths(df):
        return {r.images_url.split("?")[0] for r in df.collect()}

    claimed = {
        "ev-insert", "ev-scalar", "ev-nested", "ev-array", "ev-add",
        "ev-remove-attr", "ev-remove", "ev-big", "ev-zero-size",
    }
    assert paths(s_signed) == paths(batch_signed) == {
        f"{tmp_path}/store/{eid}.json" for eid in claimed
    }


def test_pk_filter_applies_in_both_lanes(spark, tmp_path):
    records = cdc_fixture_df(spark)
    dynamic = CdcPipeline(pk_filters=["ORDER#*"])
    typed = CdcPipeline(
        pk_filters=["ORDER#*"],
        item_schema=T.StructType(
            [
                T.StructField("total", T.DoubleType()),
                T.StructField("name", T.StringType()),
                T.StructField("n", T.DoubleType()),
            ]
        ),
    )
    dyn_pks = {r.pk for r in dynamic.events(records).collect()}
    typ_pks = {r.pk for r in typed.events(records).collect()}
    assert dyn_pks and all(pk.startswith("ORDER#") for pk in dyn_pks)
    assert typ_pks and all(pk.startswith("ORDER#") for pk in typ_pks)

    sink = str(tmp_path / "sink")
    dynamic.run_stream(
        _stream_of(spark, records, tmp_path / "src"),
        sink_path=sink,
        checkpoint_path=str(tmp_path / "ckpt"),
    ).awaitTermination(120)
    stream_pks = {r.pk for r in spark.read.parquet(sink).collect()}
    assert stream_pks == dyn_pks


def test_reconstruction_wired_into_batch_lane(spark):
    rows = [
        ("r1", 1, None, "INSERT", "K", "S", None, json.dumps({"v": {"N": "1"}}), 64),
        ("r2", 2, None, "MODIFY", "K", "S", None, json.dumps({"v": {"N": "2"}}), 64),
    ]
    records = spark.createDataFrame(
        rows,
        "event_id string, seq long, ts timestamp, operation string, "
        "pk string, sk string, old_image string, new_image string, size_bytes long",
    )
    pipe = CdcPipeline(reconstruct_missing_old=True)
    by_id = {r.event_id: r for r in pipe.events(records).collect()}
    assert json.loads(by_id["r2"].before) == {"v": 1}
    assert json.loads(by_id["r2"].after) == {"v": 2}


def test_published_envelope(spark):
    records = cdc_fixture_df(spark)
    pipe = CdcPipeline(event_source="acme")
    rows = pipe.published(records).collect()
    assert {r.source for r in rows} == {"acme"}
    assert {r.detail_type for r in rows} == {"dynamo.item.changed"}
    detail = json.loads(rows[0].detail)
    assert "attributesChanged" in detail and "operation" in detail


def test_source_format_round_trips(spark, tmp_path):
    """§2B file sources: the engine's tables survive CSV, JSON, and ORC
    round trips with schema-preserving reads (header/schema options for
    the text formats), so corpus ingestion is not parquet-bound."""
    from cdk_dynamodb_cdc_spark.sources.tables import load_table

    li = (
        load_table(spark, "/root/testdata/sf0.001", "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")  # limit is re-executed
        .limit(500)                             # per action: pin the subset
    )
    want = {
        (r.l_orderkey, r.l_linenumber, float(r.l_quantity), r.l_returnflag)
        for r in li.collect()
    }
    schema = li.schema

    p = str(tmp_path / "csv")
    li.write.option("header", True).csv(p)
    got_csv = spark.read.option("header", True).schema(schema).csv(p)

    q = str(tmp_path / "json")
    li.write.json(q)
    got_json = spark.read.schema(schema).json(q)

    o = str(tmp_path / "orc")
    li.write.orc(o)
    got_orc = spark.read.orc(o)

    for got in (got_csv, got_json, got_orc):
        assert got.schema == schema
        rows = {
            (r.l_orderkey, r.l_linenumber, float(r.l_quantity), r.l_returnflag)
            for r in got.collect()
        }
        assert rows == want


def test_observation_metrics_piggyback_single_pass(spark):
    """Pipeline observability via DataFrame.observe(): acceptance
    counters ride the SAME job as the filter — no second scan, no
    extra action — and report exact integers. The 100-TB shape for
    'how many rows did this quality gate drop': a counter on the one
    pass you were already running."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, "x" * (10 + i % 50), i % 3) for i in range(300)],
        "doc_id long, text string, src long",
    )
    obs = Observation("gate")
    gated = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_in"),
        F.sum(
            (F.length("text") >= 30).cast("long")
        ).alias("n_pass"),
        F.sum(F.length("text")).alias("chars_in"),
    ).filter(F.length("text") >= 30)
    survivors = gated.count()  # the ONE action; metrics ride along
    got = obs.get
    assert got["n_in"] == 300
    assert got["n_pass"] == survivors
    expected_pass = sum(1 for i in range(300) if 10 + i % 50 >= 30)
    assert survivors == expected_pass
    assert got["chars_in"] == sum(10 + i % 50 for i in range(300))


# -- one Python pass per batch: events() and quarantine() share a frame --


def _rows(df):
    return sorted(
        (tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect()),
        key=lambda r: r[0],
    )


def _plan_nodes(plan):
    """Names of the executed plan's operators (a cached relation's own
    plan is not a child of its scan)."""
    kids = plan.children()
    return [plan.nodeName()] + [
        n for i in range(kids.size()) for n in _plan_nodes(kids.apply(i))
    ]


def _cache_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pipeline_matches_free_functions(spark):
    from cdk_dynamodb_cdc_spark.operators.pipeline import (
        cdc_change_events,
        quarantine,
    )

    records = cdc_fixture_df(spark)
    # free functions first: while a pipeline holds its frame, Spark would
    # answer their identical plans from that cache
    events, dead = _rows(cdc_change_events(records)), _rows(quarantine(records))
    pipe = CdcPipeline()
    assert _rows(pipe.events(records)) == events
    assert _rows(pipe.quarantine(records)) == dead
    pipe.close()
    assert [r[0] for r in dead] == ["ev-malformed"]


def test_quarantine_reads_the_events_pass(spark, tmp_path):
    spark.catalog.clearCache()  # isolate from frames other tests left cached
    records = cdc_fixture_df(spark)
    pipe = CdcPipeline()
    pipe.events(records).write.parquet(str(tmp_path / "events"))
    nodes = _plan_nodes(pipe.quarantine(records)._jdf.queryExecution().executedPlan())
    assert "InMemoryTableScan" in nodes
    assert not any("InPandas" in n for n in nodes), nodes
    pipe.close()
    assert _cache_empty(spark)
    # released: the same projection, uncached, runs its own pass again
    from cdk_dynamodb_cdc_spark.operators.pipeline import quarantine

    nodes = _plan_nodes(quarantine(records)._jdf.queryExecution().executedPlan())
    assert "MapInPandas" in nodes and "InMemoryTableScan" not in nodes


def test_side_store_reads_the_events_pass(spark, tmp_path, monkeypatch):
    """The benchmark's call sequence: write_side_store on the raw records
    after pipe.events() is answered from the pipeline's persisted pass."""
    from pyspark.sql import DataFrameWriter

    from cdk_dynamodb_cdc_spark.operators.claim_check import write_side_store

    spark.catalog.clearCache()
    records = cdc_fixture_df(spark)
    written = []
    parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        written.append(_plan_nodes(self._df._jdf.queryExecution().executedPlan()))
        return parquet(self, path, *args, **kwargs)

    with CdcPipeline() as pipe:
        pipe.events(records).write.parquet(str(tmp_path / "events"))
        monkeypatch.setattr(DataFrameWriter, "parquet", spy)
        write_side_store(records, str(tmp_path / "side"))
    (nodes,) = written
    assert "InMemoryTableScan" in nodes
    assert not any("InPandas" in n for n in nodes), nodes


def test_shared_frame_released(spark):
    import gc

    spark.catalog.clearCache()
    first, second = cdc_fixture_df(spark), cdc_fixture_df(spark)

    pipe = CdcPipeline()
    pipe.events(first).count()
    shared = pipe._cached[1]
    assert shared.storageLevel.useMemory
    pipe.quarantine(first).count()
    assert pipe._cached[1] is shared  # same records frame: no second pass
    # a different records frame releases the first one's pass
    pipe.events(second).count()
    assert not shared.storageLevel.useMemory
    pipe.close()
    assert _cache_empty(spark)

    pipe = CdcPipeline()  # dropped without close()
    pipe.quarantine(first).count()
    assert not _cache_empty(spark)
    del pipe
    gc.collect()
    assert _cache_empty(spark)

    with CdcPipeline() as pipe:  # released when the block ends
        pipe.events(first).count()
        assert not _cache_empty(spark)
    assert _cache_empty(spark)


def test_typed_lane_quarantine_persists_nothing(spark):
    from cdk_dynamodb_cdc_spark.operators.pipeline import quarantine

    spark.catalog.clearCache()
    records = cdc_fixture_df(spark)
    typed = CdcPipeline(
        item_schema=T.StructType([T.StructField("name", T.StringType())])
    )
    dead = typed.quarantine(records)
    typed.events(records).count()
    assert _rows(dead) == _rows(quarantine(records))
    assert _cache_empty(spark)
