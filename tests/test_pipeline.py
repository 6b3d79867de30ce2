"""End-to-end batch CDC pipeline over the golden fixture corpus."""

import json

from pyspark.sql import functions as F

from cdk_dynamodb_cdc_spark.operators.claim_check import (
    side_store_writes,
    write_side_store,
)
from cdk_dynamodb_cdc_spark.operators.pipeline import (
    cdc_change_events,
    pk_filter,
    publish,
    quarantine,
    route,
    tag_records,
)
from cdk_dynamodb_cdc_spark.sources.fixtures import cdc_fixture_df


def events_by_id(spark):
    df = cdc_change_events(cdc_fixture_df(spark))
    return {r["event_id"]: r.asDict() for r in df.collect()}


def test_pipeline_event_set(spark):
    ev = events_by_id(spark)
    # no-op MODIFY, set-reorder no-op, null guards, and the parse-error row drop out
    assert set(ev) == {
        "ev-insert", "ev-scalar", "ev-nested", "ev-array", "ev-add",
        "ev-remove-attr", "ev-remove", "ev-big", "ev-zero-size", "ev-order-ins",
    }


def test_insert_event(spark):
    e = events_by_id(spark)["ev-insert"]
    assert e["operation"] == "INSERT"
    assert e["pk"] == "USER#1" and e["sk"] == "PROFILE"
    assert sorted(e["attributes_changed"]) == sorted(
        ["name", "n", "big", "ok", "nil", "tags", "addr", "ss", "ns", "blob"]
    )
    assert json.loads(e["before"]) == {}
    assert json.loads(e["after"])["big"] == 123456789012345678901
    assert e["new_image"] is not None and e["old_image"] is None
    assert e["images_url"] is None


def test_scalar_modify(spark):
    e = events_by_id(spark)["ev-scalar"]
    assert e["attributes_changed"] == ["n"]
    assert json.loads(e["before"]) == {"n": 1.5}
    assert json.loads(e["after"]) == {"n": 2.5}
    assert e["old_image"] is None  # only REMOVEs inline the old image


def test_nested_modify_dot_paths(spark):
    e = events_by_id(spark)["ev-nested"]
    assert e["attributes_changed"] == ["addr", "addr.city"]
    assert json.loads(e["before"]) == {"addr": {"city": "nyc"}}
    assert json.loads(e["after"]) == {"addr": {"city": "sf"}}


def test_array_atomic(spark):
    e = events_by_id(spark)["ev-array"]
    assert e["attributes_changed"] == ["tags"]
    assert json.loads(e["after"]) == {"tags": ["x", 3]}


def test_remove_inlines_old_image(spark):
    e = events_by_id(spark)["ev-remove"]
    assert e["operation"] == "REMOVE"
    assert e["old_image"] is not None
    assert json.loads(e["old_image"])["name"] == "alice"


def test_claim_check_branches(spark):
    ev = events_by_id(spark)
    for eid in ("ev-big", "ev-zero-size"):  # >=64KiB and JS-falsy 0 both offload
        e = ev[eid]
        assert e["images_url"] == f"claim-check://images/{eid}.json"
        assert e["new_image"] is None and e["old_image"] is None
    assert ev["ev-scalar"]["images_url"] is None


def test_claim_check_side_store(spark, tmp_path):
    src = cdc_fixture_df(spark)
    offl = {r["event_id"] for r in side_store_writes(tag_records(src)).collect()}
    assert "ev-big" in offl and "ev-zero-size" in offl and "ev-scalar" not in offl
    path = str(tmp_path / "side-store")
    write_side_store(src, path)
    back = spark.read.parquet(path)
    assert back.filter(F.col("event_id") == "ev-big").count() == 1


def test_quarantine_collects_parse_errors(spark):
    q = quarantine(cdc_fixture_df(spark)).collect()
    assert [r["event_id"] for r in q] == ["ev-malformed"]
    assert "JSONDecodeError" in q[0]["error"]


def test_pk_filter_exact_and_prefix(spark):
    src = cdc_fixture_df(spark)
    only_orders = pk_filter(src, ["ORDER#*"])
    assert {r["pk"] for r in only_orders.collect()} == {"ORDER#1", "ORDER#42"}
    exact = pk_filter(src, ["USER#1"])
    assert {r["pk"] for r in exact.collect()} == {"USER#1"}
    both = pk_filter(src, ["USER#1", "ORDER#*"])
    assert {r["pk"] for r in both.collect()} == {"USER#1", "ORDER#1", "ORDER#42"}


def test_pk_filter_pushes_down(spark, tmp_path):
    """The prefix predicate must reach the parquet scan (SURVEY.md §4)."""
    path = str(tmp_path / "records")
    cdc_fixture_df(spark).write.parquet(path)
    plan = pk_filter(spark.read.parquet(path), ["USER#*"])._jdf.queryExecution().executedPlan().toString()
    assert "StartsWith" in plan and "PushedFilters" in plan


def test_publish_and_route(spark):
    events = cdc_change_events(cdc_fixture_df(spark))
    pub = publish(events, event_source="engine-test")
    routed = route(pub, "engine-test", "dynamo.item.changed")
    assert routed.count() == events.count()
    detail = json.loads(routed.first()["detail"])
    assert {"operation", "pk", "sk", "attributesChanged"} <= set(detail)
    assert route(pub, "other", "dynamo.item.changed").count() == 0


def test_seq_inversion_stats_flags_late_arrivals(spark):
    from cdk_dynamodb_cdc_spark.operators.monitor import seq_inversion_stats

    rows = [
        # key A: seq 1,3 arrive, then seq 2 arrives late (1 inversion,
        # lateness 3-2=1); key B perfectly ordered
        ("A", 1, 10), ("A", 3, 11), ("A", 2, 12),
        ("B", 1, 10), ("B", 2, 11),
    ]
    df = spark.createDataFrame(rows, "pk string, seq long, arrival long")
    got = {
        r.pk: (r.n_records, r.n_inversions, r.max_lateness)
        for r in seq_inversion_stats(
            df, key_cols=("pk",), seq_col="seq", arrival_col="arrival"
        ).collect()
    }
    assert got == {"A": (3, 1, 1)}  # ordered key B absent from report


def test_ivm_deltas_match_recompute_on_randomized_lifecycles(spark):
    """Randomized (seeded) adversarial IVM check: K keys run through
    INSERT -> MODIFYs (value and/or group changes, some no-ops) ->
    maybe REMOVE -> maybe re-INSERT; summed deltas through the full
    dynamic pipeline must equal a pure-Python recompute of the final
    states — including the REMOVE/old_image path and group
    transitions, which the corpus oracle stream never exercises."""
    import datetime
    import decimal
    import random

    from cdk_dynamodb_cdc_spark.operators.ivm import aggregate_deltas

    rng = random.Random(4242)
    UTC = datetime.timezone.utc
    t0 = datetime.datetime(2024, 1, 1, tzinfo=UTC)
    groups = ["g0", "g1", "g2"]

    def img(g, v):
        return '{"grp":{"S":"%s"},"val":{"N":"%s"}}' % (g, v)

    rows, final = [], {}
    eid = 0
    for k in range(40):
        pk = f"K#{k}"
        state = None
        for step in range(rng.randint(1, 6)):
            eid += 1
            ts = t0 + datetime.timedelta(minutes=eid)
            if state is None:
                state = (rng.choice(groups), f"{rng.randint(0, 9999)}.{rng.randint(0,99):02d}")
                rows.append((f"e{eid}", eid, ts, "INSERT", pk, "S",
                             None, img(*state), 64))
            elif rng.random() < 0.25:
                rows.append((f"e{eid}", eid, ts, "REMOVE", pk, "S",
                             img(*state), None, 64))
                state = None
            else:
                old = state
                which = rng.random()
                if which < 0.2:
                    new = old  # no-op MODIFY: pipeline drops it, delta 0
                elif which < 0.6:
                    new = (old[0], f"{rng.randint(0, 9999)}.{rng.randint(0,99):02d}")
                else:
                    new = (rng.choice([g for g in groups if g != old[0]]), old[1])
                rows.append((f"e{eid}", eid, ts, "MODIFY", pk, "S",
                             img(*old), img(*new), 64))
                state = new
        final[pk] = state

    expected = {}
    for state in final.values():
        if state is None:
            continue
        g, v = state
        n, tot = expected.get(g, (0, decimal.Decimal(0)))
        expected[g] = (n + 1, tot + decimal.Decimal(v))

    records = spark.createDataFrame(
        rows,
        "event_id string, seq long, ts timestamp, operation string, "
        "pk string, sk string, old_image string, new_image string, "
        "size_bytes long",
    )
    got = {
        r.group_key: (r.n_items, decimal.Decimal(r.total_value))
        for r in aggregate_deltas(
            cdc_change_events(records), group_field="grp", value_field="val"
        )
        .groupBy("group_key")
        .agg(
            F.sum("d_items").alias("n_items"),
            F.sum("d_value").alias("total_value"),
        )
        .filter(F.col("n_items") > 0)
        .collect()
    }
    assert got == expected and expected


def test_profile_columns_counts_nulls_and_distincts(spark):
    from cdk_dynamodb_cdc_spark.operators.monitor import profile_columns

    df = spark.createDataFrame(
        [(1, "a", None), (2, "a", 1.5), (3, None, 1.5), (4, "b", 2.5)],
        "id long, name string, score double",
    )
    out = {
        r["column"]: (r["n_rows"], r["n_nulls"], r["n_distinct"])
        for r in profile_columns(df, ["id", "name", "score"]).collect()
    }
    assert out == {
        "id": (4, 0, 4),
        "name": (4, 1, 2),  # distinct excludes NULL
        "score": (4, 1, 2),
    }
