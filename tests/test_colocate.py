"""Bucketed co-located joins (shuffle elimination) and salted skew
joins (result parity with the plain join)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdk_dynamodb_cdc_spark.operators import colocate
from cdk_dynamodb_cdc_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_salted_join_matches_plain_join(spark):
    od = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    cu = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_mktsegment")
    plain = od.join(cu, od["o_custkey"] == cu["c_custkey"]).select(
        "o_orderkey", "c_mktsegment"
    )
    salted = colocate.salted_join(
        od, cu, skewed_key="o_custkey", other_key="c_custkey", n_salt=4
    ).select("o_orderkey", "c_mktsegment")
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_salted_left_join_preserves_unmatched(spark):
    od = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    # shift keys so some orders have no customer
    cu = load_table(spark, SF_DIR, "customer").select(
        (F.col("c_custkey") + 10_000_000).alias("c_custkey")
    )
    plain = od.join(cu, od["o_custkey"] == cu["c_custkey"], "left")
    salted = colocate.salted_join(
        od, cu, skewed_key="o_custkey", other_key="c_custkey",
        n_salt=4, how="left",
    )
    assert salted.count() == plain.count()


def test_key_skew_profile_orders(spark):
    od = load_table(spark, SF_DIR, "orders")
    prof = colocate.key_skew_profile(od, "o_custkey", top=5).collect()
    assert len(prof) == 5
    assert prof[0].n_rows >= prof[-1].n_rows
    assert 0 < prof[0].share < 1
