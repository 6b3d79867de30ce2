"""Query registry: every implemented operator exposed as a
``(spark, sf_dir) -> DataFrame`` callable plus a DuckDB oracle SQL string.

This is the engine's coverage checklist made executable (SURVEY.md §2):
each entry demonstrates one operator family end-to-end on the test corpus
and is verified row-for-row against DuckDB by the driver (and locally by
``tools/check_correctness.py``).

Determinism discipline (so order-insensitive value hashes match DuckDB):

* All money/measure aggregation happens in DECIMAL (exact in both
  engines, any summation order), cast to DOUBLE only in the final
  projection. Raw double sums are banned — parallel summation order
  would change low bits.
* Double division/products only on operands that are already
  bit-identical in both engines (decimal-sum results, counts).
* Top-k always sorts with a unique tiebreaker; LIMIT without one is
  nondeterministic across engines.
* Timestamps leave results as DATE or epoch integers; `events.ts` is
  µs-precision in both engines (see sources/tables.py).

Broadcast-hint discipline (100 TB safety): ``F.broadcast()`` FORCES the
build side into executor memory regardless of its actual size, so hints
are reserved for sides whose cardinality is bounded by the schema — the
nation (25) / region (5) dims and 1-row global aggregates. Sides that
merely LOOK small at test scale but grow linearly with a base table
(filtered customer/part/supplier slices, per-key aggregates like
q17's per-part stats or q18's HAVING survivors) carry NO hint: AQE
re-plans the join from the runtime shuffle size, broadcasting exactly
when the side actually fits (it does at every test SF, so local plans
are unchanged) and falling back to a shuffle join at cluster scale
instead of OOMing the forced build.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdk_dynamodb_cdc_spark.llm import dedup as llm_dedup
from cdk_dynamodb_cdc_spark.llm import multimodal as llm_media
from cdk_dynamodb_cdc_spark.llm import text as llm_text
from cdk_dynamodb_cdc_spark.llm import vectors as llm_vectors
from cdk_dynamodb_cdc_spark.llm import curation as llm_curation
from cdk_dynamodb_cdc_spark.llm import cleaning as llm_cleaning
from cdk_dynamodb_cdc_spark.operators.asof import asof_join
from cdk_dynamodb_cdc_spark.operators.pipeline import cdc_change_events
from cdk_dynamodb_cdc_spark.sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _dec(col, prec: int = 12, scale: int = 2):
    return F.col(col).cast(f"decimal({prec},{scale})")


def _epoch_us(col):
    """Epoch microseconds for TIMESTAMP or TIMESTAMP_NTZ input.

    ``unix_micros`` accepts only TIMESTAMP (LTZ) and raises on the
    TIMESTAMP_NTZ columns the parquet corpus now carries
    (isAdjustedToUTC=false). ``timestampdiff`` from the NTZ epoch works
    for both types — LTZ inputs are first cast to NTZ in the session
    zone (UTC for this engine), matching DuckDB's ``epoch_us`` reading
    of the same naive values.
    """
    return F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        col.cast("timestamp_ntz"),
    )


# Index-accelerated EXACT ground truth for the word-3-gram similarity
# family (round 11). The r10 oracles evaluated the pair predicate on
# the full doc_a x doc_b cross product — exact, but ~1.25e9 list
# intersections at sf1 (measured ~100x the sf0.1 cost), which kept
# the whole family oracle-excluded at sf1. Any pair with Jaccard or
# containment > 0 shares at least one shingle, so joining the
# inverted shingle index yields a PROVABLY COMPLETE candidate
# superset (sum over grams of df^2 — measured 12.7M at sf1, max df
# 25); the exact predicate is then evaluated only on candidates,
# with values identical to the brute force. This stays independent
# of the production lane's MinHash/banding approximation — it is the
# same exact predicate on a lossless candidate reduction, not a
# replay of the engine's sketch.
_DUCK_SHINGLE_INDEX_SQL = """
    w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS MATERIALIZED (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(ws) - 1),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
        FROM w{guard}),
    posts AS (SELECT doc_id, unnest(s) AS g FROM sh),
    cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM posts a JOIN posts b
          ON a.g = b.g AND a.doc_id < b.doc_id),
    p AS (
        SELECT c.doc_a, c.doc_b,
               len(list_intersect(sa.s, sb.s)) AS n_common,
               -- |A u B| from sizes: both lists are distinct, equal to
               -- len(list_distinct(sa.s || sb.s)) without the merge
               len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))
                 AS n_union
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b)
"""


# ---------------------------------------------------------------------------
# Aggregation: TPC-H Q1 — scan + filter + groupBy with partial aggregation.
# Catalyst pushes the shipdate filter into the parquet scan and plans a
# partial (map-side) HashAggregate before the single shuffle.
# ---------------------------------------------------------------------------
@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    one = F.lit(1).cast("decimal(4,2)")
    disc_price = _dec("l_extendedprice") * (one - _dec("l_discount", 4, 2))
    charge = disc_price * (one + _dec("l_tax", 4, 2))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
        (F.sum(_dec("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias("avg_price"),
        (F.sum(_dec("l_discount", 4, 2)).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


# ---------------------------------------------------------------------------
# Multi-way join + agg + top-k: TPC-H Q3 shape. The segment-filtered
# customer side is AQE-broadcast when it fits (no forced hint — module
# docstring); top-k uses a unique tiebreaker for determinism.
# ---------------------------------------------------------------------------
@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS revenue,
           CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    one = F.lit(1).cast("decimal(4,2)")
    revenue = _dec("l_extendedprice") * (one - _dec("l_discount", 4, 2))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Star join (TPC-H Q5 shape): two broadcastable dims + three fact-side
# tables; co-partitioned shuffle joins on the big sides.
# ---------------------------------------------------------------------------
@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                  JOIN nation ON s_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 1996 (not TPC-H's canonical 1994): the corpus's o_orderdate spans
    # 1995-01-01..2001-08-01, so 1994 would filter to an empty (vacuous)
    # result.
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    one = F.lit(1).cast("decimal(4,2)")
    revenue = _dec("l_extendedprice") * (one - _dec("l_discount", 4, 2))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Semi / anti joins (EXISTS / NOT EXISTS)
# ---------------------------------------------------------------------------
@query(
    "semi_join_customers_with_orders",
    oracle="""
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
)
def semi_join_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "anti_join_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '1996-01-01'
                      AND o_orderdate < TIMESTAMP '1997-01-01')
    """,
)
def anti_join_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # "no orders in 1996" rather than "no orders ever": every customer in
    # the corpus has at least one order, which would make the plain anti
    # join pass vacuously on 0 rows.
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# Window functions: ranking top-k per group, running totals, lag deltas.
# ---------------------------------------------------------------------------
@query(
    "window_topk_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS totalprice, CAST(rk AS INT) AS rk
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
)
def window_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").alias("totalprice"),
            "rk",
        )
    )


@query(
    "window_running_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
             AS running_total,
           CAST(LAG(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS BIGINT)
             AS prev_orderkey
    FROM orders
    """,
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec("o_totalprice"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("running_total"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
    )


# ---------------------------------------------------------------------------
# Grouping sets / rollup and pivot (conditional aggregation)
# ---------------------------------------------------------------------------
@query(
    "rollup_lineitem_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_lineitem_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("l_quantity")).cast("double").alias("qty"),
    )


@query(
    "pivot_returnflag_by_status",
    oracle="""
    SELECT l_returnflag,
           CAST(CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS VARCHAR) AS DOUBLE) AS qty_o,
           CAST(CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS VARCHAR) AS DOUBLE) AS qty_f
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def pivot_returnflag_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("l_linestatus") == "O", _dec("l_quantity")))
        .cast("double")
        .alias("qty_o"),
        F.sum(F.when(F.col("l_linestatus") == "F", _dec("l_quantity")))
        .cast("double")
        .alias("qty_f"),
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------
@query(
    "setop_active_1996_not_1997",
    oracle="""
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    EXCEPT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    """,
)
def setop_active_1996_not_1997(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 1996/1997 (inside the corpus's 1995-2001 o_orderdate range) so the
    # EXCEPT produces survivors — 1994/1995 made this vacuous.
    orders = load_table(spark, sf_dir, "orders")

    def year(y: int) -> DataFrame:
        return orders.filter(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
        ).select("o_custkey")

    # subtract == SQL EXCEPT (set semantics): a key appearing in both
    # years is removed entirely. exceptAll().distinct() would keep keys
    # that merely appear MORE OFTEN in 1996 — a bug the previously
    # vacuous (0-row) predicate masked.
    return year(1996).subtract(year(1997))


# ---------------------------------------------------------------------------
# Distinct / exact distinct-count
# ---------------------------------------------------------------------------
@query(
    "distinct_parts_per_brand",
    oracle="""
    SELECT p_brand,
           CAST(COUNT(DISTINCT p_type) AS BIGINT) AS n_types,
           CAST(COUNT(DISTINCT p_size) AS BIGINT) AS n_sizes
    FROM part GROUP BY p_brand
    """,
)
def distinct_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        F.countDistinct("p_type").alias("n_types"),
        F.countDistinct("p_size").alias("n_sizes"),
    )


# ---------------------------------------------------------------------------
# Semi-structured: JSON extraction from the events.props payload —
# the dynamic-lane access path (get_json_object ≙ DuckDB json_extract).
# ---------------------------------------------------------------------------
@query(
    "json_extract_events_props",
    oracle="""
    SELECT event_type,
           CAST(CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS INT) AS k_bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type, k_bucket
    """,
)
def json_extract_events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy(
        "event_type", (k % 10).alias("k_bucket")
    ).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Sessionization: gap-based sessions via lag + cumulative sum window.
# ---------------------------------------------------------------------------
@query(
    "sessionize_events",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM gaps
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS duration_us
    FROM sess GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = _epoch_us(F.col("ts")) - _epoch_us(F.lag("ts").over(w))
    new_session = F.when(
        gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    wsum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = ev.withColumn("new_session", new_session).withColumn(
        "session_id", F.sum("new_session").over(wsum)
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (_epoch_us(F.max("ts")) - _epoch_us(F.min("ts"))).alias("duration_us"),
    )


# ---------------------------------------------------------------------------
# As-of join: state of a customer's (pre-aggregated) order book at each
# event time. Engine side uses the union-merge asof operator (one shuffle,
# no row blowup); oracle uses DuckDB's native ASOF JOIN.
# ---------------------------------------------------------------------------
@query(
    "asof_latest_order_at_event",
    oracle="""
    WITH orders_daily AS (
      SELECT o_custkey, o_orderdate,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS day_total
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(od.day_total) AS BIGINT) AS n_matched,
           CAST(CAST(SUM(CAST(od.day_total AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_matched_total
    FROM events e
    ASOF LEFT JOIN orders_daily od
      ON e.user_id = od.o_custkey AND e.ts >= od.o_orderdate
    GROUP BY e.user_id
    """,
)
def asof_latest_order_at_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    orders_daily = orders.groupBy("o_custkey", "o_orderdate").agg(
        F.sum(_dec("o_totalprice")).cast("double").alias("day_total")
    )
    joined = asof_join(
        ev,
        orders_daily,
        left_on="ts",
        right_on="o_orderdate",
        left_by="user_id",
        right_by="o_custkey",
        value_cols=["day_total"],
    )
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("day_total").alias("n_matched"),
        F.sum(F.col("day_total").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_matched_total"),
    )


# ---------------------------------------------------------------------------
# CDC pipeline on a synthesized change stream: events -> per-user version
# log -> marshalled CDC records -> the full engine pipeline -> change-event
# stats. The oracle re-derives the same counts relationally, which checks
# unmarshall + diff + no-op suppression end-to-end against SQL semantics.
# ---------------------------------------------------------------------------
_BPE_SEP = "\x1f"
_BPE_MERGES = 32


def synthesize_cdc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn the events table into a marshalled CDC stream: each user is an
    item whose document {event_type, value} mutates at every event."""
    return synthesize_cdc_records_from(load_table(spark, sf_dir, "events"))


def synthesize_cdc_records_from(ev: DataFrame) -> DataFrame:
    """Marshal an (already filtered/projected) events DataFrame into the
    CDC record shape — the per-user version log is derived from exactly
    the rows given, so callers can stage lifecycles (e.g. the staggered
    activity spans cdc_snapshot_diff uses) before synthesis."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")

    def marshal(et, v):
        return F.concat(
            F.lit('{"event_type":{"S":"'), et,
            F.lit('"},"value":{"N":"'), v.cast("string"), F.lit('"}}'),
        )

    return ev.select(
        F.col("event_id").cast("string").alias("event_id"),
        F.row_number().over(w).cast("long").alias("seq"),
        F.col("ts"),
        F.when(F.lag("event_id").over(w).isNull(), "INSERT")
        .otherwise("MODIFY")
        .alias("operation"),
        F.concat(F.lit("USER#"), F.col("user_id")).alias("pk"),
        F.lit("STATE").alias("sk"),
        F.when(
            F.lag("event_id").over(w).isNotNull(),
            marshal(F.lag("event_type").over(w), F.lag("value").over(w)),
        ).alias("old_image"),
        marshal(F.col("event_type"), F.col("value")).alias("new_image"),
        F.lit(512).cast("long").alias("size_bytes"),
    )


@query(
    "cdc_change_stats",
    oracle="""
    WITH versions AS (
      SELECT user_id, event_type, value,
             LAG(event_type) OVER w AS prev_type,
             LAG(value) OVER w AS prev_value,
             LAG(event_id) OVER w AS prev_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), diffs AS (
      SELECT CASE WHEN prev_id IS NULL THEN 'INSERT' ELSE 'MODIFY' END AS operation,
             CASE WHEN prev_id IS NULL THEN 2
                  ELSE (CASE WHEN event_type <> prev_type THEN 1 ELSE 0 END)
                     + (CASE WHEN value <> prev_value THEN 1 ELSE 0 END) END AS n_changed
      FROM versions
    )
    SELECT operation, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(n_changed) AS BIGINT) AS total_attrs_changed
    FROM diffs WHERE n_changed > 0
    GROUP BY operation
    """,
)
def cdc_change_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    records = synthesize_cdc_records(spark, sf_dir)
    changes = cdc_change_events(records)
    return changes.groupBy("operation").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.size("attributes_changed")).alias("total_attrs_changed"),
    )


@query(
    "cdc_unmarshall_roundtrip",
    oracle="""
    WITH versions AS (
      SELECT event_type, value,
             LAG(event_type) OVER w AS prev_type,
             LAG(value) OVER w AS prev_value,
             LAG(event_id) OVER w AS prev_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM versions
    WHERE prev_id IS NULL OR event_type <> prev_type OR value <> prev_value
    GROUP BY event_type
    """,
)
def cdc_unmarshall_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marshal -> engine unmarshall -> extract: proves the wire codec
    round-trips values bit-exactly (N decimal strings -> doubles)."""
    records = synthesize_cdc_records(spark, sf_dir)
    changes = cdc_change_events(records)
    return (
        changes.select(
            F.get_json_object("new_image", "$.event_type").alias("event_type"),
            F.get_json_object("new_image", "$.value")
            .cast("double")
            .cast("decimal(12,2)")
            .alias("value"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").cast("double").alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Claim check (A10, dynamo-stream-handler.ts:130-166): records above the
# 64 KiB threshold must carry a well-formed images_url POINTER and no
# inline images; records below it inline new_image and carry no pointer.
# Size is derived deterministically from the user id so the oracle can
# re-partition the stream into the same two classes relationally.
# ---------------------------------------------------------------------------
@query(
    "claim_check_pointer_stats",
    oracle="""
    WITH versions AS (
      SELECT user_id, event_type, value,
             LAG(event_type) OVER w AS prev_type,
             LAG(value) OVER w AS prev_value,
             LAG(event_id) OVER w AS prev_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), diffs AS (
      SELECT user_id,
             CASE WHEN prev_id IS NULL THEN 2
                  ELSE (CASE WHEN event_type <> prev_type THEN 1 ELSE 0 END)
                     + (CASE WHEN value <> prev_value THEN 1 ELSE 0 END) END AS n_changed
      FROM versions
    )
    SELECT CAST(SUM(CASE WHEN user_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pointer,
           CAST(SUM(CASE WHEN user_id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_inline,
           CAST(0 AS BIGINT) AS n_url_malformed,
           CAST(0 AS BIGINT) AS n_both_forms
    FROM diffs WHERE n_changed > 0
    """,
)
def claim_check_pointer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    uid = F.col("pk").substr(F.lit(6), F.lit(30)).cast("long")  # "USER#<id>"
    records = synthesize_cdc_records(spark, sf_dir).withColumn(
        "size_bytes",
        F.when(uid % 7 == 0, F.lit(100_000))
        .otherwise(F.lit(512))
        .cast("long"),
    )
    ev = cdc_change_events(records, claim_check_base="claim-check://images/")
    expected_url = F.concat(
        F.lit("claim-check://images/"), F.col("event_id"), F.lit(".json")
    )
    has_ptr = F.col("images_url").isNotNull()
    has_inline = F.col("new_image").isNotNull()
    return ev.agg(
        F.sum(F.when(has_ptr, 1).otherwise(0)).cast("long").alias("n_pointer"),
        F.sum(F.when(has_inline, 1).otherwise(0)).cast("long").alias("n_inline"),
        F.sum(
            F.when(has_ptr & (F.col("images_url") != expected_url), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_url_malformed"),
        F.sum(F.when(has_ptr & has_inline, 1).otherwise(0))
        .cast("long")
        .alias("n_both_forms"),
    )


# ===========================================================================
# LLM-pipeline operators (SURVEY.md §2C) over documents / embeddings.
# ===========================================================================

# ---------------------------------------------------------------------------
# Exact dedup. The corpus has no exact duplicates at sf<=0.01, so the
# query unions in deterministic copies (every 7th doc, re-keyed) to make
# the dedup observable and non-vacuous at every scale factor.
# ---------------------------------------------------------------------------
@query(
    "dedup_exact_groups",
    oracle="""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
    )
    SELECT MIN(doc_id) AS canonical_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           md5(text) AS text_md5
    FROM all_docs GROUP BY md5(text) HAVING COUNT(*) > 1
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    copies = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    return llm_dedup.exact_dedup_groups(docs.unionByName(copies))


# ---------------------------------------------------------------------------
# MinHash-LSH near-dedup. Engine side: banded LSH candidates + exact
# Jaccard verify (never all-pairs). Oracle: all-pairs exact Jaccard —
# feasible in DuckDB at sf0.01, and equal to the LSH answer because the
# verify step makes false positives impossible and 32x4 banding makes
# false negatives vanishingly unlikely at j >= 0.8.
# ---------------------------------------------------------------------------
@query(
    "near_dup_minhash_pairs",
    oracle=f"""
    WITH {_DUCK_SHINGLE_INDEX_SQL.format(guard='')}
    SELECT doc_a, doc_b,
           CAST(n_common AS INT) AS n_common,
           CAST(n_union AS INT) AS n_union,
           CAST(n_common AS DOUBLE) / n_union AS jaccard
    FROM p WHERE CAST(n_common AS DOUBLE) / n_union >= 0.8
    """,
)
def near_dup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return llm_dedup.minhash_near_dup_pairs(docs, threshold=0.8)


# ---------------------------------------------------------------------------
# SimHash near-dedup: 60-bit signatures, 4x15-bit chunk banding. Exact
# for Hamming <= 3 by pigeonhole, so the all-pairs oracle must match
# bit-for-bit. The oracle's simhash SQL is generated (60 bit-sums).
# ---------------------------------------------------------------------------
@query(
    "near_dup_simhash_pairs",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {llm_text.duck_simhash60('text')} AS sh
                FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
    """,
)
def near_dup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return llm_dedup.simhash_near_dup_pairs(docs, max_hamming=3)


# ---------------------------------------------------------------------------
# Per-document signatures: full 60-bit SimHash + rolling-hash
# fingerprint. Verifies every bit of both signature operators per doc
# (the pairs queries above only see the near-dup subset).
# ---------------------------------------------------------------------------
@query(
    "doc_signatures",
    oracle=f"""
    SELECT doc_id,
           {llm_text.duck_simhash60('text')} AS simhash,
           {llm_text.duck_doc_fingerprint('text')} AS fingerprint
    FROM documents
    """,
)
def doc_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Both signatures in ONE projection over one scan — each expression
    # is referenced exactly once, so nothing re-inlines, and there is
    # no join/shuffle at all: 100 TB of documents stream map-side.
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        llm_text.simhash60(llm_text.tokens(F.col("text"))).alias("simhash"),
        llm_text.doc_fingerprint(F.col("text")).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# Text quality scoring (token counts, stopword density, composite
# score). All doubles are exact-IEEE functions of bit-identical ints,
# so the hashes match despite float columns.
# ---------------------------------------------------------------------------
_STOP_LIST_SQL = ", ".join(f"'{w}'" for w in llm_text.EN_STOPWORDS)


@query(
    "text_quality_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
             len(string_split(text, ' ')) AS n_tokens,
             len(text) AS n_chars,
             len(list_filter(string_split(text, ' '),
                             w -> w IN ({_STOP_LIST_SQL}))) AS n_stop
      FROM documents
    )
    SELECT doc_id,
           CAST(n_tokens AS INT) AS n_tokens,
           CAST(n_chars AS INT) AS n_chars_calc,
           CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens AS mean_token_len,
           CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
           (CAST(least(n_tokens, 80) AS DOUBLE) / 80.0) * 0.7
             + (CAST(n_stop AS DOUBLE) / n_tokens) * 0.3 AS quality_score
    FROM t
    """,
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cols = llm_text.text_quality(F.col("text"))
    return docs.select(
        "doc_id", *[expr.alias(name) for name, expr in cols.items()]
    )


# ---------------------------------------------------------------------------
# Budget-constrained selection (llm/curation.py:budget_select): take
# the best-scoring documents while the cumulative token count stays
# within a fixed training budget. The quality proxy is an integer
# composite (n_stop * 100 + min(n_tokens, 80)) so the order is exact;
# the oracle is the textbook global ordered cumulative sum, while the
# engine runs threshold refinement — driver sees only the per-score
# totals, every score group above the boundary passes by plain
# filter, and only the one boundary group is sorted. The green hash
# certifies the refinement equals the global greedy prefix.
# ---------------------------------------------------------------------------
_BUDGET_TOKENS = 12000


@query(
    "budget_select_docs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(text, ' '),
                             w -> w IN ({_STOP_LIST_SQL}))) AS n_stop
      FROM documents
    ), s AS (
      SELECT doc_id,
             CAST(n_stop * 100 + least(n_tokens, 80) AS BIGINT) AS score,
             CAST(n_tokens AS BIGINT) AS n_tokens
      FROM t
    ), o AS (
      SELECT doc_id, score, n_tokens,
             SUM(n_tokens) OVER (ORDER BY score DESC, doc_id) AS cum
      FROM s
    )
    SELECT doc_id, score, n_tokens FROM o WHERE cum <= {_BUDGET_TOKENS}
    """,
)
def budget_select_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm.curation import budget_select

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    n_stop = llm_text._hits(toks, llm_text.EN_STOPWORDS)
    scored = docs.select(
        "doc_id",
        (n_stop * 100 + F.least(n_tokens, F.lit(80)))
        .cast("long")
        .alias("score"),
        n_tokens.cast("long").alias("n_tokens"),
    )
    return budget_select(scored, budget=_BUDGET_TOKENS)


# ---------------------------------------------------------------------------
# Heuristic language ID vs the corpus label: confusion counts. (The
# corpus text is synthetic English-ish word salad regardless of label,
# so the interesting output is the machinery, verified exactly.)
# ---------------------------------------------------------------------------
@query(
    "lang_id_confusion",
    oracle=f"""
    SELECT lang, {llm_text.duck_lang_id('text')} AS predicted,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM documents GROUP BY lang, predicted
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", llm_text.lang_id(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Similarity search: exact brute-force cosine top-10 for 5 query
# vectors. Integer-only output (qid, rank, neighbor) so the comparison
# is robust to float formatting while the ranking pins the cosines.
# ---------------------------------------------------------------------------
@query(
    "embedding_cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv
               FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
    s AS (SELECT qid, e.vec_id AS neighbor_id,
            list_sum(list_transform(range(1, len(qv) + 1),
                     i -> qv[i]::DOUBLE * e.embedding[i]::DOUBLE))
            / (sqrt(list_sum(list_transform(range(1, len(qv) + 1),
                     i -> qv[i]::DOUBLE * qv[i]::DOUBLE)))
               * sqrt(list_sum(list_transform(range(1, len(qv) + 1),
                     i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))))
            AS cos
          FROM q, embeddings e WHERE e.vec_id <> qid)
    SELECT qid, CAST(rk AS INT) AS rk, neighbor_id
    FROM (SELECT qid, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY cos DESC, neighbor_id) AS rk
          FROM s)
    WHERE rk <= 10
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return llm_vectors.cosine_topk(emb, query_ids=[0, 1, 2, 3, 4], k=10)


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss projected search (llm/vectors.py:jl_project):
# project the 64-dim corpus to 16 dims with the deterministic
# Rademacher matrix and run exact cosine top-10 in the PROJECTED
# space. The oracle inlines the identical +-1 matrix literal and
# replays projection + ranking — a green hash pins the whole
# project-then-search lane bit-for-bit (the +-1 entries keep every
# projected coordinate an exact signed sum, folded in index order on
# both engines).
# ---------------------------------------------------------------------------
def _jl_matrix_sql(in_dim: int, out_dim: int) -> str:
    from cdk_dynamodb_cdc_spark.llm.vectors import jl_signs

    return (
        "["
        + ", ".join(
            "[" + ", ".join(str(s) for s in row) + "]"
            for row in jl_signs(in_dim, out_dim)
        )
        + "]"
    )


_JL_IN_DIM, _JL_OUT_DIM = 64, 16


@query(
    "embedding_jl_topk",
    oracle=f"""
    WITH m AS (SELECT {_jl_matrix_sql(_JL_IN_DIM, _JL_OUT_DIM)} AS mat),
    p AS (
      SELECT vec_id,
             list_transform(range(1, {_JL_OUT_DIM + 1}), j ->
               list_sum(list_transform(range(1, {_JL_IN_DIM + 1}),
                 i -> embedding[i]::DOUBLE * mat[j][i]))) AS pv
      FROM embeddings, m
    ),
    q AS (SELECT vec_id AS qid, pv AS qv FROM p
          WHERE vec_id IN (0, 1, 2, 3, 4)),
    s AS (SELECT qid, p.vec_id AS neighbor_id,
            list_sum(list_transform(range(1, {_JL_OUT_DIM + 1}),
                     i -> qv[i] * p.pv[i]))
            / (sqrt(list_sum(list_transform(range(1, {_JL_OUT_DIM + 1}),
                     i -> qv[i] * qv[i])))
               * sqrt(list_sum(list_transform(range(1, {_JL_OUT_DIM + 1}),
                     i -> p.pv[i] * p.pv[i])))) AS cos
          FROM q, p WHERE p.vec_id <> qid)
    SELECT qid, CAST(rk AS INT) AS rk, neighbor_id
    FROM (SELECT qid, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY cos DESC, neighbor_id) AS rk
          FROM s)
    WHERE rk <= 10
    """,
)
def embedding_jl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return llm_vectors.jl_cosine_topk(
        emb,
        query_ids=[0, 1, 2, 3, 4],
        in_dim=_JL_IN_DIM,
        k=10,
        out_dim=_JL_OUT_DIM,
    )


# ---------------------------------------------------------------------------
# Keyless interval-lookup join (operators/interval.py:
# grid_interval_join): orders priced into IRREGULAR price bands — no
# equi key exists, so the operator manufactures one by grid-bucketing
# the number line (intervals explode to their cells and broadcast;
# facts hash-join on their single cell) instead of the O(facts x
# intervals) nested loop a raw BETWEEN join plans. The oracle is the
# plain BETWEEN join — a green hash proves the bucketed rewrite is
# exactly the containment join.
# ---------------------------------------------------------------------------
_PRICE_BANDS = [
    ("A_budget", 0, 49_999),
    ("B_mid", 50_000, 149_999),
    ("C_premium", 150_000, 299_999),
    ("D_luxury", 300_000, 600_000),
]


@query(
    "orders_price_band_stats",
    oracle=f"""
    WITH bands(band, lo, hi) AS (VALUES
      {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _PRICE_BANDS)})
    SELECT b.band,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
             AS total_price
    FROM orders o
    JOIN bands b ON o.o_totalprice BETWEEN b.lo AND b.hi
    GROUP BY b.band
    """,
)
def orders_price_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.interval import (
        grid_interval_join,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("double").alias("price"),
        _dec("o_totalprice").alias("p_dec"),
    )
    bands = spark.createDataFrame(
        _PRICE_BANDS, "band string, lo long, hi long"
    )
    joined = grid_interval_join(
        orders, bands, value_col="price", cell=50_000.0
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("p_dec").cast("double").alias("total_price"),
    )


# ---------------------------------------------------------------------------
# ANN with a recall CONTRACT oracle (the approx_distinct pattern): the
# ANN result itself is approximate by design, so the driver-checkable
# claim is "recall@10 vs the exact path >= floor for every query".
# Spark emits (qid, recall_ok); the oracle is the constant-TRUE table
# over the same qids — any recall regression flips a boolean and fails
# the hash compare. The recall VALUE is additionally floor-pinned in
# tests/test_llm.py.
# ---------------------------------------------------------------------------
_ANN_QUERY_IDS = [0, 1, 2, 3, 4]
# Calibrated for the gate corpus (sf0.01+, measured min 0.52): on the
# ~100-vector sf0.001 corpus sign-LSH recall can dip to 0.3 for a
# query (too few candidates per probed bucket), which is the
# approximate operator behaving as designed, not a regression — the
# contract's domain is the gate SF.
_ANN_RECALL_FLOOR = 0.4


@query(
    "embedding_ann_topk",
    oracle="SELECT * FROM (VALUES "
    + ", ".join(f"({i}, TRUE)" for i in _ANN_QUERY_IDS)
    + ") AS t(qid, recall_ok)",
)
def embedding_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ann = llm_vectors.ann_cosine_topk(
        emb, query_ids=_ANN_QUERY_IDS, k=10, dim=64
    )
    exact = llm_vectors.cosine_topk(emb, query_ids=_ANN_QUERY_IDS, k=10)
    hits = exact.select("qid", "neighbor_id").join(
        ann.select("qid", "neighbor_id"), ["qid", "neighbor_id"], "left_semi"
    )
    return (
        hits.groupBy("qid")
        .agg((F.count(F.lit(1)) / 10.0).alias("recall"))
        .select(
            F.col("qid").cast("int").alias("qid"),
            (F.col("recall") >= F.lit(_ANN_RECALL_FLOOR)).alias("recall_ok"),
        )
    )


# ---------------------------------------------------------------------------
# IVF-flat ANN (the second approximate path besides sign-LSH): same
# recall-contract oracle shape as embedding_ann_topk. Floor 0.3 —
# measured per-query recall@10 at defaults (trained codebook,
# nprobe=10) is {0.4..0.8} at sf0.01, and the operator is fully
# deterministic (seeded k-means codebook, exact cosine, unique
# tiebreakers). Near-random corpus vectors are IVF's worst case; the
# floor is the contract, nprobe the dial.
# ---------------------------------------------------------------------------
_IVF_RECALL_FLOOR = 0.3


@query(
    "embedding_ivf_topk",
    oracle="SELECT * FROM (VALUES "
    + ", ".join(f"({i}, TRUE)" for i in _ANN_QUERY_IDS)
    + ") AS t(qid, recall_ok)",
)
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ivf = llm_vectors.ivf_cosine_topk(emb, query_ids=_ANN_QUERY_IDS, k=10)
    exact = llm_vectors.cosine_topk(emb, query_ids=_ANN_QUERY_IDS, k=10)
    hits = exact.select("qid", "neighbor_id").join(
        ivf.select("qid", "neighbor_id"), ["qid", "neighbor_id"], "left_semi"
    )
    return (
        hits.groupBy("qid")
        .agg((F.count(F.lit(1)) / 10.0).alias("recall"))
        .select(
            F.col("qid").cast("int").alias("qid"),
            (F.col("recall") >= F.lit(_IVF_RECALL_FLOOR)).alias("recall_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing: binary payload -> Arrow-batched metadata decode
# (deterministic fake codec) and frame sampling (multi-row emission).
# ---------------------------------------------------------------------------
@query(
    "media_metadata",
    oracle="""
    SELECT doc_id,
           CASE WHEN source IN ('src0', 'src1') THEN 'image'
                WHEN source IN ('src2', 'src3') THEN 'audio'
                ELSE 'video' END AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(octet_length(encode(text)) % 64 + 16 AS INT) AS width,
           CAST((octet_length(encode(text)) // 64) % 64 + 16 AS INT) AS height,
           CAST(octet_length(encode(text)) % 7 + 1 AS INT) AS n_frames
    FROM documents
    """,
)
def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return llm_media.decode_metadata(llm_media.attach_binary_payload(docs))


@query(
    "media_frame_sample",
    oracle="""
    WITH m AS (SELECT doc_id,
                      octet_length(encode(text)) AS n,
                      octet_length(encode(text)) % 7 + 1 AS nf
               FROM documents
               WHERE source NOT IN ('src0', 'src1', 'src2', 'src3'))
    SELECT doc_id, CAST(f AS INT) AS frame_idx,
           CAST(f * (n // nf) AS BIGINT) AS frame_offset
    FROM (SELECT doc_id, n, nf, unnest(range(0, nf)) AS f FROM m)
    """,
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return llm_media.sample_frames(llm_media.attach_binary_payload(docs))


# ---------------------------------------------------------------------------
# AV-transcript alignment: every sampled video frame attached to the
# transcript token whose start offset is nearest at-or-before the
# frame's byte offset — the frame <-> caption pairing step of any
# audio/video training-data pipeline, here the multimodal lane
# (mapInPandas frame sampler) composed with the as-of join. Token
# start offsets are an exact cumulative sum (prior token lengths plus
# separators); the oracle aligns with the textbook max-start-<=-offset
# QUALIFY pick, certifying the union-merge as-of plan equivalent.
# ---------------------------------------------------------------------------
@query(
    "media_transcript_alignment",
    oracle="""
    WITH m AS (SELECT doc_id, text,
                      octet_length(encode(text)) AS n,
                      octet_length(encode(text)) % 7 + 1 AS nf
               FROM documents
               WHERE source NOT IN ('src0', 'src1', 'src2', 'src3')),
    fr AS (SELECT doc_id, CAST(f AS INT) AS frame_idx,
                  CAST(f * (n // nf) AS BIGINT) AS frame_offset
           FROM (SELECT doc_id, n, nf, unnest(range(0, nf)) AS f FROM m)),
    tk AS (
      SELECT doc_id, CAST(i - 1 AS INT) AS token_pos, ws[i] AS tok,
             SUM(len(ws[i]) + 1) OVER (PARTITION BY doc_id ORDER BY i)
               - len(ws[i]) - 1 AS tstart
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM m),
           unnest(range(1, len(ws) + 1)) AS u(i)
    )
    SELECT f.doc_id, f.frame_idx, f.frame_offset, t.token_pos,
           t.tok AS token
    FROM fr f JOIN tk t
      ON t.doc_id = f.doc_id AND t.tstart <= f.frame_offset
    QUALIFY ROW_NUMBER() OVER (PARTITION BY f.doc_id, f.frame_idx
                               ORDER BY t.tstart DESC) = 1
    """,
)
def media_transcript_alignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.asof import asof_join

    docs = load_table(spark, sf_dir, "documents")
    media = llm_media.attach_binary_payload(docs)
    frames = llm_media.sample_frames(media)
    # transcripts come from the raw docs; the video subset is defined
    # once, in attach_binary_payload's media_type rule
    vids = docs.join(
        media.filter(F.col("media_type") == "video").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    toks = vids.select(
        F.col("doc_id").alias("t_doc"),
        F.posexplode(F.split(F.col("text"), " ")).alias("token_pos", "token"),
    )
    wt = Window.partitionBy("t_doc").orderBy("token_pos")
    toks = toks.select(
        "t_doc",
        F.col("token_pos").cast("int").alias("token_pos"),
        "token",
        (
            F.sum(F.length("token") + 1).over(wt)
            - F.length("token")
            - 1
        )
        .cast("long")
        .alias("tstart"),
    )
    return asof_join(
        frames,
        toks,
        left_on="frame_offset",
        right_on="tstart",
        left_by="doc_id",
        right_by="t_doc",
        value_cols=["token_pos", "token"],
    ).select("doc_id", "frame_idx", "frame_offset", "token_pos", "token")


# ---------------------------------------------------------------------------
# Streaming-operator semantics, oracle-checked in batch mode (DuckDB
# cannot consume streams; the same expressions run under readStream in
# streaming/stream.py): tumbling event-time windows and session windows.
# ---------------------------------------------------------------------------
@query(
    "tumbling_window_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY window_start, event_type
    """,
)
def tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n_events"
        )
    )


@query(
    "session_window_stats",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM gaps
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.session_window merges events whose [ts, ts+gap) intervals
    overlap — a gap of EXACTLY 30 min starts a new session (half-open
    interval), hence the oracle's >= where sessionize_events uses >."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Typed-lane CDC: the same synthesized change stream processed with ZERO
# Python — declared schema, generated from_json unmarshall + Column
# diff (operators/typed_diff.py). Must produce the dynamic lane's
# numbers (same oracle as cdc_change_stats).
# ---------------------------------------------------------------------------
@query(
    "cdc_change_stats_typed",
    oracle="""
    WITH versions AS (
      SELECT user_id, event_type, value,
             LAG(event_type) OVER w AS prev_type,
             LAG(value) OVER w AS prev_value,
             LAG(event_id) OVER w AS prev_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), diffs AS (
      SELECT CASE WHEN prev_id IS NULL THEN 'INSERT' ELSE 'MODIFY' END AS operation,
             CASE WHEN prev_id IS NULL THEN 2
                  ELSE (CASE WHEN event_type <> prev_type THEN 1 ELSE 0 END)
                     + (CASE WHEN value <> prev_value THEN 1 ELSE 0 END) END AS n_changed
      FROM versions
    )
    SELECT operation, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(n_changed) AS BIGINT) AS total_attrs_changed
    FROM diffs WHERE n_changed > 0
    GROUP BY operation
    """,
)
def cdc_change_stats_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from cdk_dynamodb_cdc_spark.operators.typed_diff import cdc_change_events_typed

    item_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    records = synthesize_cdc_records(spark, sf_dir)
    changes = cdc_change_events_typed(records, item_schema)
    return changes.groupBy("operation").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.size("attributes_changed")).alias("total_attrs_changed"),
    )


# ---------------------------------------------------------------------------
# AUTO-typed CDC lane (operators/monitor.py:infer_item_schema ->
# operators/typed_diff.py): the declared schema is not hand-written
# but INFERRED from the stream's own drift profile
# (field_drift_stats), then the zero-Python typed pipeline runs under
# it. Same oracle as cdc_change_stats — a green hash is driver-side
# evidence that the drift-profile -> StructType -> typed-diff
# composition reproduces the dynamic lane exactly, which is the link
# that makes the scale lane usable without hand-declared schemas.
# ---------------------------------------------------------------------------
@query(
    "cdc_change_stats_autotyped",
    oracle="""
    WITH versions AS (
      SELECT user_id, event_type, value,
             LAG(event_type) OVER w AS prev_type,
             LAG(value) OVER w AS prev_value,
             LAG(event_id) OVER w AS prev_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), diffs AS (
      SELECT CASE WHEN prev_id IS NULL THEN 'INSERT' ELSE 'MODIFY' END AS operation,
             CASE WHEN prev_id IS NULL THEN 2
                  ELSE (CASE WHEN event_type <> prev_type THEN 1 ELSE 0 END)
                     + (CASE WHEN value <> prev_value THEN 1 ELSE 0 END) END AS n_changed
      FROM versions
    )
    SELECT operation, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(n_changed) AS BIGINT) AS total_attrs_changed
    FROM diffs WHERE n_changed > 0
    GROUP BY operation
    """,
)
def cdc_change_stats_autotyped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.monitor import infer_item_schema
    from cdk_dynamodb_cdc_spark.operators.typed_diff import cdc_change_events_typed

    records = synthesize_cdc_records(spark, sf_dir)
    item_schema = infer_item_schema(records)
    changes = cdc_change_events_typed(records, item_schema)
    return changes.groupBy("operation").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.size("attributes_changed")).alias("total_attrs_changed"),
    )


# ---------------------------------------------------------------------------
# Range (theta) join: events landing within 7 days after one of the
# user's order dates. Equi key (user) + range predicate — Catalyst
# plans the equi part as the join key and evaluates the range as a
# post-join condition, so the shuffle stays keyed and skew-bounded.
# ---------------------------------------------------------------------------
@query(
    "range_join_clicks_after_errors",
    oracle="""
    SELECT err.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT clk.event_id) AS BIGINT) AS n_clicks
    FROM events err
    JOIN events clk
      ON err.user_id = clk.user_id
     AND clk.ts > err.ts
     AND clk.ts <= err.ts + INTERVAL 30 MINUTE
    WHERE err.event_type = 'error' AND clk.event_type = 'click'
    GROUP BY err.user_id
    """,
)
def range_join_clicks_after_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks within 30 min after an error by the same user — equi key
    (user) + time-range predicate. Catalyst keys the shuffle on the
    equi part and applies the range as the join residual, so the plan
    stays a hash join, not a cartesian."""
    ev = load_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id"), F.col("ts").alias("err_ts")
    )
    clk = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    cond = (
        (err.user_id == clk.c_user)
        & (clk.click_ts > err.err_ts)
        & (clk.click_ts <= err.err_ts + F.expr("INTERVAL 30 MINUTE"))
    )
    return (
        err.join(clk, cond)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("click_id").alias("n_clicks"),
        )
    )


# ---------------------------------------------------------------------------
# Cube (full GROUPING SETS lattice) with grouping_id so subtotal NULLs
# are distinguishable from data NULLs.
# ---------------------------------------------------------------------------
@query(
    "cube_lineitem_flag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
             AS gid,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_lineitem_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("l_quantity")).cast("double").alias("qty"),
    ).select("l_returnflag", "l_linestatus", "gid", "n", "qty")


# ---------------------------------------------------------------------------
# Approximate distinct count (HyperLogLog++). Estimates are engine-
# specific, so the oracle contract is the ACCURACY BOUND, not the
# estimate: the query emits exact counts plus a within-2%-of-exact
# flag; the oracle asserts the flag is TRUE with the same exact counts.
# ---------------------------------------------------------------------------
@query(
    "approx_distinct_custkeys",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custkeys,
           TRUE AS approx_within_2pct
    FROM orders GROUP BY o_orderpriority
    """,
)
def approx_distinct_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # Dedup (priority, custkey) first: countDistinct + approx in ONE agg
    # would force an Expand (every row duplicated per distinct-agg), the
    # most expensive plan in the round-2 bench. HLL sketches are
    # duplicate-insensitive, so running approx_count_distinct over the
    # already-distinct pairs yields the identical estimate, and the
    # distinct itself gets map-side partial aggregation. Measured 2.7x
    # faster at sf0.1.
    dedup = orders.select("o_orderpriority", "o_custkey").distinct()
    agg = dedup.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("exact_custkeys"),
        F.approx_count_distinct("o_custkey", rsd=0.01).alias("approx"),
    )
    within = (
        F.abs(F.col("approx") - F.col("exact_custkeys"))
        / F.col("exact_custkeys")
        <= 0.02
    )
    return agg.select(
        "o_orderpriority", "exact_custkeys", within.alias("approx_within_2pct")
    )


# ---------------------------------------------------------------------------
# Old-image reconstruction: strip old_image from the synthesized stream
# (simulating a NEW_IMAGE-only source view) and rebuild it from the
# per-key version history. The oracle is cdc_change_stats' — the
# reconstructed stream must be indistinguishable downstream.
# ---------------------------------------------------------------------------
@query(
    "cdc_change_stats_reconstructed",
    oracle="""
    WITH versions AS (
      SELECT user_id, event_type, value,
             LAG(event_type) OVER w AS prev_type,
             LAG(value) OVER w AS prev_value,
             LAG(event_id) OVER w AS prev_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), diffs AS (
      SELECT CASE WHEN prev_id IS NULL THEN 'INSERT' ELSE 'MODIFY' END AS operation,
             CASE WHEN prev_id IS NULL THEN 2
                  ELSE (CASE WHEN event_type <> prev_type THEN 1 ELSE 0 END)
                     + (CASE WHEN value <> prev_value THEN 1 ELSE 0 END) END AS n_changed
      FROM versions
    )
    SELECT operation, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(n_changed) AS BIGINT) AS total_attrs_changed
    FROM diffs WHERE n_changed > 0
    GROUP BY operation
    """,
)
def cdc_change_stats_reconstructed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.reconstruct import reconstruct_old_images

    records = synthesize_cdc_records(spark, sf_dir).withColumn(
        "old_image", F.lit(None).cast("string")
    )
    changes = cdc_change_events(reconstruct_old_images(records))
    return changes.groupBy("operation").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.size("attributes_changed")).alias("total_attrs_changed"),
    )


# ---------------------------------------------------------------------------
# Scalar-function breadth: string / date / math / conditional suites in
# one oracle-checked projection. Float discipline: only IEEE-exact
# functions on bit-identical operands (sqrt, abs, floor/ceil, +-*) —
# no libm-dependent ln/exp/pow whose last bit varies across engines.
# ---------------------------------------------------------------------------
@query(
    "scalar_function_suite",
    oracle="""
    SELECT o_orderkey,
           upper(o_orderpriority) AS pri_upper,
           lower(o_orderstatus) AS status_lower,
           substr(o_orderpriority, 1, 1) AS pri_code,
           CAST(length(o_orderpriority) AS INT) AS pri_len,
           concat_ws('-', o_orderstatus, o_orderpriority) AS status_pri,
           lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS key_padded,
           reverse(o_orderstatus) AS status_rev,
           replace(o_orderpriority, '-', '_') AS pri_snake,
           CAST(strpos(o_orderpriority, '-') AS INT) AS dash_pos,
           CAST(year(o_orderdate) AS INT) AS y,
           CAST(quarter(o_orderdate) AS INT) AS q,
           CAST(month(o_orderdate) AS INT) AS m,
           CAST(day(o_orderdate) AS INT) AS d,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS INT)
             AS days_to_99,
           abs(CAST(o_totalprice AS DOUBLE) - 100000.0) AS price_dist,
           CAST(floor(CAST(o_totalprice AS DOUBLE)) AS BIGINT) AS price_floor,
           CAST(ceil(CAST(o_totalprice AS DOUBLE)) AS BIGINT) AS price_ceil,
           sqrt(CAST(o_orderkey AS DOUBLE)) AS key_sqrt,
           CAST(o_orderkey % 97 AS BIGINT) AS mod97,
           CAST(greatest(o_orderkey % 7, o_orderkey % 11) AS BIGINT) AS g711,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_or_open
    FROM orders
    """,
)
def scalar_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("double")
    return o.select(
        "o_orderkey",
        F.upper("o_orderpriority").alias("pri_upper"),
        F.lower("o_orderstatus").alias("status_lower"),
        F.substring("o_orderpriority", 1, 1).alias("pri_code"),
        F.length("o_orderpriority").alias("pri_len"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_pri"),
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("key_padded"),
        F.reverse(F.col("o_orderstatus")).alias("status_rev"),
        F.replace(F.col("o_orderpriority"), F.lit("-"), F.lit("_")).alias("pri_snake"),
        F.instr(F.col("o_orderpriority"), "-").alias("dash_pos"),
        F.year("o_orderdate").alias("y"),
        F.quarter("o_orderdate").alias("q"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.datediff(F.lit("1999-01-01").cast("date"), F.col("o_orderdate").cast("date"))
        .alias("days_to_99"),
        F.abs(price - 100000.0).alias("price_dist"),
        F.floor(price).alias("price_floor"),
        F.ceil(price).alias("price_ceil"),
        F.sqrt(F.col("o_orderkey").cast("double")).alias("key_sqrt"),
        (F.col("o_orderkey") % 97).alias("mod97"),
        F.greatest(F.col("o_orderkey") % 7, F.col("o_orderkey") % 11).alias("g711"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("OPEN"))
        .alias("status_or_open"),
    )


# ---------------------------------------------------------------------------
# TTL expiry (A13): synthesize an item snapshot from events (ttl = last
# activity + user_id%20 days, so expiry splits the population
# deterministically), expire at a fixed cutoff, and push the synthetic
# REMOVEs through the full CDC pipeline. The oracle re-derives the
# expired set relationally.
# ---------------------------------------------------------------------------
@query(
    "ttl_expiry_removes",
    oracle="""
    WITH items AS (
      SELECT user_id,
             CAST(epoch(MAX(ts)) + (user_id % 20) * 86400 AS BIGINT) AS ttl_s,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    )
    SELECT 'REMOVE' AS operation,
           CAST(COUNT(*) AS BIGINT) AS n_expired,
           CAST(SUM(n_events) AS BIGINT) AS events_of_expired
    FROM items
    WHERE to_timestamp(ttl_s) < TIMESTAMP '2024-02-09 00:00:00'
    """,
)
def ttl_expiry_removes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.ttl import expire_ttl

    ev = load_table(spark, sf_dir, "events")
    items = ev.groupBy("user_id").agg(
        (F.unix_timestamp(F.max("ts")) + (F.col("user_id") % 20) * 86400)
        .alias("ttl_s"),
        F.count(F.lit(1)).alias("n_events"),
    ).select(
        F.concat(F.lit("USER#"), F.col("user_id")).alias("pk"),
        F.lit("STATE").alias("sk"),
        F.concat(
            F.lit('{"ttl":{"N":"'), F.col("ttl_s").cast("string"),
            F.lit('"},"n":{"N":"'), F.col("n_events").cast("string"),
            F.lit('"}}'),
        ).alias("image"),
    )
    removes = expire_ttl(items, "2024-02-09 00:00:00")
    events = cdc_change_events(removes)
    return events.agg(
        F.first(F.lit("REMOVE")).alias("operation"),
        F.count(F.lit(1)).alias("n_expired"),
        F.sum(F.get_json_object("before", "$.n").cast("long"))
        .alias("events_of_expired"),
    ).select("operation", "n_expired", "events_of_expired")


# ---------------------------------------------------------------------------
# Variant lane (Spark 4): parse_json + variant_get over the dynamic
# events.props payload — the engine's third dynamic-schema access path
# after get_json_object and the typed lane (SURVEY.md §1.2).
# ---------------------------------------------------------------------------
@query(
    "variant_props_stats",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT)
             AS sum_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS INT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return ev.groupBy("event_type").agg(
        F.sum(k.cast("long")).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


# ---------------------------------------------------------------------------
# Python UDTF (table function): explode each change event's dot paths
# into rows with their depth — the UDTF lane of §2B (the lateral-join
# shape a SQL user writes as `SELECT ... FROM events, LATERAL t(...)`).
# ---------------------------------------------------------------------------
def attribute_path_udtf():
    from pyspark.sql.functions import udtf

    @udtf(returnType="path string, depth int, top string")
    class AttributePaths:
        def eval(self, paths: list):
            for p in paths or []:
                yield p, p.count(".") + 1, p.split(".")[0]

    return AttributePaths


@query(
    "udtf_changed_path_stats",
    oracle="""
    WITH versions AS (
      SELECT user_id, event_type, value,
             LAG(event_type) OVER w AS prev_type,
             LAG(value) OVER w AS prev_value,
             LAG(event_id) OVER w AS prev_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), paths AS (
      SELECT 'event_type' AS path FROM versions
      WHERE prev_id IS NULL OR event_type <> prev_type
      UNION ALL
      SELECT 'value' AS path FROM versions
      WHERE prev_id IS NULL OR value <> prev_value
    )
    SELECT path, CAST(1 AS INT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM paths GROUP BY path
    """,
)
def udtf_changed_path_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changed-attribute paths of the synthesized CDC stream, exploded
    by a Python UDTF and aggregated. The oracle re-derives per-path
    change counts relationally.

    API-coverage query, NOT the recommended path-stats plan: the cost
    is the row-at-a-time Python UDTF lateral join (~2 s at sf0.1,
    dominated by the Python worker round-trip), which is why it runs
    only on the bounded CDC slice this module synthesizes. A
    production path-stats plan is `explode(attributes_changed)` +
    groupBy — pure JVM, whole-stage codegen, no Python."""
    records = synthesize_cdc_records(spark, sf_dir)
    changes = cdc_change_events(records)
    AttributePaths = attribute_path_udtf()
    exploded = changes.lateralJoin(
        AttributePaths(F.col("attributes_changed").outer())
    )
    return exploded.groupBy("path", "depth").agg(
        F.count(F.lit(1)).alias("n")
    ).select("path", "depth", "n")


# ---------------------------------------------------------------------------
# Token counting, BPE-ish: whitespace tokens vs a GPT-2-style regex
# lexer (letter runs / digit runs / single punctuation). Pattern kept
# ASCII-anchored so Java and RE2 regex dialects agree.
# ---------------------------------------------------------------------------
@query(
    "token_counts_bpeish",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT)
             AS n_bpeish,
           CAST(len(string_split(text, ' ')) AS INT) AS n_ws
    FROM documents
    """,
)
def token_counts_bpeish(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
        ).alias("n_bpeish"),
        F.size(F.split(F.col("text"), " ")).alias("n_ws"),
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup, the scale-safe shape: candidates come
# from sign-LSH buckets (equi-join on multiprobe-expanded bucket id —
# NO cross join anywhere in the plan), exact cosine verifies each
# candidate. The candidate restriction (bucket signatures within
# Hamming 2) is part of the operator contract: the oracle replicates
# the identical hyperplane literals and the Hamming filter in SQL, so
# the pair set is deterministic, not best-effort. Recall vs the
# all-pairs baseline is the standard LSH dial (~0.6 at this corpus's
# weak cos-0.4 "near" pairs, >0.97 at real near-dup cosines >= 0.9 —
# see llm/vectors.py:lsh_near_dup_pairs). The vec_id < 500 slice is
# kept in BOTH engines for oracle comparability only; the plan shape
# is identical at any bound. Sign bits are safe to compare across
# engines: min |plane dot| on this corpus is 9e-5, nine orders above
# double fold error.
# ---------------------------------------------------------------------------
def _lsh_bucket_sql(col: str) -> str:
    """DuckDB expression computing the SAME sign-LSH bucket id as
    vectors._bucket_expr: bit p set iff dot(vec, plane_p) >= 0, plane
    literals shared via repr round-trip (shortest repr parses back to
    the identical double in both engines)."""
    from cdk_dynamodb_cdc_spark.llm.vectors import ANN_PLANES, _hyperplanes

    terms = []
    for p, plane in enumerate(_hyperplanes(64, ANN_PLANES)):
        lits = ", ".join(repr(float(x)) for x in plane)
        terms.append(
            f"(CASE WHEN list_sum(list_transform(range(1, len({col}) + 1),"
            f" i -> {col}[i]::DOUBLE * ([{lits}])[i])) >= 0"
            f" THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(terms)


@query(
    "near_dup_embedding_pairs",
    oracle=f"""
    WITH s AS (
      SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bucket
      FROM embeddings WHERE vec_id < 500
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM s a JOIN s b
      ON a.vec_id < b.vec_id
     AND bit_count(xor(a.bucket, b.bucket)) <= 2
    WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
                   i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
          / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
                   i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
             * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
                   i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))))
          >= 0.4
    """,
)
def near_dup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm.vectors import lsh_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    return lsh_near_dup_pairs(emb, dim=64, threshold=0.4)


# ---------------------------------------------------------------------------
# TOKENIZER-EXACT sequence packing: the trained-BPE composition the
# packing docstring promises — per-document token counts come from
# the 32-merge BPE vocabulary (not the whitespace proxy), then
# pack_sequences(n_tokens_col=...) lays docs into 512-token packs per
# source shard. The oracle replays the identical BPE training loop
# (the recursive CTE from bpe_train_token_counts) AND the identical
# packing arithmetic — training, tokenization, and packing pinned as
# one integer-exact composition.
# ---------------------------------------------------------------------------
@query(
    "bpe_pack_stats",
    oracle=f"""
    WITH RECURSIVE vocab AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    bpe(iter, w, n, s) AS (
      SELECT 0, w, n,
             '{_BPE_SEP}{_BPE_SEP}' ||
             list_aggregate(string_split(w, ''), 'string_agg',
                            '{_BPE_SEP}{_BPE_SEP}') ||
             '{_BPE_SEP}{_BPE_SEP}'
      FROM vocab
      UNION ALL
      SELECT iter + 1, w, n,
             replace(s,
                     '{_BPE_SEP}' || best.pa || '{_BPE_SEP}{_BPE_SEP}'
                                  || best.pb || '{_BPE_SEP}',
                     '{_BPE_SEP}' || best.pa || best.pb || '{_BPE_SEP}')
      FROM bpe, (
        SELECT pa, pb
        FROM (
          SELECT syms[i] AS pa, syms[i+1] AS pb, SUM(n) AS cnt
          FROM (SELECT n, string_split(trim(s, '{_BPE_SEP}'),
                                       '{_BPE_SEP}{_BPE_SEP}') AS syms
                FROM bpe),
               UNNEST(range(1, len(syms))) AS t(i)
          GROUP BY pa, pb
        ) ORDER BY cnt DESC, pa, pb LIMIT 1
      ) best
      WHERE iter < {_BPE_MERGES}
    ),
    tok AS (SELECT w, CAST(len(string_split(trim(s, '{_BPE_SEP}'),
                     '{_BPE_SEP}{_BPE_SEP}')) AS BIGINT) AS n_syms
            FROM bpe WHERE iter = {_BPE_MERGES}),
    per_doc AS (
      SELECT d.source, d.doc_id,
             CAST(COALESCE(SUM(t.n_syms), 0) AS BIGINT) AS n_tokens
      FROM (SELECT source, doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents) d
      JOIN tok t ON t.w = d.w
      WHERE d.w <> ''
      GROUP BY d.source, d.doc_id
    ),
    placed AS (
      SELECT source, doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source
                                      ORDER BY doc_id)
                  - n_tokens AS BIGINT) AS start_offset
      FROM per_doc
    )
    SELECT source,
           CAST(FLOOR(start_offset / 512.0) AS BIGINT) AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN FLOOR((start_offset + n_tokens - 1)
                                    / 512.0)
                              > FLOOR(start_offset / 512.0)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning
    FROM placed GROUP BY source, pack_id
    """,
)
def bpe_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm.curation import pack_sequences
    from cdk_dynamodb_cdc_spark.llm.text import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    _, vocab_tokens = bpe_train(docs, n_merges=_BPE_MERGES)
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    per_doc = (
        words.join(vocab_tokens, "w")
        .groupBy("doc_id")
        .agg(F.sum(F.size("syms")).alias("n_bpe_tokens"))
    )
    sized = docs.join(per_doc, "doc_id")
    packed = pack_sequences(
        sized,
        budget=512,
        shard_col="source",
        n_tokens_col="n_bpe_tokens",
    )
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum(F.col("spans_packs").cast("long")).alias("n_spanning"),
    )


# ---------------------------------------------------------------------------
# Semantic decontamination (llm/vectors.py:semantic_decontaminate):
# the embedding-space twin of decontam_eval_overlap — corpus vectors
# whose cosine to ANY held-out eval vector reaches 0.4 are flagged
# (paraphrased benchmark leakage that shares no 8-gram still lands
# next to the benchmark in embedding space). Eval side broadcast
# (benchmark-sized by contract), corpus streams map-side; the oracle
# is the exact cosine join.
# ---------------------------------------------------------------------------
@query(
    "semantic_decontam_flags",
    oracle="""
    WITH ev AS (SELECT vec_id, embedding FROM embeddings
                WHERE vec_id % 31 = 0 AND vec_id < 2000),
    corpus AS (SELECT vec_id, embedding FROM embeddings
               WHERE NOT (vec_id % 31 = 0 AND vec_id < 2000)),
    hits AS (
      SELECT c.vec_id, CAST(COUNT(*) AS BIGINT) AS n_eval_hits
      FROM corpus c JOIN ev e
        ON list_sum(list_transform(range(1, len(c.embedding) + 1),
                    i -> c.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1),
                    i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
                    i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))))
           >= 0.4
      GROUP BY c.vec_id
    )
    SELECT c.vec_id,
           CAST(COALESCE(h.n_eval_hits, 0) AS BIGINT) AS n_eval_hits,
           COALESCE(h.n_eval_hits, 0) > 0 AS contaminated
    FROM corpus c LEFT JOIN hits h USING (vec_id)
    """,
)
def semantic_decontam_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm.vectors import semantic_decontaminate

    emb = load_table(spark, sf_dir, "embeddings")
    # the eval slice is CAPPED (vec_id < 2000): benchmarks do not grow
    # with the corpus, and the operator's scale contract (broadcast
    # eval, corpus streams map-side) only holds when they don't — the
    # uncapped slice measured super-constant 6.5x at 10x data because
    # BOTH join sides were growing
    is_eval = (F.col("vec_id") % 31 == 0) & (F.col("vec_id") < 2000)
    eval_set = emb.filter(is_eval)
    corpus = emb.filter(~is_eval)
    return semantic_decontaminate(corpus, eval_set, threshold=0.4)


# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# Quarantine (A3) oracle: corrupt a deterministic slice of the stream
# (every 10th record's old image) and verify the error lane catches
# exactly those records while the publish lane keeps the rest.
# ---------------------------------------------------------------------------
@query(
    "quarantine_stats",
    oracle="""
    WITH versions AS (
      SELECT event_id, event_type, value,
             LAG(event_type) OVER w AS prev_type,
             LAG(value) OVER w AS prev_value,
             LAG(event_id) OVER w AS prev_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT
      CAST(COUNT(*) FILTER (prev_id IS NOT NULL AND event_id % 10 = 0)
           AS BIGINT) AS n_quarantined,
      CAST(COUNT(*) FILTER (
             prev_id IS NULL
             OR (event_id % 10 <> 0
                 AND (event_type <> prev_type OR value <> prev_value)))
           AS BIGINT) AS n_published
    FROM versions
    """,
)
def quarantine_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.pipeline import quarantine

    records = synthesize_cdc_records(spark, sf_dir).withColumn(
        "old_image",
        F.when(
            F.col("old_image").isNotNull()
            & (F.col("event_id").cast("long") % 10 == 0),
            F.lit("{corrupted-wire-bytes"),
        ).otherwise(F.col("old_image")),
    )
    bad = quarantine(records).agg(F.count(F.lit(1)).alias("n_quarantined"))
    good = cdc_change_events(records).agg(F.count(F.lit(1)).alias("n_published"))
    return bad.crossJoin(good)


# ---------------------------------------------------------------------------
# TPC-H Q6: the canonical scan-dominant query — every predicate reaches
# the parquet scan (PushedFilters), one global decimal aggregate.
# ---------------------------------------------------------------------------
@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS VARCHAR) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(_dec("l_extendedprice") * _dec("l_discount", 4, 2))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 shape: returned-item revenue per customer, top 20 — join
# breadth (4 tables) + group + deterministic top-k.
# ---------------------------------------------------------------------------
@query(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-07-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    one = F.lit(1).cast("decimal(4,2)")
    revenue = _dec("l_extendedprice") * (one - _dec("l_discount", 4, 2))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q14 shape: promo revenue share — conditional aggregation over a
# join, exact decimal ratio only at the end.
# ---------------------------------------------------------------------------
@query(
    "q14_promo_revenue_share",
    oracle="""
    SELECT CAST(CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                    THEN CAST(l_extendedprice AS DECIMAL(12,2))
                         * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                    END) AS VARCHAR) AS DOUBLE)
           / CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS promo_share,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    one = F.lit(1).cast("decimal(4,2)")
    revenue = _dec("l_extendedprice") * (one - _dec("l_discount", 4, 2))
    joined = li.join(part, li.l_partkey == part.p_partkey)
    return joined.agg(
        (
            F.sum(F.when(F.col("p_type").like("PROMO%"), revenue))
            .cast("double")
            / F.sum(revenue).cast("double")
        ).alias("promo_share"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q19 shape (adapted to available columns): disjunctive multi-
# predicate join — Catalyst must both push the common l_partkey join
# key and evaluate the OR-of-ANDs residual.
# ---------------------------------------------------------------------------
@query(
    "q19_disjunctive_predicates",
    oracle="""
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 20)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    one = F.lit(1).cast("decimal(4,2)")
    revenue = _dec("l_extendedprice") * (one - _dec("l_discount", 4, 2))
    cond1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    )
    cond2 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 20)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond1 | cond2)
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# pk predicate pushdown (A2): prefix filter 'USER#1*' on the synthesized
# stream — the oracle re-derives which users survive the prefix.
# ---------------------------------------------------------------------------
@query(
    "pk_filter_prefix_counts",
    oracle="""
    WITH versions AS (
      SELECT user_id, event_type, value,
             LAG(event_type) OVER w AS prev_type,
             LAG(value) OVER w AS prev_value,
             LAG(event_id) OVER w AS prev_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT CASE WHEN prev_id IS NULL THEN 'INSERT' ELSE 'MODIFY' END AS operation,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM versions
    WHERE CAST(user_id AS VARCHAR) LIKE '1%'
      AND (prev_id IS NULL OR event_type <> prev_type OR value <> prev_value)
    GROUP BY operation
    """,
)
def pk_filter_prefix_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    records = synthesize_cdc_records(spark, sf_dir)
    events = cdc_change_events(records, pk_filters=["USER#1*"])
    return events.groupBy("operation").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Publish + route (A11/A12): wrap change events in the published
# envelope, pattern-match subscribe, and count distinct payloads. The
# oracle re-derives distinct-transition counts (detail carries no
# event id, so identical transitions collapse).
# ---------------------------------------------------------------------------
@query(
    "publish_route_counts",
    oracle="""
    WITH versions AS (
      SELECT user_id, event_type, value,
             LAG(event_type) OVER w AS prev_type,
             LAG(value) OVER w AS prev_value,
             LAG(event_id) OVER w AS prev_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), published AS (
      SELECT user_id, event_type, value, prev_type, prev_value,
             prev_id IS NULL AS is_insert
      FROM versions
      WHERE prev_id IS NULL OR event_type <> prev_type OR value <> prev_value
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_routed,
           CAST(COUNT(DISTINCT (user_id, event_type, value, prev_type,
                                prev_value, is_insert)) AS BIGINT)
             AS n_distinct_details
    FROM published
    """,
)
def publish_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.pipeline import publish, route

    records = synthesize_cdc_records(spark, sf_dir)
    events = cdc_change_events(records)
    bus = publish(events, event_source="engine-test")
    routed = route(bus, "engine-test", "dynamo.item.changed")
    return routed.agg(
        F.count(F.lit(1)).alias("n_routed"),
        F.countDistinct("detail").alias("n_distinct_details"),
    )


# ---------------------------------------------------------------------------
# Continuous aggregate (hypertable rollup): daily per-type stats
# answered FROM an hourly rollup — composition (sum-of-sums etc.) must
# equal aggregating the raw events, which is exactly what the oracle
# computes.
# ---------------------------------------------------------------------------
@query(
    "rollup_daily_from_hourly",
    oracle="""
    SELECT time_bucket(INTERVAL '1 day', ts) AS bucket_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value,
           CAST(MIN(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS min_value,
           CAST(MAX(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS max_value
    FROM events
    GROUP BY bucket_start, event_type
    """,
)
def rollup_daily_from_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.rollup import (
        continuous_aggregate,
        reaggregate,
    )

    ev = load_table(spark, sf_dir, "events")
    hourly = continuous_aggregate(
        ev, bucket="1 hour", key_cols=["event_type"], value_col="value"
    )
    daily = reaggregate(hourly, bucket="1 day", key_cols=["event_type"])
    return daily.select(
        "bucket_start",
        "event_type",
        "n",
        F.col("sum_value").cast("double").alias("sum_value"),
        F.col("min_value").cast("double").alias("min_value"),
        F.col("max_value").cast("double").alias("max_value"),
    )


# ---------------------------------------------------------------------------
# Document chunking: fixed-size token windows with overlap — the
# pre-tokenization shape of a training-data pipeline. Pure array ops
# (slice over a stride sequence), exploded to one row per chunk.
# ---------------------------------------------------------------------------
@query(
    "chunk_documents",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    c AS (
      SELECT doc_id,
             CAST(s AS INT) AS start_1,
             ws[s : least(s + 19, len(ws))] AS chunk
      FROM t, unnest(range(1, greatest(len(ws) - 9, 1) + 1, 10)) AS u(s)
    )
    SELECT doc_id,
           CAST((start_1 - 1) / 10 AS INT) AS chunk_idx,
           array_to_string(chunk, ' ') AS chunk_text,
           CAST(len(chunk) AS INT) AS n_tokens
    FROM c
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-token chunks, stride 10 (50% overlap); last window kept when
    at least 10 tokens remain past the previous start."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    n = F.size(ws)
    starts = F.sequence(F.lit(1), F.greatest(n - 9, F.lit(1)), F.lit(10))
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            i.alias("chunk_idx"),
            F.slice(ws, s, F.lit(20)).alias("chunk"),
        ),
    )
    out = docs.select("doc_id", F.explode(chunks).alias("c"))
    return out.select(
        "doc_id",
        F.col("c.chunk_idx").cast("int").alias("chunk_idx"),
        F.array_join(F.col("c.chunk"), " ").alias("chunk_text"),
        F.size(F.col("c.chunk")).alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Paragraph-granularity dedup (the RefinedWeb / C4 sub-document
# step): non-overlapping 10-token windows are the "paragraphs"; a
# paragraph is duplicated when its exact text occurs in >= 2 distinct
# documents (within-doc repetition is the Gopher operator's job).
# Per document: chunk counts and the integer cross-multiplied drop
# decision (2 * n_dup > n_chunks, no float ratio). Scale shape: the
# chunk-keyed shuffle runs on md5 digests, fixed-width keys whatever
# the paragraph length; both aggregations are map-side combinable.
# ---------------------------------------------------------------------------
@query(
    "paragraph_dedup_stats",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents),
    c AS (
      SELECT doc_id,
             md5(array_to_string(ws[s : least(s + 9, len(ws))], ' '))
               AS ckey
      FROM t, unnest(range(1, len(ws) + 1, 10)) AS u(s)
    ),
    nd AS (SELECT ckey, COUNT(DISTINCT doc_id) AS nd
           FROM c GROUP BY ckey),
    p AS (
      SELECT doc_id, COUNT(*) AS n_chunks,
             SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS n_dup
      FROM c JOIN nd USING (ckey) GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
           CAST(n_dup AS BIGINT) AS n_dup_chunks,
           (2 * n_dup > n_chunks) AS drop_doc
    FROM p
    """,
)
def paragraph_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    starts = F.sequence(F.lit(1), F.size(ws), F.lit(10))
    ch = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                starts,
                lambda s: F.md5(F.array_join(F.slice(ws, s, 10), " ")),
            )
        ).alias("ckey"),
    )
    nd = ch.groupBy("ckey").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    return (
        ch.join(nd, "ckey")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            (2 * F.col("n_dup_chunks") > F.col("n_chunks")).alias(
                "drop_doc"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic hash splits: reproducible train/val/test assignment by
# content-independent key hashing (the standard reproducible-sampling
# pattern for training corpora — no RNG state, stable under reruns and
# repartitioning). Cross-engine md5-based bucket, so DuckDB derives
# identical assignments.
# ---------------------------------------------------------------------------
@query(
    "train_val_test_split",
    oracle="""
    WITH b AS (
      SELECT lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
               AS bucket
      FROM documents
    )
    SELECT lang,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM b GROUP BY lang, split
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = llm_text.token_hash60(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return docs.select("lang", split.alias("split")).groupBy(
        "lang", "split"
    ).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# SQL surface: the SAME ANSI text executes verbatim on spark.sql (over
# registered temp views) and on DuckDB — the query layer is not just
# the DataFrame API.
# ---------------------------------------------------------------------------
_SQL_SURFACE_TEXT = """
    WITH revenue AS (
      SELECT o_custkey AS custkey,
             -- STRING, not VARCHAR: this text runs VERBATIM on BOTH
             -- engines (that is the query's whole point), and Spark
             -- rejects bare VARCHAR while both accept STRING. The
             -- string hop keeps the decimal->double conversion
             -- single-rounded on DuckDB (int128 backing past 2^53).
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS total
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY o_custkey
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(MAX(total) AS DOUBLE) AS max_total
    FROM customer JOIN revenue ON c_custkey = custkey
    GROUP BY c_mktsegment
"""


@query("sql_surface_identical_text", oracle=_SQL_SURFACE_TEXT)
def sql_surface_identical_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.sources.tables import register_tables

    register_tables(spark, sf_dir, ["orders", "customer"])
    return spark.sql(_SQL_SURFACE_TEXT)


# ===========================================================================
# TPC-H-shape subquery / outer-join patterns (SURVEY.md §2B widening):
# EXISTS semi-joins with compound conditions, correlated scalar
# subqueries (decorrelated to a broadcast agg join), left-outer
# count distributions, HAVING-subquery joins, and NOT EXISTS + global
# scalar filters. Decimal discipline throughout: every float predicate
# that could flip on engine-specific summation order is rewritten as an
# exact integer/decimal inequality (see q17 / q22).
# ===========================================================================

@query(
    "q4_late_shipment_priority",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with a correlated compound condition ->
    left-semi join carrying the extra predicate in the join condition.
    The semi join shuffles on the equi key only; the range term is a
    post-match filter, so the plan stays skew-bounded at any scale."""
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (od["o_orderkey"] == li["l_orderkey"]) & (
        li["l_shipdate"] > od["o_orderdate"] + F.expr("INTERVAL 60 DAYS")
    )
    return (
        od.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q12_priority_by_linestatus",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def q12_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-fact equi join + conditional aggregation.
    The shipdate filter is pushed into the lineitem scan; only the two
    join keys plus three narrow columns survive to the shuffle."""
    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    ).select("l_orderkey", "l_linestatus")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q13_customer_order_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
          FROM customer c LEFT JOIN orders o
            ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey)
    GROUP BY c_count
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left outer join preserving zero-order
    customers, COUNT over the nullable side, then a distribution
    re-aggregation. Two shuffles total (join key, then c_count), both
    with map-side partial aggregation."""
    cu = load_table(spark, sf_dir, "customer").select("c_custkey")
    od = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cu.join(od, cu["c_custkey"] == od["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    WITH pq AS (
      SELECT l_partkey AS pk,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty_sum
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR)
                AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem JOIN pq ON l_partkey = pk
    WHERE 5 * CAST(l_quantity AS DECIMAL(12,2)) * cnt < qty_sum
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (quantity below 20%
    of the part's average) decorrelated into a per-part aggregate
    joined back to the fact table — the join side is one row per part;
    AQE broadcasts it when it fits and shuffle-joins otherwise (no
    forced hint: one-row-per-part grows with the part dimension).

    The threshold predicate is the EXACT integer/decimal inequality
    5*qty*cnt < sum(qty) rather than qty < 0.2*avg(qty): float
    averages differ between engines in the last ulp (summation order),
    which could flip boundary rows and break the value-hash compare.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pq = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(_dec("l_quantity")).alias("qty_sum"),
    )
    joined = li.join(pq, li["l_partkey"] == pq["pk"])
    small = (F.lit(5) * _dec("l_quantity") * F.col("cnt")) < F.col("qty_sum")
    return joined.filter(small).agg(
        (F.sum(_dec("l_extendedprice")).cast("double") / 7.0)
        .cast("double")
        .alias("avg_yearly")
    )


@query(
    "q18_large_volume_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 280
    )
    SELECT c_custkey, o_orderkey, o_orderdate,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice,
           CAST(sum_qty AS DOUBLE) AS sum_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate subquery joined back
    through orders to customers. The HAVING survivor set is tiny
    (~0.1% of orders), so AQE broadcasts it into both joins at every
    test SF — no fact-fact shuffle after the one groupBy. No forced
    hint: 0.1% of orders still scales with orders."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer").select("c_custkey")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 280)
    )
    return (
        od.join(big, od["o_orderkey"] == big["l_orderkey"])
        .join(cu, od["o_custkey"] == cu["c_custkey"])
        .select(
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            _dec("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
    )


@query(
    "q22_idle_high_balance_customers",
    oracle="""
    WITH pos AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pos,
             SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS bal_sum
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total_acctbal
    FROM customer c, pos
    WHERE CAST(c_acctbal AS DECIMAL(12,2)) * n_pos > bal_sum
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
    GROUP BY c_nationkey
    """,
)
def q22_idle_high_balance_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: global scalar-aggregate filter (balance above
    the positive-balance average) + NOT EXISTS anti join (no large
    orders), per-nation rollup. The 1-row global aggregate broadcasts;
    the anti join shuffles on the customer key only. The average test
    is the exact inequality bal*n > sum (see q17 on why)."""
    cu = load_table(spark, sf_dir, "customer")
    pos = cu.filter(F.col("c_acctbal") > 0).agg(
        F.count(F.lit(1)).alias("n_pos"),
        F.sum(_dec("c_acctbal")).alias("bal_sum"),
    )
    big_orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 300000
    ).select("o_custkey")
    rich = cu.crossJoin(F.broadcast(pos)).filter(
        _dec("c_acctbal") * F.col("n_pos") > F.col("bal_sum")
    )
    idle = rich.join(
        big_orders, rich["c_custkey"] == big_orders["o_custkey"], "left_anti"
    )
    return idle.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum(_dec("c_acctbal")).cast("double").alias("total_acctbal"),
    )


# ===========================================================================
# Window RANGE frames, grouped-agg pandas UDAF, and dynamic-lane decimal
# fidelity — §2B completions.
# ===========================================================================

@query(
    "window_range_frame_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_near,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS VARCHAR) AS DOUBLE)
             AS near_total
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
                 RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
    """,
)
def window_range_frame_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, not row-based): all orders whose key
    lies within 1000 of the current one — the frame type
    window_running_revenue's ROWS frame doesn't exercise."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rangeBetween(-1000, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.count(F.lit(1)).over(w).alias("n_near"),
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("near_total"),
    )


# ---------------------------------------------------------------------------
# Grouped-aggregate pandas UDF (vectorized UDAF): the one UDF shape §2B
# lists that no other query exercises. Integer-exact arithmetic inside
# the UDAF (cents * quantity in int64) so the result is bit-identical
# to the oracle despite crossing the Arrow boundary.
# ---------------------------------------------------------------------------
@query(
    "udaf_weighted_revenue_cents",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                    * CAST(l_quantity AS BIGINT)) AS BIGINT)
             AS weighted_cents,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def udaf_weighted_revenue_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG: this module's `from __future__ import
    # annotations` stringifies type hints, so hint-based inference
    # can't see the Series -> scalar shape
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def weighted_cents(price_cents, qty):
        # int64 throughout: max |price_cents * qty| ~ 6e8, summed over
        # <1e7 rows stays far inside int64 — exact, order-insensitive
        return int((price_cents * qty).sum())

    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def n_rows(price_cents):
        # Spark disallows mixing pandas and JVM aggregates in one agg,
        # so the row count rides through a second pandas UDAF
        return len(price_cents)

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (_dec("l_extendedprice") * 100).cast("long").alias("pc"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    return li.groupBy("l_returnflag").agg(
        weighted_cents("pc", "q").alias("weighted_cents"),
        n_rows("pc").alias("n"),
    )


# ---------------------------------------------------------------------------
# Dynamic-lane decimal fidelity: 23-significant-digit N values (far past
# double's 17) must round-trip marshal -> unmarshall -> diff -> canonical
# JSON bit-exactly. The value ends in a non-zero digit so the engine's
# canonical form (trailing-zero strip) equals the constructed input and
# the oracle can rebuild the exact 'after' document textually.
# ---------------------------------------------------------------------------
@query(
    "cdc_decimal_fidelity",
    oracle="""
    SELECT 'CUST#' || CAST(c_custkey AS VARCHAR) AS pk,
           '{"v":' || CAST(c_custkey AS VARCHAR) || '.'
                   || lpad(CAST(c_custkey * 7 % 1000000000 AS VARCHAR), 9, '0')
                   || '000000001' || '}' AS after
    FROM customer
    """,
)
def cdc_decimal_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load_table(spark, sf_dir, "customer")
    num = F.concat(
        F.col("c_custkey").cast("string"),
        F.lit("."),
        F.lpad((F.col("c_custkey") * 7 % 1000000000).cast("string"), 9, "0"),
        F.lit("000000001"),
    )
    records = cu.select(
        F.col("c_custkey").cast("string").alias("event_id"),
        F.lit(1).cast("long").alias("seq"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit("INSERT").alias("operation"),
        F.concat(F.lit("CUST#"), F.col("c_custkey")).alias("pk"),
        F.lit("STATE").alias("sk"),
        F.lit(None).cast("string").alias("old_image"),
        F.concat(F.lit('{"v":{"N":"'), num, F.lit('"}}')).alias("new_image"),
        F.lit(512).cast("long").alias("size_bytes"),
    )
    return cdc_change_events(records).select("pk", "after")


# ---------------------------------------------------------------------------
# Reproducible float statistics: correlation computed from EXACT decimal
# moments (n, Σx, Σy, Σxy, Σx², Σy²), converted to double only at the
# final closed-form step. Native corr()/stddev() aggregate in float and
# their result depends on partition/summation order — different between
# engines and even between runs at different parallelism; moments in
# decimal are exact, so both engines produce bit-identical doubles.
# ---------------------------------------------------------------------------
@query(
    "corr_qty_price_exact_moments",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
             SUM(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy,
             SUM(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_quantity AS DECIMAL(12,2))) AS sxx,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * CAST(l_extendedprice AS DECIMAL(12,2))) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST((CAST(n AS DOUBLE) * (CAST(FLOOR(sxy) AS DOUBLE) + CAST((sxy) - FLOOR(sxy) AS DOUBLE))
                 - (CAST(FLOOR(sx) AS DOUBLE) + CAST((sx) - FLOOR(sx) AS DOUBLE)) * (CAST(FLOOR(sy) AS DOUBLE) + CAST((sy) - FLOOR(sy) AS DOUBLE)))
                / (sqrt(CAST(n AS DOUBLE) * (CAST(FLOOR(sxx) AS DOUBLE) + CAST((sxx) - FLOOR(sxx) AS DOUBLE))
                        - (CAST(FLOOR(sx) AS DOUBLE) + CAST((sx) - FLOOR(sx) AS DOUBLE)) * (CAST(FLOOR(sx) AS DOUBLE) + CAST((sx) - FLOOR(sx) AS DOUBLE)))
                   * sqrt(CAST(n AS DOUBLE) * (CAST(FLOOR(syy) AS DOUBLE) + CAST((syy) - FLOOR(syy) AS DOUBLE))
                          - (CAST(FLOOR(sy) AS DOUBLE) + CAST((sy) - FLOOR(sy) AS DOUBLE)) * (CAST(FLOOR(sy) AS DOUBLE) + CAST((sy) - FLOOR(sy) AS DOUBLE))))
                AS DOUBLE) AS corr_qty_price
    FROM m
    """,
)
def corr_qty_price_exact_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x, y = _dec("l_quantity"), _dec("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    # floor-split casts: a direct wide-decimal -> double cast is not
    # bit-stable across engines once the unscaled value passes 2^53
    # (_dec_double docstring); the sf0.001 robustness sweep caught the
    # last-ulp divergence the direct casts allowed here.
    nd = F.col("n").cast("double")
    sx, sy = _dec_double(F.col("sx")), _dec_double(F.col("sy"))
    sxy = _dec_double(F.col("sxy"))
    sxx, syy = _dec_double(F.col("sxx")), _dec_double(F.col("syy"))
    corr = (nd * sxy - sx * sy) / (
        F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)
    )
    return m.select("l_returnflag", "n", corr.cast("double").alias("corr_qty_price"))


# ---------------------------------------------------------------------------
# Ordered-set aggregates: exact interpolated percentiles. Spark's
# percentile() and DuckDB's quantile_cont() share the same linear-
# interpolation definition over exactly-sorted doubles, so the values
# are bit-identical (verified at sf0.01/sf0.1) — unlike mean/stddev,
# no decimal detour is needed.
# ---------------------------------------------------------------------------
@query(
    "percentile_order_values",
    oracle="""
    SELECT o_orderpriority,
           CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE) AS p50,
           CAST(quantile_cont(o_totalprice, 0.9) AS DOUBLE) AS p90,
           CAST(quantile_cont(o_totalprice, 0.99) AS DOUBLE) AS p99
    FROM orders GROUP BY o_orderpriority
    """,
)
def percentile_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    return od.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", 0.5).alias("p50"),
        F.percentile("o_totalprice", 0.9).alias("p90"),
        F.percentile("o_totalprice", 0.99).alias("p99"),
    )


# ---------------------------------------------------------------------------
# EXACT quantiles without a global sort (operators/quantiles.py:
# exact_quantiles_two_pass): min/max/count pass -> equi-width bucket
# histogram pass (<= 1024 rows to the driver) -> bucket-local sort of
# only the target buckets (expected n/1024 rows each). The answer is
# the element at rank ceil(q*n), which is exactly DuckDB's
# quantile_disc — so the green hash certifies that the two-pass
# refinement equals the true exact order statistic, while the plan
# never materializes a full ORDER BY (the most expensive shuffle
# shape at 100 TB). Complements percentile_order_values (Spark's
# built-in, fine per-group) with the scale path for whole-table
# quantiles on a fact column.
# ---------------------------------------------------------------------------
@query(
    "lineitem_price_quantiles_twopass",
    oracle="""
    SELECT q, CAST(v AS DOUBLE) AS value FROM (
      SELECT '0.25' AS q, quantile_disc(l_extendedprice, 0.25) AS v
      FROM lineitem
      UNION ALL
      SELECT '0.5', quantile_disc(l_extendedprice, 0.5) FROM lineitem
      UNION ALL
      SELECT '0.75', quantile_disc(l_extendedprice, 0.75) FROM lineitem
      UNION ALL
      SELECT '0.95', quantile_disc(l_extendedprice, 0.95) FROM lineitem
      UNION ALL
      SELECT '0.99', quantile_disc(l_extendedprice, 0.99) FROM lineitem
    ) ORDER BY q
    """,
)
def lineitem_price_quantiles_twopass(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.quantiles import (
        exact_quantiles_two_pass,
    )

    li = load_table(spark, sf_dir, "lineitem")
    out = exact_quantiles_two_pass(
        li, "l_extendedprice", (0.25, 0.5, 0.75, 0.95, 0.99)
    )
    return out.orderBy("q")


# ---------------------------------------------------------------------------
# WEIGHTED exact quantiles (operators/quantiles.py:
# exact_weighted_quantiles_two_pass): smallest price whose cumulative
# quantity-weight reaches ceil(q*W) — quantity-weighted price
# quartiles, the robust-statistics form. Same two-pass refinement (the
# histogram sums weights), and the target rank is computed as the
# exact rational (num*W + den - 1) // den in BOTH engines: a float
# ceil(0.99 * W) flips at binary-representation boundaries, the
# last-ulp class of large-SF divergence.
# ---------------------------------------------------------------------------
@query(
    "lineitem_weighted_price_quantiles",
    oracle="""
    WITH s AS (SELECT l_extendedprice AS v,
                      CAST(l_quantity AS BIGINT) AS wt
               FROM lineitem),
    tot AS (SELECT SUM(wt) AS tw FROM s),
    c AS (SELECT v, SUM(wt) OVER (ORDER BY v
                                  ROWS UNBOUNDED PRECEDING) AS cw
          FROM s)
    SELECT q, CAST(val AS DOUBLE) AS value FROM (
      SELECT '0.25' AS q,
             (SELECT MIN(v) FROM c, tot
              WHERE cw >= (1 * tw + 3) // 4) AS val
      UNION ALL
      SELECT '0.5',
             (SELECT MIN(v) FROM c, tot WHERE cw >= (1 * tw + 1) // 2)
      UNION ALL
      SELECT '0.9',
             (SELECT MIN(v) FROM c, tot WHERE cw >= (9 * tw + 9) // 10)
      UNION ALL
      SELECT '0.99',
             (SELECT MIN(v) FROM c, tot
              WHERE cw >= (99 * tw + 99) // 100)
    )
    """,
)
def lineitem_weighted_price_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.quantiles import (
        exact_weighted_quantiles_two_pass,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice",
        F.col("l_quantity").cast("long").alias("qty_w"),
    )
    return exact_weighted_quantiles_two_pass(
        li,
        "l_extendedprice",
        "qty_w",
        (("0.25", 1, 4), ("0.5", 1, 2), ("0.9", 9, 10), ("0.99", 99, 100)),
    )


# ---------------------------------------------------------------------------
# 2-D skyline (Pareto frontier): orders not strictly dominated on
# (earlier date, lower price). The oracle states the definition as
# the quadratic NOT EXISTS; the engine collapses it to a per-day
# minimum pre-aggregate plus a running-min window over the days-sized
# series (dominated iff some strictly earlier DAY carries a strictly
# lower price — the per-day min is the only candidate that matters),
# so the quadratic never materializes at any scale. The green hash is
# the equivalence proof.
# ---------------------------------------------------------------------------
@query(
    "orders_price_date_skyline",
    oracle="""
    -- Windowed-frontier form of the 2-D skyline: keep a iff no
    -- strictly-earlier-day order has a strictly lower price, i.e.
    -- a.price <= min(price over earlier days). Equivalent to the
    -- naive NOT EXISTS (b.date < a.date AND b.price < a.price)
    -- anti-join, which DuckDB executes as an O(n^2) nested loop —
    -- 3.6e11 probes at sf1's 600k orders (measured: one core pinned
    -- for 20+ min before the round-10 sf1 sweep killed it). The
    -- frontier form is the ground truth at n log n.
    WITH daily AS (
      SELECT o_orderdate AS d, MIN(o_totalprice) AS day_min
      FROM orders GROUP BY d
    ), f AS (
      SELECT d,
             MIN(day_min) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_min
      FROM daily
    )
    SELECT a.o_orderkey, a.o_orderdate, a.o_totalprice
    FROM orders a JOIN f ON f.d = a.o_orderdate
    WHERE f.prev_min IS NULL OR a.o_totalprice <= f.prev_min
    """,
)
def orders_price_date_skyline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy("o_orderdate").agg(
        F.min("o_totalprice").alias("day_min")
    )
    wd = Window.orderBy("o_orderdate").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # running min of the per-day minima over STRICTLY earlier days —
    # an unpartitioned window, but over the days-sized pre-aggregate
    # (the ACF/seasonal bounded-series argument)
    frontier_days = daily.select(
        "o_orderdate",
        F.min("day_min").over(wd).alias("prev_min"),
    )
    return (
        od.join(F.broadcast(frontier_days), "o_orderdate")
        .filter(
            F.col("prev_min").isNull()
            | (F.col("o_totalprice") <= F.col("prev_min"))
        )
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Forward as-of join: each order-day attaches the customer's EARLIEST
# event at-or-after the order date (the corpus's events all postdate
# its orders, so customers who appear in the events table match — the
# reverse direction would be vacuous). Events are pre-aggregated to
# one row per (user, ts) so the nearest-row pick is deterministic; the
# oracle decorrelates as min-future-ts + join-back.
# ---------------------------------------------------------------------------
@query(
    "asof_next_event_after_order",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, MIN(event_type) AS event_type
      FROM events GROUP BY user_id, ts
    ), od AS (
      SELECT DISTINCT o_custkey, o_orderdate FROM orders
    ), nxt AS (
      SELECT od.o_custkey, od.o_orderdate, MIN(ev.ts) AS nts
      FROM od LEFT JOIN ev
        ON ev.user_id = od.o_custkey AND ev.ts >= od.o_orderdate
      GROUP BY od.o_custkey, od.o_orderdate
    )
    SELECT n.o_custkey AS user_key,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(COUNT(n.nts) AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN e2.event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_click_next
    FROM nxt n LEFT JOIN ev e2
      ON e2.user_id = n.o_custkey AND e2.ts = n.nts
    GROUP BY n.o_custkey
    """,
)
def asof_next_event_after_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "ts")
        .agg(F.min("event_type").alias("event_type"))
    )
    od = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate"
    ).distinct()
    joined = asof_join(
        od,
        ev,
        left_on="o_orderdate",
        right_on="ts",
        left_by="o_custkey",
        right_by="user_id",
        value_cols=["event_type"],
        direction="forward",
    )
    return joined.groupBy(F.col("o_custkey").alias("user_key")).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.count("event_type").alias("n_matched"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("n_click_next"),
    )


# ===========================================================================
# TPC-H completion (SURVEY.md §2B widening): the nine remaining query
# shapes — q2, q7, q8, q9, q11, q15, q16, q20, q21. The corpus has no
# partsupp table and no l_commitdate/l_receiptdate, so the queries that
# canonically use them substitute corpus-derivable stand-ins while
# keeping the OPERATOR SHAPE the TPC-H query exists to exercise:
#
# * q2/q11/q16/q20: the part-supplier relation is DISTINCT
#   (l_partkey, l_suppkey) from lineitem; "supply cost" is
#   MIN(l_extendedprice) per pair (exact decimal MIN — deterministic,
#   no summation-order sensitivity).
# * q21: "late" is l_shipdate > o_orderdate + 90 days (q4's idiom)
#   instead of l_receiptdate > l_commitdate.
# * q9: per-unit cost is p_retailprice instead of ps_supplycost.
#
# Nation/date constants differ from spec (NATION_i names, 1995-2001
# dates) — chosen non-vacuous on this corpus.
# ===========================================================================

@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS supplycost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    offers AS (
      SELECT p_partkey, s_suppkey, s_name, s_acctbal, n_name, supplycost
      FROM part JOIN ps ON p_partkey = l_partkey
                JOIN eu ON l_suppkey = s_suppkey
      WHERE p_type = 'SMALL' AND p_size BETWEEN 20 AND 30
    ),
    mn AS (
      SELECT p_partkey AS mpk, MIN(supplycost) AS min_cost
      FROM offers GROUP BY p_partkey
    )
    SELECT CAST(o.s_acctbal AS DOUBLE) AS s_acctbal, o.s_name, o.n_name,
           o.p_partkey, o.s_suppkey,
           CAST(o.supplycost AS DOUBLE) AS supplycost
    FROM offers o JOIN mn ON o.p_partkey = mpk AND o.supplycost = min_cost
    ORDER BY s_acctbal DESC, o.p_partkey, o.s_suppkey
    LIMIT 10
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN scalar subquery (cheapest regional
    supplier per part) decorrelated into a per-part min-aggregate joined
    back on (part, exact decimal cost) — q17's decorrelation pattern over
    a three-way dim join. The region-filtered supplier dim is AQE-
    broadcast when it fits; the only shuffles are the two part-keyed
    aggregates. Exact decimal
    MIN makes the cost-equality join deterministic across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(_dec("l_extendedprice")).alias("supplycost")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "SMALL") & F.col("p_size").between(20, 30)
    )
    offers = (
        ps.join(part, ps.l_partkey == part.p_partkey)
        .join(eu, ps.l_suppkey == eu.s_suppkey)
        .select("p_partkey", "s_suppkey", "s_name", "s_acctbal", "n_name", "supplycost")
    )
    mn = offers.groupBy(F.col("p_partkey").alias("mpk")).agg(
        F.min("supplycost").alias("min_cost")
    )
    return (
        offers.join(
            mn,
            (offers.p_partkey == mn.mpk) & (offers.supplycost == mn.min_cost),
        )
        .select(
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "s_suppkey",
            F.col("supplycost").cast("double").alias("supplycost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "p_partkey", "s_suppkey")
        .limit(10)
    )


@query(
    "q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year, CAST(SUM(vol) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
             CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) AS vol
      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           JOIN nation n1 ON s_nationkey = n1.n_nationkey
           JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        AND n2.n_name IN ('NATION_1', 'NATION_2')
        AND n1.n_name <> n2.n_name
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: nation-pair volume with the nation dim joined
    TWICE under different roles (supplier's vs customer's nation) and a
    disjunctive pair predicate. Both nation-filtered dims are AQE-broadcast at test SF (unhinted —
    they scale with their base tables), pre-pruning lineitem map-side
    to the two nations' suppliers before the one fact-fact shuffle on
    the order key; the pair predicate
    reduces to supp_nation <> cust_nation after both roles attach."""
    two = ["NATION_1", "NATION_2"]
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(two))
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    one = F.lit(1).cast("decimal(4,2)")
    vol = _dec("l_extendedprice") * (one - _dec("l_discount", 4, 2))
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.sum(vol).cast("double").alias("revenue"))
    )


@query(
    "q8_national_market_share",
    oracle="""
    SELECT o_year,
           CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol
                         ELSE CAST(0 AS DECIMAL(12,2)) END) AS VARCHAR)
                AS DOUBLE)
                / CAST(CAST(SUM(vol) AS VARCHAR) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
             CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) AS vol,
             n1.n_name AS supp_nation
      FROM part JOIN lineitem ON p_partkey = l_partkey
           JOIN supplier ON s_suppkey = l_suppkey
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           JOIN nation n1 ON s_nationkey = n1.n_nationkey
           JOIN nation n2 ON c_nationkey = n2.n_nationkey
           JOIN region ON n2.n_regionkey = r_regionkey
      WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    )
    GROUP BY o_year
    """,
)
def q8_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's market — a
    conditional-over-total ratio per year. Numerator and denominator
    are both exact decimal sums of the SAME rows, so the final double
    division is bit-identical across engines (the division operands
    rule from the module docstring). nation/region carry hints; the
    filtered part/supplier/customer sides are AQE-broadcast when they
    fit; the only shuffles are lineitem->orders on the order key and
    the year agg."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    amer_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("amer_nationkey"))
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(amer_nations),
        F.col("c_nationkey") == F.col("amer_nationkey"),
    ).select("c_custkey")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(4,2)")
    vol = (_dec("l_extendedprice") * (one - _dec("l_discount", 4, 2))).alias("vol")
    rows = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(F.year("o_orderdate").alias("o_year"), vol, "supp_nation")
    )
    zero = F.lit(0).cast("decimal(12,2)")
    return rows.groupBy("o_year").agg(
        (
            F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("vol")).otherwise(zero)).cast("double")
            / F.sum("vol").cast("double")
        )
        .cast("double")
        .alias("mkt_share")
    )


@query(
    "q9_product_type_profit",
    oracle="""
    SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
             CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
             - CAST(p_retailprice AS DECIMAL(12,2))
               * CAST(l_quantity AS DECIMAL(12,2)) AS amount
      FROM part JOIN lineitem ON p_partkey = l_partkey
           JOIN supplier ON s_suppkey = l_suppkey
           JOIN orders ON o_orderkey = l_orderkey
           JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    )
    GROUP BY nation, o_year
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier-nation per year over a
    name-pattern part slice. No partsupp in the corpus, so unit cost is
    p_retailprice (documented stand-in for ps_supplycost) — the shape
    (two-sided decimal expression, LIKE-pruned part dim, double nation
    role-join through supplier) is unchanged. The part and supplier
    sides are AQE-broadcast when they fit; lineitem->orders is the one
    fact shuffle."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    nation = load_table(spark, sf_dir, "nation")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(4,2)")
    amount = (
        _dec("l_extendedprice") * (one - _dec("l_discount", 4, 2))
        - _dec("p_retailprice") * _dec("l_quantity")
    ).alias("amount")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select("nation", F.year("o_orderdate").alias("o_year"), amount)
        .groupBy("nation", "o_year")
        .agg(F.sum("amount").cast("double").alias("sum_profit"))
    )


@query(
    "q11_important_stock",
    oracle="""
    WITH val AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS value
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY l_partkey
    ),
    tot AS (SELECT SUM(value) AS total FROM val)
    SELECT l_partkey, CAST(value AS DOUBLE) AS value
    FROM val, tot
    WHERE value * 1000 > total
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-group value filtered by a HAVING against a
    GLOBAL scalar subquery (share > 0.1% of total). The fraction test is
    the exact decimal inequality value*1000 > total, not value >
    0.001*total (float fraction could flip boundary rows — q17's rule).
    The 1-row total broadcasts via crossJoin; one part-keyed shuffle."""
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_supp = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    val = (
        li.join(asia_supp, li.l_suppkey == asia_supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(_dec("l_extendedprice")).alias("value"))
    )
    tot = val.agg(F.sum("value").alias("total"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("value") * 1000 > F.col("total"))
        .select("l_partkey", F.col("value").cast("double").alias("value"))
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    ),
    mx AS (SELECT MAX(total_revenue) AS max_rev FROM rev)
    SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no, mx
    WHERE total_revenue = max_rev
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the revenue CTE ("view") consumed twice — once
    for MAX (scalar subquery), once joined back on exact equality with
    that max. Decimal sums make the equality deterministic; the 1-row max
    carries a hint; the survivor-vs-supplier join is left to AQE,
    which broadcasts the (typically 1-row) survivor side."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    one = F.lit(1).cast("decimal(4,2)")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_dec("l_extendedprice") * (one - _dec("l_discount", 4, 2))).alias(
            "total_revenue"
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("max_rev"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


@query(
    "q16_parts_supplier_relationship",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_parts_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    triple with a NOT IN exclusion subquery. The part-supplier relation
    is the distinct lineitem pair (no partsupp — header note); the
    exclusion set is negative-balance suppliers (stand-in for the
    spec's comment-pattern filter). s_suppkey is never null, so NOT IN
    == anti join (null-tripwire documented). The anti side and part
    dim are AQE-broadcast when they fit; the distinct collapses
    map-side first."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@query(
    "q20_potential_part_promotion",
    oracle="""
    SELECT s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE 'red%')
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 50
      )
    """,
)
def q20_potential_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested IN subqueries — suppliers who moved more
    than a threshold of a name-pattern part slice in a year, within one
    region. The inner IN (part slice) is a semi join AQE plans as broadcast
    at test SF; the HAVING survivors collapse to a distinct supplier
    set that semi-joins the region's suppliers. Threshold is an exact
    decimal comparison (corpus stand-in for 0.5*availqty — header)."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("red%")
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    movers = (
        li.join(part, li.l_partkey == part.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(movers, supp.s_suppkey == movers.l_suppkey, "left_semi")
        .select("s_name", F.col("s_acctbal").cast("double").alias("s_acctbal"))
    )


@query(
    "q21_suppliers_kept_waiting",
    oracle="""
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4', 'NATION_5')
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the sole-blamed-supplier query. "Late" is
    shipdate > orderdate + 90 days (q4's idiom; corpus has no
    receipt/commit dates — header note).

    The textbook EXISTS/NOT-EXISTS form is three self-join legs over
    the fact table; the oracle keeps that form. The Spark plan instead
    rewrites both correlated quantifiers into per-order distinct-
    supplier counts over ONE lineitem pass: a late line is blamed iff
    its order has >= 2 distinct suppliers (the EXISTS) and exactly 1
    distinct supplier among its late lines (the NOT EXISTS — the line
    itself is late, so that one supplier is this line's). One shuffle
    on the order key, window collect_sets bounded by suppliers-per-
    order (~7), row multiplicity of the l1 leg preserved — at sf1 this
    was the slowest registered query (13.5 s) as self joins, and the
    rewrite removes two of the three fact scans."""
    od = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    flagged = li.join(od, li.l_orderkey == od.o_orderkey).select(
        "l_orderkey", "l_suppkey", late.alias("is_late")
    )
    w = Window.partitionBy("l_orderkey")
    stats = flagged.select(
        "l_orderkey",
        "l_suppkey",
        "is_late",
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supp"),
        F.size(
            F.collect_set(
                F.when(F.col("is_late"), F.col("l_suppkey"))
            ).over(w)
        ).alias("n_late_supp"),
    )
    blamed = stats.filter(
        F.col("is_late") & (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
    )
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3", "NATION_4", "NATION_5")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    return (
        blamed.join(supp, blamed.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


# ===========================================================================
# Dedup clustering: connected components over the near-dup pair graph
# (iterative distributed algorithm — alternating large-star/small-star,
# O(log n) rounds on ANY topology; see
# llm/dedup.py:connected_components_star; the simpler min-label
# propagation loop remains available for known-small-diameter graphs).
# The oracle computes the same clusters non-iteratively via a DuckDB
# recursive CTE (transitive closure + MIN per node), so even the
# iterative operator gets a full rows+schema+hash check.
# ===========================================================================

@query(
    "dedup_clusters",
    oracle="""
    WITH RECURSIVE
    w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS MATERIALIZED (
           SELECT doc_id,
                  list_distinct(list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
           FROM w),
    -- index-accelerated exact pair set (_DUCK_SHINGLE_INDEX_SQL):
    -- any pair with Jaccard >= 0.8 > 0 shares a shingle, so the
    -- inverted-index join is a complete candidate superset and the
    -- exact predicate runs only on candidates. MATERIALIZED so the
    -- recursive closure below touches a pair-sized edge table, never
    -- re-evaluating the join per iteration (the r9 blow-up).
    posts AS (SELECT doc_id, unnest(s) AS g FROM sh),
    cand AS MATERIALIZED (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM posts a JOIN posts b
            ON a.g = b.g AND a.doc_id < b.doc_id),
    p AS MATERIALIZED (
          SELECT c.doc_a, c.doc_b
          FROM cand c
          JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b
          WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                >= 0.8),
    e AS MATERIALIZED (
          SELECT doc_a AS src, doc_b AS dst FROM p
          UNION ALL
          SELECT doc_b, doc_a FROM p),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.node
    ),
    cl AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id
           FROM reach GROUP BY node)
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size,
           doc_id = cluster_id AS is_canonical
    FROM cl
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clustering: MinHash-LSH pairs -> connected
    components -> one cluster id (the minimum reachable doc_id) per
    document, singletons included. `is_canonical` marks the kept
    representative — the row a dedup pass would retain.

    Scale: the pair graph is tiny relative to the corpus (only
    near-dups), so the star rounds iterate over edges/labels
    DataFrames orders of magnitude smaller than `documents`; the final
    assignment is one left join from the corpus to the labels. The
    DuckDB twin is a recursive CTE — non-iterative, so it cross-checks
    the loop's fixpoint rather than mirroring its plan."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = llm_dedup.minhash_near_dup_pairs(docs, threshold=0.8)
    cc = llm_dedup.connected_components_star(pairs)
    assigned = (
        docs.select("doc_id")
        .join(cc, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    w = Window.partitionBy("cluster_id")
    return assigned.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


# ===========================================================================
# Corpus curation (llm/curation.py): benchmark decontamination, sequence
# packing, stratified sampling — the steps between "deduped corpus" and
# "training batches".
# ===========================================================================

@query(
    "decontam_eval_overlap",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 6), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7])) AS gs FROM w),
    e AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 29 = 0),
    c AS (SELECT doc_id, gs FROM g WHERE doc_id % 29 <> 0),
    cg AS (SELECT doc_id, unnest(gs) AS gram FROM c),
    sh AS (SELECT cg.doc_id, COUNT(DISTINCT cg.gram) AS n_shared
           FROM cg JOIN e USING (gram) GROUP BY cg.doc_id)
    SELECT c.doc_id, CAST(len(c.gs) AS INT) AS n_grams,
           CAST(COALESCE(sh.n_shared, 0) AS BIGINT) AS n_shared_grams
    FROM c LEFT JOIN sh ON c.doc_id = sh.doc_id
    """,
)
def decontam_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-document count of distinct word
    8-grams shared with a held-out eval slice (doc_id % 29 == 0 stands
    in for the fixed benchmark suite). A pipeline drops rows with
    n_shared_grams > 0 before training. The eval gram set is
    contractually small (benchmarks don't grow with the corpus), so it
    carries a broadcast hint; the corpus side streams map-side."""
    from cdk_dynamodb_cdc_spark.llm import curation

    docs = load_table(spark, sf_dir, "documents")
    # % 29 (not a sparser slice): the eval slice must intersect the
    # corpus's planted near-dup graph or n_shared_grams is all-zero at
    # the gate SF and the overlap machinery is never exercised.
    eval_set = docs.filter(F.col("doc_id") % 29 == 0)
    corpus = docs.filter(F.col("doc_id") % 29 != 0)
    return curation.decontaminate(corpus, eval_set)


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination (llm/curation.py:
# decontaminate_bloom + functions/sketches.py:bloom_contains): the
# packed eval-gram filter rides into every task as a plan literal and
# drops corpus grams MAP-SIDE before the exact verify join — the
# shape for when even the distinct eval gram set outgrows a broadcast
# hash table. The oracle is decontam_eval_overlap's EXACT overlap
# (verbatim): a green hash is the no-false-negative theorem as
# driver-checked evidence — the prefilter provably loses nothing.
# ---------------------------------------------------------------------------
@query(
    "decontam_bloom_prefilter",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 6), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7])) AS gs FROM w),
    e AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 29 = 0),
    c AS (SELECT doc_id, gs FROM g WHERE doc_id % 29 <> 0),
    cg AS (SELECT doc_id, unnest(gs) AS gram FROM c),
    sh AS (SELECT cg.doc_id, COUNT(DISTINCT cg.gram) AS n_shared
           FROM cg JOIN e USING (gram) GROUP BY cg.doc_id)
    SELECT c.doc_id, CAST(len(c.gs) AS INT) AS n_grams,
           CAST(COALESCE(sh.n_shared, 0) AS BIGINT) AS n_shared_grams
    FROM c LEFT JOIN sh ON c.doc_id = sh.doc_id
    """,
)
def decontam_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm import curation

    docs = load_table(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 29 == 0)
    corpus = docs.filter(F.col("doc_id") % 29 != 0)
    return curation.decontaminate_bloom(corpus, eval_set)


@query(
    "pack_training_sequences",
    oracle="""
    WITH sized AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
      FROM documents
    ),
    placed AS (
      SELECT source, doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
                  - n_tokens AS BIGINT) AS start_offset
      FROM sized
    )
    SELECT source, doc_id, n_tokens, start_offset,
           CAST(FLOOR(start_offset / 256.0) AS BIGINT) AS pack_id,
           FLOOR((start_offset + n_tokens - 1) / 256.0)
             > FLOOR(start_offset / 256.0) AS spans_packs
    FROM placed
    """,
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: contiguous fill of fixed-budget training packs,
    partitioned by source shard (a global pack order would be a
    one-partition window — llm/curation.py docstring). Documents that
    straddle a pack boundary are flagged, not silently split.

    Budget 256 (not a production 2048/8192): each source shard holds
    ~1.4k tokens at the correctness-gate SF, so a larger budget would
    put every shard in one pack and the oracle would never see a
    non-zero pack_id or boundary straddle — a vacuous check. 256 packs
    every shard several times over at every SF."""
    from cdk_dynamodb_cdc_spark.llm import curation

    docs = load_table(spark, sf_dir, "documents")
    return curation.pack_sequences(docs, budget=256, shard_col="source")


@query(
    "stratified_sample_by_lang",
    oracle="""
    WITH r AS (
      SELECT lang, doc_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5('split-0:' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS INT) AS sample_rank
      FROM documents
    )
    SELECT lang, doc_id, sample_rank FROM r WHERE sample_rank <= 20
    """,
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: 20 documents per language,
    chosen by the smallest salted md5(doc_id) per stratum — the
    data-mixing primitive (equalize language shares) with zero RNG
    state, reproducible on any engine/partitioning; a different salt
    draws an independent sample."""
    from cdk_dynamodb_cdc_spark.llm import curation

    docs = load_table(spark, sf_dir, "documents")
    return curation.stratified_sample(docs, "lang", 20)


# ---------------------------------------------------------------------------
# PII scrubbing (llm/cleaning.py:scrub_pii): the synthetic corpus holds
# no PII, so the query SEEDS deterministic spans (same expressions in
# both engines — email on doc_id%5, phone on %7, IPv4 on %11) and then
# scrubs them; counts and the fully redacted text are compared
# byte-for-byte. Patterns live in the Java-regex/RE2 common dialect so
# the two engines' regex semantics coincide.
# ---------------------------------------------------------------------------
@query(
    "pii_scrub_stats",
    oracle=r"""
    WITH seeded AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 5 = 0
                  THEN ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@mail.example.com now' ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                  THEN ' call 555-867-5309' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                  THEN ' from 10.0.' || CAST(doc_id % 255 AS VARCHAR)
                       || '.7' ELSE '' END
             AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
             AS n_email,
           CAST(len(regexp_extract_all(text,
             '\b\d{3}-\d{3}-\d{4}\b')) AS INT) AS n_phone,
           CAST(len(regexp_extract_all(text,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ipv4,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g')
             AS scrubbed
    FROM seeded
    """,
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm.cleaning import scrub_pii

    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@mail.example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0, F.lit(" call 555-867-5309")
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (F.col("doc_id") % 255).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return scrub_pii(seeded).select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ipv4",
        F.col("text").alias("scrubbed"),
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary statistics (llm/text.py:vocab_top_terms): top
# terms per language by frequency — the table tokenizer training /
# stop-word induction starts from. Integer counts, lexicographic tie
# break: engine-exact.
# ---------------------------------------------------------------------------
@query(
    "vocab_top_terms_by_lang",
    oracle="""
    WITH terms AS (
      SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents
    ), counts AS (
      SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS n
      FROM terms GROUP BY lang, term
    ), ranked AS (
      SELECT lang, term, n,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY n DESC, term) AS INT) AS rk
      FROM counts
    )
    SELECT lang, rk, term, n FROM ranked WHERE rk <= 5
    """,
)
def vocab_top_terms_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm.text import vocab_top_terms

    return vocab_top_terms(load_table(spark, sf_dir, "documents"), per_lang=5)


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (llm/curation.py:weighted_sample —
# Efraimidis–Spirakis A-ES): 100 documents drawn with probability
# proportional to n_chars. u comes from a salted md5 parsed to 48 bits
# and divided by 2^48 (exact dyadic arithmetic -> bit-identical u in
# both engines); -ln(u)/w ranks. The sort-limit is a distributed
# partial top-n (TakeOrderedAndProject), never a global sort.
# ---------------------------------------------------------------------------
@query(
    "weighted_sample_by_length",
    oracle="""
    WITH scored AS (
      SELECT doc_id, n_chars,
             -ln((('0x' || substr(md5('wsample-0:' ||
                 CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT + 1)
               / 281474976710656.0)
             / CAST(n_chars AS DOUBLE) AS r
      FROM documents
    )
    SELECT doc_id, n_chars FROM scored ORDER BY r, doc_id LIMIT 100
    """,
)
def weighted_sample_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm import curation

    docs = load_table(spark, sf_dir, "documents")
    return curation.weighted_sample(docs, "n_chars", 100)


# ---------------------------------------------------------------------------
# Group-wise A-ES (llm/curation.py:weighted_sample_per_group): an
# INDEPENDENT deterministic weighted draw per language — the
# per-domain data-budget shape (each domain contributes its own
# sample, not a share of one global draw). The global TakeOrdered
# becomes a per-group window rank, which Spark executes as
# WindowGroupLimit (map-side partial top-n per group) — no global
# sort at any corpus size.
# ---------------------------------------------------------------------------
@query(
    "weighted_sample_per_lang",
    oracle="""
    WITH scored AS (
      SELECT lang, doc_id, n_chars,
             -ln((('0x' || substr(md5('wsample-0:' ||
                 CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT + 1)
               / 281474976710656.0)
             / CAST(n_chars AS DOUBLE) AS r
      FROM documents
    )
    SELECT lang, doc_id, n_chars
    FROM (SELECT lang, doc_id, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY r, doc_id) AS rk
          FROM scored)
    WHERE rk <= 20
    """,
)
def weighted_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm import curation

    docs = load_table(spark, sf_dir, "documents")
    return curation.weighted_sample_per_group(
        docs, "n_chars", 20, group_cols=("lang",)
    )


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction (llm/text.py:tfidf_top_terms): top terms
# per document by tf/df. The linear-idf variant keeps the score one
# IEEE-correctly-rounded division — bit-identical across engines —
# where ln-idf carries last-ulp libm variance; equal real ratios round
# to the same double, and ties break on the term string.
# ---------------------------------------------------------------------------
@query(
    "tfidf_top_terms",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS n_tf
      FROM words GROUP BY doc_id, term
    ), df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), ranked AS (
      SELECT doc_id, term, n_tf, df,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id
               ORDER BY CAST(n_tf AS DOUBLE) / df DESC, term) AS INT) AS rk
      FROM tf JOIN df USING (term)
    )
    SELECT doc_id, rk, term, n_tf, df FROM ranked WHERE rk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm.text import tfidf_top_terms as op

    return op(load_table(spark, sf_dir, "documents"), per_doc=3)


# ---------------------------------------------------------------------------
# CDC stream-order auditing (operators/monitor.py): the reference
# trusts shard order; a distributed consumer should verify it. The
# corpus's events arrive perfectly ordered, so the query synthesizes a
# deterministic late-delivery permutation (every 13th event_id is
# delayed 50 arrival slots — identical expression in both engines) and
# the operator reports per-key inversion counts and worst lateness.
# ---------------------------------------------------------------------------
@query(
    "cdc_seq_inversion_stats",
    oracle="""
    WITH arr AS (
      SELECT user_id, event_id,
             event_id + CASE WHEN event_id % 13 = 0 THEN 50 ELSE 0 END
               AS arrival
      FROM events
    ), f AS (
      SELECT user_id, event_id,
             MAX(event_id) OVER (
               PARTITION BY user_id ORDER BY arrival, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS run_max
      FROM arr
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(COUNT(*) FILTER (run_max IS NOT NULL
                                 AND event_id < run_max) AS BIGINT)
             AS n_inversions,
           MAX(CASE WHEN run_max IS NOT NULL AND event_id < run_max
                    THEN run_max - event_id END) AS max_lateness
    FROM f GROUP BY user_id
    HAVING COUNT(*) FILTER (run_max IS NOT NULL
                            AND event_id < run_max) > 0
    """,
)
def cdc_seq_inversion_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.monitor import seq_inversion_stats

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    arr = ev.withColumn(
        "arrival",
        F.col("event_id")
        + F.when(F.col("event_id") % 13 == 0, F.lit(50)).otherwise(F.lit(0)),
    )
    return seq_inversion_stats(
        arr, key_cols=("user_id",), seq_col="event_id", arrival_col="arrival"
    )


# ---------------------------------------------------------------------------
# SCD Type-2 history (operators/compaction.py:scd2_history): one row
# per item version with its validity interval — the warehouse
# temporal-table form of the change log (snapshot_at generalized from
# one cutoff to every interval). The oracle rebuilds the intervals
# straight from the events table with a lead window; fields are
# extracted from the marshalled image so no raw-JSON byte comparison
# is involved.
# ---------------------------------------------------------------------------
@query(
    "cdc_scd2_history",
    oracle="""
    SELECT 'USER#' || CAST(user_id AS VARCHAR) AS pk,
           event_type,
           CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS val,
           ts AS valid_from,
           LEAD(ts) OVER w AS valid_to,
           LEAD(ts) OVER w IS NULL AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.compaction import scd2_history

    hist = scd2_history(synthesize_cdc_records(spark, sf_dir))
    return hist.select(
        "pk",
        F.get_json_object("image", "$.event_type.S").alias("event_type"),
        F.get_json_object("image", "$.value.N")
        .cast("decimal(18,2)")
        .cast("double")
        .alias("val"),
        "valid_from",
        "valid_to",
        "is_current",
    )


# ---------------------------------------------------------------------------
# Temporal (point-in-interval) enrichment join (operators/asof.py:
# temporal_join): each probe row picks up the SCD2 dimension version
# valid AT its timestamp — FOR SYSTEM_TIME AS OF semantics, including
# the two cases a plain as-of join gets wrong: REMOVE holes (probe
# after a tombstone must be NULL, not the stale version) and zero-
# width versions at timestamp collisions. The dim is the SCD2 history
# of the synthesized CDC log with tombstones appended for user_id %
# 17 == 0 at their final event time (so those users' last versions
# are zero-width); the probes are the events themselves at their own
# timestamps. The oracle rebuilds the intervals with a lead window
# (closing removed users' last versions at their own open instant)
# and takes the textbook key-equi + half-open-range LEFT join — which
# at scale fans each probe over its key's whole version history; the
# operator's union-merge form is the one-shuffle no-blowup plan the
# green hash certifies equivalent.
# ---------------------------------------------------------------------------
@query(
    "scd2_temporal_enrich",
    oracle="""
    WITH v AS (
      SELECT user_id, event_type, value, ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_from
      FROM events
    ), d AS (
      SELECT user_id, event_type, value, valid_from,
             COALESCE(next_from,
                      CASE WHEN user_id % 17 = 0 THEN valid_from END)
               AS valid_to
      FROM v
    )
    SELECT 'USER#' || CAST(p.user_id AS VARCHAR) AS pk,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(COUNT(d.event_type) AS BIGINT) AS n_enriched,
           CAST(COALESCE(SUM(CAST(CAST(d.value AS DECIMAL(18,2)) * 100
                                  AS BIGINT)), 0) AS BIGINT)
             AS sum_state_cents
    FROM events p LEFT JOIN d
      ON p.user_id = d.user_id
     AND d.valid_from <= p.ts
     AND (d.valid_to IS NULL OR p.ts < d.valid_to)
    GROUP BY p.user_id
    """,
)
def scd2_temporal_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.asof import temporal_join
    from cdk_dynamodb_cdc_spark.operators.compaction import scd2_history

    records = _augment_with_removes(synthesize_cdc_records(spark, sf_dir))
    dim = scd2_history(records).select(
        "pk",
        F.get_json_object("image", "$.event_type.S").alias("state_type"),
        (
            F.get_json_object("image", "$.value.N").cast("decimal(18,2)")
            * 100
        )
        .cast("long")
        .alias("state_cents"),
        "valid_from",
        "valid_to",
    )
    probes = load_table(spark, sf_dir, "events").select(
        F.concat(F.lit("USER#"), F.col("user_id")).alias("pk"),
        F.col("ts"),
    )
    enriched = temporal_join(
        probes,
        dim,
        fact_time="ts",
        keys=("pk",),
        value_cols=("state_type", "state_cents"),
    )
    return enriched.groupBy("pk").agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.count("state_type").alias("n_enriched"),
        F.coalesce(F.sum("state_cents"), F.lit(0))
        .cast("long")
        .alias("sum_state_cents"),
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance (operators/ivm.py): per-group totals
# computed by summing each change event's DELTA — the canonical CDC
# consumer. The oracle recomputes the same totals from each user's
# LAST state, so the green hash IS the IVM correctness theorem
# (delta-sum == recompute) on this stream, including cross-group
# MODIFY transitions reconstructed from minimal changed-subtree
# events. DECIMAL(18,2) value arithmetic keeps both engines'  sums
# order-independent and exact.
# ---------------------------------------------------------------------------
@query(
    "cdc_incremental_group_totals",
    oracle="""
    WITH last AS (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT event_type AS group_key,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM last WHERE rn = 1 GROUP BY event_type
    """,
)
def cdc_incremental_group_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.ivm import aggregate_deltas

    events = cdc_change_events(synthesize_cdc_records(spark, sf_dir))
    deltas = aggregate_deltas(
        events, group_field="event_type", value_field="value"
    )
    return deltas.groupBy("group_key").agg(
        F.sum("d_items").alias("n_items"),
        F.sum("d_value").cast("double").alias("total_value"),
    )


# ===========================================================================
# Flagship curation pipeline: every LLM-corpus stage composed into ONE
# per-document disposition — near-dup clustering (keep the canonical),
# eval-slice exclusion, benchmark decontamination, quality floor, and
# the deterministic train/val/test split for survivors. The oracle
# re-derives the whole pipeline in SQL (recursive CTE for the
# clusters), so the composition is hash-checked end to end.
# ===========================================================================

@query(
    "curate_corpus_dispositions",
    oracle=f"""
    WITH RECURSIVE
    w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    shg AS MATERIALIZED (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
            FROM w),
    -- index-accelerated exact pair set (_DUCK_SHINGLE_INDEX_SQL):
    -- complete candidate superset from the inverted shingle index,
    -- exact predicate on candidates only. MATERIALIZED so the
    -- recursive closure touches a pair-sized edge table and never
    -- re-evaluates the join per iteration (the r9 blow-up).
    posts AS (SELECT doc_id, unnest(s) AS g FROM shg),
    cand AS MATERIALIZED (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM posts a JOIN posts b
            ON a.g = b.g AND a.doc_id < b.doc_id),
    p AS MATERIALIZED (
          SELECT c.doc_a, c.doc_b
          FROM cand c
          JOIN shg a ON a.doc_id = c.doc_a
          JOIN shg b ON b.doc_id = c.doc_b
          WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                >= 0.8),
    e AS MATERIALIZED (
          SELECT doc_a AS src, doc_b AS dst FROM p
          UNION ALL SELECT doc_b, doc_a FROM p),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.node
    ),
    cl AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id
           FROM reach GROUP BY node),
    g8 AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 6), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7])) AS gs FROM w),
    eg AS (SELECT DISTINCT unnest(gs) AS gram FROM g8 WHERE doc_id % 29 = 0),
    contam AS (SELECT DISTINCT cg.doc_id
               FROM (SELECT doc_id, unnest(gs) AS gram FROM g8) cg
               JOIN eg USING (gram)),
    q AS (SELECT doc_id,
                 (CAST(least(len(ws), 80) AS DOUBLE) / 80.0) * 0.7
                 + (CAST(len(list_filter(ws, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'on')))
                         AS DOUBLE) / len(ws)) * 0.3 AS quality
          FROM w),
    d AS (
      SELECT doc.doc_id,
             CASE WHEN doc.doc_id % 29 = 0 THEN 'eval'
                  WHEN contam.doc_id IS NOT NULL THEN 'contaminated'
                  WHEN cl.cluster_id <> doc.doc_id THEN 'duplicate'
                  WHEN q.quality < 0.3 THEN 'low_quality'
                  ELSE 'kept' END AS disposition,
             ('0x' || substr(md5(CAST(doc.doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 100 AS bucket
      FROM documents doc
      JOIN cl ON cl.doc_id = doc.doc_id
      JOIN q ON q.doc_id = doc.doc_id
      LEFT JOIN contam ON contam.doc_id = doc.doc_id
    )
    SELECT doc_id, disposition,
           CASE WHEN disposition = 'kept' THEN
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END
           END AS split
    FROM d
    """,
)
def curate_corpus_dispositions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation: one row per document with why it
    left the corpus ('eval' = held-out slice, 'contaminated' = shares
    an 8-gram with the eval slice, 'duplicate' = not its near-dup
    cluster's canonical, 'low_quality' = score < 0.3) or, for
    survivors, the deterministic train/val/test split. Composes
    minhash clustering, decontamination, quality scoring, and the
    hash split — each stage an operator this registry also verifies
    in isolation; this query pins the COMPOSITION."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = llm_dedup.minhash_near_dup_pairs(docs, threshold=0.8)
    eval_docs = docs.filter(F.col("doc_id") % 29 == 0)
    contam_lazy = (
        llm_curation.decontaminate(docs, eval_docs)
        .filter(F.col("n_shared_grams") > 0)
        .select("doc_id", F.lit(True).alias("contam"))
    )
    # The contamination signal is independent of the dedup lane, but
    # connected_components_star materializes the near-dup pairs
    # eagerly (its lineage-truncation checkpoint), which would
    # serialize the two. Materialize the (tiny: contaminated ids only)
    # contam frame on a second job thread so both lanes' stages share
    # the executor slots the other leaves idle — concurrent job
    # submission on one SparkSession is the standard pattern; result
    # hashes are unaffected because both lanes are deterministic.
    import threading

    contam_box: dict = {}

    def _materialize_contam() -> None:
        try:
            contam_box["df"] = contam_lazy.localCheckpoint(eager=True)
        except Exception as exc:  # surfaced after join() below
            contam_box["err"] = exc

    contam_thread = threading.Thread(target=_materialize_contam)
    contam_thread.start()
    try:
        cc = llm_dedup.connected_components_star(pairs)
    finally:
        contam_thread.join()
    if "err" in contam_box:
        raise contam_box["err"]
    contam = contam_box["df"]
    quality = llm_text.text_quality(F.col("text"))["quality_score"]
    bucket = llm_text.token_hash60(F.col("doc_id").cast("string")) % 100
    base = (
        docs.select("doc_id", quality.alias("quality"), bucket.alias("bucket"))
        .join(cc, F.col("doc_id") == F.col("node"), "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
        .join(contam, "doc_id", "left")
    )
    # Priority: eval membership and contamination outrank 'duplicate' —
    # a near-copy of an eval document must read as leakage, not as a
    # routine dedup casualty (and with the reverse order every
    # contaminated doc in an eval doc's cluster would be shadowed,
    # leaving the branch untestable).
    disposition = (
        F.when(F.col("doc_id") % 29 == 0, "eval")
        .when(F.col("contam"), "contaminated")
        .when(F.col("cluster_id") != F.col("doc_id"), "duplicate")
        .when(F.col("quality") < 0.3, "low_quality")
        .otherwise("kept")
    )
    split = F.when(
        disposition == "kept",
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "val")
        .otherwise("test"),
    )
    return base.select("doc_id", disposition.alias("disposition"),
                       split.alias("split"))


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard similarity join (prefix filtering, AllPairs /
# PPJoin family). Unlike the MinHash query this is exact at ANY
# threshold — here 0.7, below where 32x4 banding keeps its miss
# probability negligible. Oracle = brute-force all-pairs.
# ---------------------------------------------------------------------------
@query(
    "near_dup_ngram_jaccard",
    oracle=f"""
    WITH {_DUCK_SHINGLE_INDEX_SQL.format(
        guard=chr(10) + '        WHERE len(ws) >= 3')}
    SELECT doc_a, doc_b,
           CAST(n_common AS INT) AS n_common,
           CAST(n_union AS INT) AS n_union,
           CAST(n_common AS DOUBLE) / n_union AS jaccard
    FROM p WHERE CAST(n_common AS DOUBLE) / n_union >= 0.7
    """,
)
def near_dup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return llm_dedup.ngram_jaccard_pairs(docs, threshold=0.7)


# ---------------------------------------------------------------------------
# Within-document repetition (Gopher-style duplicated-2-gram fraction).
# Pure per-row Column expressions: scan-speed, no shuffle.
# ---------------------------------------------------------------------------
@query(
    "repetition_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(greatest(len(string_split(text, ' ')) - 1, 0) AS INT)
             AS n_grams,
           {llm_cleaning.duck_duplicated_gram_fraction('text')} AS dup_frac
    FROM documents
    """,
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    grams = llm_dedup.word_shingles(
        F.col("text"), llm_cleaning.REPETITION_GRAM_WORDS, distinct=False
    )
    return docs.select(
        "doc_id",
        F.size(grams).alias("n_grams"),
        llm_cleaning.duplicated_gram_fraction(F.col("text")).alias("dup_frac"),
    )


# ---------------------------------------------------------------------------
# Cross-document boilerplate (C4's line-frequency rule over word
# 4-grams): per-doc fraction of distinct 4-grams appearing in >= 3
# documents corpus-wide. One gram-keyed DF aggregation + one join.
# ---------------------------------------------------------------------------
@query(
    "boilerplate_ngram_stats",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (SELECT doc_id,
                  list_distinct(list_transform(range(1, len(ws) - 2),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                           || ' ' || ws[i+3])) AS gs
           FROM w),
    posts AS (SELECT doc_id, unnest(gs) AS g FROM sh),
    boiler AS (SELECT g FROM posts GROUP BY g HAVING COUNT(*) >= 3),
    pd AS (SELECT p.doc_id, COUNT(*) AS n_grams, COUNT(b.g) AS n_boilerplate
           FROM posts p LEFT JOIN boiler b ON p.g = b.g GROUP BY p.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(pd.n_grams, 0) AS INT) AS n_grams,
           CAST(COALESCE(pd.n_boilerplate, 0) AS INT) AS n_boilerplate,
           CASE WHEN COALESCE(pd.n_grams, 0) > 0
                THEN CAST(pd.n_boilerplate AS DOUBLE) / pd.n_grams
                ELSE 0.0 END AS boilerplate_frac
    FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
    """,
)
def boilerplate_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return llm_cleaning.boilerplate_gram_stats(docs)


# ---------------------------------------------------------------------------
# Hypertable-style time-bucket gap filling with LOCF (TimescaleDB's
# time_bucket_gapfill + locf, e.g. for sensor/CDC activity series):
# hourly buckets per user, zero-filled for silent hours between each
# user's first and last active hour, plus last-observation-carried-
# forward of the hourly value sum. The grid is generated from each
# key's OWN span (sequence + explode), so the fill is bounded by data,
# not by a global calendar scan.
# ---------------------------------------------------------------------------
@query(
    "gapfill_hourly_user_activity",
    oracle="""
    WITH b AS (
      SELECT user_id, date_trunc('hour', ts) AS hour_start,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             SUM(CAST(value AS DECIMAL(12,2))) AS sv
      FROM events WHERE user_id < 20 GROUP BY 1, 2
    ), span AS (
      SELECT user_id, MIN(hour_start) AS h0, MAX(hour_start) AS h1
      FROM b GROUP BY 1
    ), grid AS (
      SELECT user_id,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_start
      FROM span
    )
    SELECT g.user_id, g.hour_start,
           CAST(COALESCE(b.n_events, 0) AS BIGINT) AS n_events,
           CAST(last_value(b.sv IGNORE NULLS) OVER (
                  PARTITION BY g.user_id ORDER BY g.hour_start
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS locf_hour_value
    FROM grid g LEFT JOIN b
      ON g.user_id = b.user_id AND g.hour_start = b.hour_start
    """,
)
def gapfill_hourly_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    # Hour bucket via NTZ field arithmetic, NOT date_trunc: date_trunc
    # coerces TIMESTAMP_NTZ to session-zone LTZ, which would shift
    # bucket boundaries under any non-UTC session; field extraction on
    # NTZ is timezone-free, matching DuckDB's naive truncation always.
    hour_start = F.expr(
        "make_timestamp_ntz(year(ts), month(ts), day(ts), hour(ts), 0, 0)"
    )
    b = ev.groupBy(
        "user_id", hour_start.alias("hour_start")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_dec("value")).alias("sv"),
    )
    span = b.groupBy("user_id").agg(
        F.min("hour_start").alias("h0"), F.max("hour_start").alias("h1")
    )
    grid = span.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_start"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # LOCF never sees a leading null: each span starts at a bucket that
    # has data by construction.
    return grid.join(b, ["user_id", "hour_start"], "left").select(
        "user_id",
        "hour_start",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.last("sv", ignorenulls=True)
        .over(w)
        .cast("double")
        .alias("locf_hour_value"),
    )


# ---------------------------------------------------------------------------
# Approximate quantiles under a rank-error CONTRACT (the
# approx_distinct / ANN-recall oracle pattern): approx_percentile's
# documented guarantee is rank error <= n/accuracy; the query measures
# the TRUE rank of each approximate quantile against the corpus and
# emits a boolean that the oracle pins to TRUE. The approximate values
# themselves never cross engines — only the exact percentiles (which
# both engines interpolate identically) and the verified contract do.
# ---------------------------------------------------------------------------
_AQ_QUANTILES = [0.25, 0.5, 0.75, 0.9, 0.99]
_AQ_ACCURACY = 10000


@query(
    "approx_quantile_contract",
    oracle="\nUNION ALL\n".join(
        f"""SELECT CAST({q} AS DOUBLE) AS q,
               CAST(quantile_cont(o_totalprice, {q}) AS DOUBLE) AS exact_value,
               TRUE AS within_bound FROM orders"""
        for q in _AQ_QUANTILES
    ),
)
def approx_quantile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    qlist = ", ".join(f"{q}D" for q in _AQ_QUANTILES)
    stats = od.agg(
        F.expr(f"percentile(o_totalprice, array({qlist}))").alias("ex"),
        F.expr(
            f"approx_percentile(o_totalprice, array({qlist}), {_AQ_ACCURACY})"
        ).alias("ap"),
        F.count(F.lit(1)).alias("n"),
    )
    qarr = F.array(*[F.lit(q) for q in _AQ_QUANTILES])
    per_q = stats.select(
        F.posexplode(F.arrays_zip("ex", "ap")).alias("i", "z"), "n"
    ).select(
        qarr[F.col("i")].alias("q"),
        F.col("z.ex").alias("exact_value"),
        F.col("z.ap").alias("ap"),
        "n",
    )
    # True rank of the approximate value: one conditional aggregate over
    # the corpus per quantile row (5 rows broadcast — schema-bounded by
    # the literal quantile list, so the hint is within policy).
    ranks = (
        od.crossJoin(F.broadcast(per_q))
        .groupBy("q", "exact_value", "ap", "n")
        .agg(
            F.sum(
                F.when(F.col("o_totalprice") <= F.col("ap"), 1).otherwise(0)
            ).alias("rank_ap")
        )
    )
    # rank error bound n/accuracy, doubled for the <=-vs-< rank
    # convention and duplicate mass at the quantile value, +2 slack for
    # the integer boundaries.
    bound = 2.0 * F.col("n") / _AQ_ACCURACY + 2
    return ranks.select(
        "q",
        "exact_value",
        (
            F.abs(F.col("rank_ap") - F.col("q") * F.col("n")) <= bound
        ).alias("within_bound"),
    )


# ---------------------------------------------------------------------------
# CDC consumer operators over the synthesized change log: point-in-time
# snapshot (time travel) and window squashing/compaction. To exercise
# the REMOVE path non-vacuously, every user_id % 17 == 0 item gets a
# synthetic REMOVE appended after its last event (tombstone at its
# final event time).
# ---------------------------------------------------------------------------
def _augment_with_removes(records: DataFrame) -> DataFrame:
    user = F.split(F.col("pk"), "#")[1].cast("long")
    last = (
        records.filter(user % 17 == 0)
        .groupBy("pk", "sk")
        .agg(
            F.max("seq").alias("lseq"),
            F.max_by(F.struct("new_image", "ts"), "seq").alias("w"),
        )
    )
    removes = last.select(
        F.concat(F.lit("REMOVE#"), F.col("pk")).alias("event_id"),
        (F.col("lseq") + 1).alias("seq"),
        F.col("w.ts").alias("ts"),
        F.lit("REMOVE").alias("operation"),
        "pk",
        "sk",
        F.col("w.new_image").alias("old_image"),
        F.lit(None).cast("string").alias("new_image"),
        F.lit(512).cast("long").alias("size_bytes"),
    )
    return records.unionByName(removes)


_SNAPSHOT_CUTOFF = "2024-01-15 00:00:00"


@query(
    "cdc_snapshot_at",
    oracle=f"""
    WITH le AS (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_versions
      FROM events WHERE ts <= TIMESTAMP '{_SNAPSHOT_CUTOFF}'
    ), dead AS (
      SELECT user_id FROM events WHERE user_id % 17 = 0
      GROUP BY user_id HAVING MAX(ts) <= TIMESTAMP '{_SNAPSHOT_CUTOFF}'
    )
    SELECT 'USER#' || CAST(user_id AS VARCHAR) AS pk,
           event_type, value,
           CAST(n_versions AS BIGINT) AS n_versions
    FROM le
    WHERE rn = 1 AND user_id NOT IN (SELECT user_id FROM dead)
    """,
)
def cdc_snapshot_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: replay the change log up to a cutoff and emit the
    live table state — latest non-REMOVE image per key via one max_by
    aggregation (operators/compaction.py:snapshot_at). The value
    column round-trips marshal -> snapshot -> extract bit-exactly."""
    from cdk_dynamodb_cdc_spark.operators.compaction import snapshot_at

    records = _augment_with_removes(synthesize_cdc_records(spark, sf_dir))
    snap = snapshot_at(records, _SNAPSHOT_CUTOFF)
    return snap.select(
        "pk",
        F.get_json_object("image", "$.event_type.S").alias("event_type"),
        F.get_json_object("image", "$.value.N").cast("double").alias("value"),
        "n_versions",
    )


@query(
    "cdc_squash_net_changes",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM events
    ), f AS (
      SELECT user_id, event_type AS t1, value AS v1, n FROM o WHERE rn = 1
    ), l AS (
      SELECT user_id, event_type AS tn, value AS vn FROM o WHERE rn = n
    )
    SELECT 'USER#' || CAST(user_id AS VARCHAR) AS pk,
           CASE WHEN user_id % 17 = 0 THEN 'REMOVE' ELSE 'MODIFY' END
             AS operation,
           CAST(CASE WHEN user_id % 17 = 0 THEN 2
                ELSE (CASE WHEN t1 <> tn THEN 1 ELSE 0 END)
                   + (CASE WHEN v1 <> vn THEN 1 ELSE 0 END) END AS INT)
             AS n_attrs_changed,
           CAST(CASE WHEN user_id % 17 = 0 THEN n ELSE n - 1 END AS BIGINT)
             AS n_squashed
    FROM f JOIN l USING (user_id)
    WHERE user_id % 17 = 0
       OR (n >= 2 AND (t1 <> tn OR v1 <> vn))
    """,
)
def cdc_squash_net_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log compaction: squash each key's MODIFY window (every record
    after its INSERT, plus the synthetic tombstones) into one net
    change via operators/compaction.py:squash_change_events — first
    old image diffed against last new image with the typed diff, the
    reference's no-op rule re-applied at the net level."""
    from pyspark.sql import types as T

    from cdk_dynamodb_cdc_spark.operators.compaction import (
        squash_change_events,
    )

    item_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    records = _augment_with_removes(
        synthesize_cdc_records(spark, sf_dir)
    ).filter(F.col("seq") >= 2)
    sq = squash_change_events(records, item_schema)
    return sq.select(
        "pk",
        "operation",
        F.size("attributes_changed").alias("n_attrs_changed"),
        "n_squashed",
    )


# ---------------------------------------------------------------------------
# Multimodal resize + feature extraction (the remaining two media
# stages from SURVEY §2C): aspect-preserving integer resize of the
# fake-decoded dims and a deterministic 3-bucket byte-histogram
# feature with L2 norm — one Arrow-batched mapInPandas stage, no
# shuffle, oracle reproduces every value from the text bytes.
# ---------------------------------------------------------------------------
@query(
    "media_transform_stats",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CASE WHEN source IN ('src0', 'src1') THEN 'image'
                  WHEN source IN ('src2', 'src3') THEN 'audio'
                  ELSE 'video' END AS media_type,
             octet_length(encode(text)) AS n,
             octet_length(encode(text)) % 64 + 16 AS w,
             (octet_length(encode(text)) // 64) % 64 + 16 AS h,
             len(text) - len(replace(text, ' ', '')) AS ns,
             (len(text) - len(replace(text, 'a', '')))
               + (len(text) - len(replace(text, 'e', '')))
               + (len(text) - len(replace(text, 'i', '')))
               + (len(text) - len(replace(text, 'o', '')))
               + (len(text) - len(replace(text, 'u', ''))) AS nv
      FROM documents
    ), r AS (
      SELECT *, greatest(w, h) AS mx, n - ns - nv AS no FROM m
    )
    SELECT doc_id, media_type,
           CAST(CASE WHEN mx <= 32 THEN w
                ELSE greatest(1, w * 32 // mx) END AS INT) AS new_width,
           CAST(CASE WHEN mx <= 32 THEN h
                ELSE greatest(1, h * 32 // mx) END AS INT) AS new_height,
           CAST((CASE WHEN mx <= 32 THEN w
                 ELSE greatest(1, w * 32 // mx) END)
              * (CASE WHEN mx <= 32 THEN h
                 ELSE greatest(1, h * 32 // mx) END) AS BIGINT) AS out_bytes,
           CAST(ns AS INT) AS n_space,
           CAST(nv AS INT) AS n_vowel,
           CAST(no AS INT) AS n_other,
           sqrt(ns * ns + nv * nv + no * no) AS feat_norm
    FROM r
    """,
)
def media_transform_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return llm_media.transform_media(llm_media.attach_binary_payload(docs))


# ---------------------------------------------------------------------------
# Mergeable distinct-count sketches (Datasketches HLL via
# hll_sketch_agg / hll_union_agg): the re-aggregatable form of
# approx_count_distinct — per-group sketches are small, partial-agg
# friendly, and UNION to coarser groupings without touching raw data,
# which is what makes distinct counting composable with rollups at
# 100 TB (store sketch bytes per fine bucket, merge for any coarse
# query). The union row proves real sketch semantics: customers
# appear under several priorities, so the merged estimate must equal
# the global distinct, far below the sum of per-group counts.
# Estimates never cross engines — the oracle pins exact counts plus a
# TRUE accuracy contract (5% >> the ~0.8% RSE at lgK=14).
# ---------------------------------------------------------------------------
@query(
    "hll_sketch_union_contract",
    oracle="""
    SELECT o_orderpriority AS group_key,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
           TRUE AS within_bound
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT 'ALL' AS group_key,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
           TRUE AS within_bound
    FROM orders
    """,
)
def hll_sketch_union_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    rel_bound = 0.05
    per = od.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey", F.lit(14)).alias("sk"),
        F.count_distinct("o_custkey").alias("exact_distinct"),
    )
    ok = (
        F.abs(
            F.hll_sketch_estimate("sk") - F.col("exact_distinct")
        ).cast("double")
        / F.col("exact_distinct")
        <= rel_bound
    )
    groups = per.select(
        F.col("o_orderpriority").alias("group_key"),
        "exact_distinct",
        ok.alias("within_bound"),
    )
    merged = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_all")
    )
    exact_all = od.agg(
        F.count_distinct("o_custkey").alias("exact_distinct")
    )
    glob = exact_all.crossJoin(merged).select(
        F.lit("ALL").alias("group_key"),
        "exact_distinct",
        (
            F.abs(F.col("est_all") - F.col("exact_distinct")).cast("double")
            / F.col("exact_distinct")
            <= rel_bound
        ).alias("within_bound"),
    )
    return groups.unionByName(glob)


# ---------------------------------------------------------------------------
# UNPIVOT / melt (stack): wide aggregate -> long (measure, value) rows,
# the standard reshape before per-metric processing. stack() is
# evaluated in the same projection as the aggregate — no extra shuffle.
# ---------------------------------------------------------------------------
@query(
    "unpivot_lineitem_measures",
    oracle="""
    WITH a AS (
      SELECT l_returnflag,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
               AS sum_base_price
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM a
    UNION ALL
    SELECT l_returnflag, 'sum_base_price' AS measure, sum_base_price FROM a
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
    )
    return agg.selectExpr(
        "l_returnflag",
        "stack(2, 'sum_qty', sum_qty, 'sum_base_price', sum_base_price) "
        "AS (measure, value)",
    )


# ---------------------------------------------------------------------------
# Decile profile WITHOUT a global sort: a windowless NTILE. A bare
# `ntile(10) OVER (ORDER BY ...)` collapses the whole table into ONE
# task (empty-partition window = single-partition sort) — the classic
# global-ranking scale trap. Instead: exact decile boundaries from one
# aggregation (bit-identical across engines, like
# percentile_order_values), broadcast them, assign each row its bucket
# by comparison — two scans, zero global sort, fully parallel at any
# corpus size. Ties sit on boundary values and are assigned by the
# same strict-inequality rule in both engines.
# ---------------------------------------------------------------------------
@query(
    "spend_decile_profile",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS s
      FROM orders GROUP BY o_custkey
    ), b AS (
      SELECT quantile_cont(CAST(s AS DOUBLE),
                           [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
      FROM spend
    ), assigned AS (
      SELECT s, 1 + len(list_filter((SELECT qs FROM b),
                                    q -> CAST(s AS DOUBLE) > q))
               AS decile
      FROM spend
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(s) AS DOUBLE) AS total_spend
    FROM assigned GROUP BY decile
    """,
)
def spend_decile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    spend = od.groupBy("o_custkey").agg(
        F.sum(_dec("o_totalprice")).alias("s")
    )
    qs = ", ".join(str(q / 10) + "D" for q in range(1, 10))
    # Interpolate boundaries in DOUBLE in both engines: quantile_cont over
    # a DECIMAL column returns DECIMAL (cent-rounded boundaries), which can
    # flip the strict s > q assignment for spends within a cent of a
    # boundary — so both sides cast to double BEFORE interpolating and
    # comparing.
    bounds = spend.agg(
        F.expr(f"percentile(CAST(s AS DOUBLE), array({qs}))").alias("qs")
    )
    assigned = spend.crossJoin(F.broadcast(bounds)).select(
        "s",
        (
            1
            + F.size(
                F.filter("qs", lambda q: F.col("s").cast("double") > q)
            )
        ).alias("decile"),
    )
    return assigned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("s").cast("double").alias("total_spend"),
    )


# ---------------------------------------------------------------------------
# Array higher-order functions (§2B scalar surface): transform /
# filter / aggregate / slice / contains / position over the token
# arrays, all JVM-side in one projection, each with an exact DuckDB
# list-function twin. Complements scalar_function_suite (strings /
# dates / math / conditionals).
# ---------------------------------------------------------------------------
@query(
    "array_function_suite",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    SELECT doc_id,
           CAST(len(ws) AS INT) AS n_tokens,
           array_to_string(ws[1:3], ' ') AS first3,
           CAST(len(list_filter(ws, x -> len(x) > 4)) AS INT) AS n_long,
           list_contains(ws, 'table') AS has_table,
           list_min(ws) AS min_token,
           CAST(list_max(list_transform(ws, x -> len(x))) AS INT)
             AS longest_len,
           CAST(list_sum(list_transform(ws, x -> len(x))) AS BIGINT)
             AS total_chars,
           CAST(COALESCE(list_position(ws, 'value'), 0) AS INT)
             AS first_value_pos
    FROM w
    """,
)
def array_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(ws).alias("n_tokens"),
        F.array_join(F.slice(ws, 1, 3), " ").alias("first3"),
        F.size(F.filter(ws, lambda x: F.length(x) > 4)).alias("n_long"),
        F.array_contains(ws, "table").alias("has_table"),
        F.array_min(ws).alias("min_token"),
        F.array_max(F.transform(ws, F.length)).alias("longest_len"),
        F.aggregate(
            F.transform(ws, F.length),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("total_chars"),
        F.array_position(ws, "value").cast("int").alias("first_value_pos"),
    )


# ---------------------------------------------------------------------------
# Robust statistics: median / MAD outlier detection per event type —
# the standard data-quality screen for a numeric column (robust to the
# very outliers it hunts, unlike mean/stddev). Two exact interpolated
# medians (bit-identical across engines, like percentile_order_values)
# and an integer outlier count at the 3-MAD fence.
# ---------------------------------------------------------------------------
@query(
    "mad_outlier_stats",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
      FROM events e JOIN med m ON e.event_type = m.event_type
    ), mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(d.med) AS DOUBLE) AS median_value,
           CAST(MIN(m.mad) AS DOUBLE) AS mad,
           CAST(SUM(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type
    """,
)
def mad_outlier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", 0.5).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med").alias("median_value"),
            F.min("mad").alias("mad"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# Event-transition matrix (first-order Markov counts): per user, each
# consecutive (event_type -> next event_type) pair counted corpus-wide.
# One keyed window (lead) + one aggregation; the transition matrix is
# |types|^2 rows regardless of corpus size.
# ---------------------------------------------------------------------------
@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    return (
        seq.filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


# ---------------------------------------------------------------------------
# Retention cohorts: users grouped by first-seen week, distinct-active
# counts per week offset — the standard cohort/retention triangle. Two
# aggregations (first-seen per user, then distinct users per cohort x
# offset cell); week arithmetic is integer day-diff from a fixed
# epoch, timezone-free on NTZ timestamps.
# ---------------------------------------------------------------------------
@query(
    "weekly_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7)
               AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             date_diff('day', DATE '2024-01-01', CAST(e.ts AS DATE)) // 7
               - f.cohort_week AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT CAST(cohort_week AS INT) AS cohort_week,
           CAST(week_offset AS INT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active_users
    FROM activity GROUP BY cohort_week, week_offset
    """,
)
def weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    week = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        / 7
    ).cast("int")  # floor (not int-cast truncation) so pre-epoch
    # timestamps keep parity with the oracle's // floor division
    weeks = ev.select("user_id", week.alias("w"))
    firsts = weeks.groupBy("user_id").agg(F.min("w").alias("cohort_week"))
    activity = (
        weeks.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.col("w") - F.col("cohort_week")).alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active_users")
    )


def _dec_double(col: "F.Column") -> "F.Column":
    """Bit-stable DECIMAL -> DOUBLE: ONE correctly-rounded conversion.

    A direct DuckDB cast of a wide decimal is NOT bit-stable across
    engines: DuckDB converts int128-backed values (HUGEINT, and any
    DECIMAL with precision > 18 or integer part > 2^53) through
    ``double(upper) * 2^64 + double(lower)`` — two roundings — while
    the JVM's BigDecimal.doubleValue() rounds once, so results can
    differ in the last ulp (reproduced at sf0.1 by the round-9
    robustness sweep). The earlier floor+frac split only moved the
    problem: DuckDB's FLOOR keeps the int128 backing, so the integer
    part itself double-rounds past 2^53. The stable contract is ONE
    correctly-rounded conversion per side: Spark's decimal cast is
    BigDecimal.doubleValue (correct), and the oracle twin hops
    through VARCHAR so strtod performs the single correct rounding
    of the same exact digits.
    """
    return col.cast("double")


def _duck_dec_double(expr: str) -> str:
    """DuckDB twin of ``_dec_double`` (see its docstring)."""
    return f"CAST(CAST(({expr}) AS VARCHAR) AS DOUBLE)"


# ---------------------------------------------------------------------------
# Ordered funnel analysis: view -> click -> purchase, each step's earliest
# qualifying timestamp strictly after the previous step's. The classic
# product-analytics operator the reference's event bus feeds downstream
# (`cdk-dynamodb-cdc-stack.ts:32-38` routes exactly such event streams).
# Shape: one min-aggregation per step, each keyed by user_id — the joins
# are all co-partitioned on the same key, so at cluster scale the funnel
# is len(steps) map-side-combined aggregations over one user-hashed
# exchange, never a sort or a self-join explosion. The 3-row summary
# window is trivially small by construction.
# ---------------------------------------------------------------------------
@query(
    "funnel_conversion_steps",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    ), counts AS (
      SELECT 1 AS step_no, 'view' AS step,
             CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
      UNION ALL
      SELECT 2, 'click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
      UNION ALL
      SELECT 3, 'purchase', CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
    )
    SELECT step_no, step, n_users,
           CAST(n_users AS DOUBLE)
             / FIRST_VALUE(n_users) OVER (ORDER BY step_no) AS conv_from_first,
           CAST(n_users AS DOUBLE)
             / COALESCE(LAG(n_users) OVER (ORDER BY step_no), n_users)
             AS conv_from_prev
    FROM counts
    """,
)
def funnel_conversion_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = (
        s1.agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.lit(1).alias("step_no"), F.lit("view").alias("step"), "n_users")
        .unionByName(
            s2.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(2).alias("step_no"), F.lit("click").alias("step"), "n_users"
            )
        )
        .unionByName(
            s3.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(3).alias("step_no"),
                F.lit("purchase").alias("step"),
                "n_users",
            )
        )
    )
    w = Window.orderBy("step_no")
    return counts.select(
        "step_no",
        "step",
        "n_users",
        (
            F.col("n_users").cast("double") / F.first("n_users").over(w)
        ).alias("conv_from_first"),
        (
            F.col("n_users").cast("double")
            / F.coalesce(F.lag("n_users").over(w), F.col("n_users"))
        ).alias("conv_from_prev"),
    )


# ---------------------------------------------------------------------------
# EWMA trend smoothing over the daily revenue series, per event type.
# The smoothing weights are dyadic (2^-1 ... 2^-7, tail re-weighted so
# they sum to 1), so every product and sum stays EXACT in decimal — the
# usual float-recurrence nondeterminism (summation-order-dependent low
# bits) cannot occur, and both engines produce bit-identical doubles.
# Shape: one (type, day) partial-agg shuffle, then one 8-lag analytic
# window per type — a bounded ROWS frame, streaming-evaluable, never a
# per-type global collect. Missing leading lags coalesce to 0 (warm-up
# rows are flagged by day rank if consumers care).
# ---------------------------------------------------------------------------
_EWMA_WEIGHTS = [
    "0.50000000",
    "0.25000000",
    "0.12500000",
    "0.06250000",
    "0.03125000",
    "0.01562500",
    "0.00781250",
    "0.00781250",
]


@query(
    "ewma_revenue_trend",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS rev
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), smoothed AS (
      -- operands widened to DECIMAL(28,6): DuckDB's DECIMAL(18)
      -- product overflows its 18-digit result check at sf0.1 revenue
      -- magnitudes (values are unchanged — the products stay exact)
      SELECT event_type, day, rev,
             CAST(rev AS DECIMAL(28,6))
               * CAST({_EWMA_WEIGHTS[0]} AS DECIMAL(9,8))
             {" ".join(
               f"+ COALESCE(CAST(LAG(rev, {k}) OVER w AS DECIMAL(28,6)),"
               f" CAST(0 AS DECIMAL(28,6)))"
               f" * CAST({wk} AS DECIMAL(9,8))"
               for k, wk in enumerate(_EWMA_WEIGHTS) if k > 0
             )} AS ewma_dec
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day, CAST(rev AS DOUBLE) AS rev,
           {_duck_dec_double("ewma_dec")} AS ewma
    FROM smoothed
    """,
)
def ewma_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("decimal(18,6)")
        .alias("rev")
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    zero = F.lit("0").cast("decimal(18,6)")
    terms = [F.col("rev") * F.lit(_EWMA_WEIGHTS[0]).cast("decimal(9,8)")]
    for k, wk in enumerate(_EWMA_WEIGHTS):
        if k == 0:
            continue
        terms.append(
            F.coalesce(F.lag("rev", k).over(wd), zero)
            * F.lit(wk).cast("decimal(9,8)")
        )
    ewma = terms[0]
    for t in terms[1:]:
        ewma = ewma + t
    return daily.select(
        "event_type",
        "day",
        F.col("rev").cast("double").alias("rev"),
        _dec_double(ewma).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing (double exponential smoothing) of the
# daily revenue series, in FIXED-POINT integer arithmetic: alpha=1/5,
# beta=1/10, every recursion step a floor division implemented as
# (n - pmod(n, d)) / d — exactly divisible, so the quotient is an
# exact integer in both engines and the whole state trajectory
# (level, trend, one-step-ahead fit) hashes bit-identically; a float
# Holt would drift by summation-order ulps. Unlike the EWMA window
# (finite truncated kernel), this is the TRUE infinite-memory
# recursion — inexpressible as a window frame, so it runs as the
# repo's sorted-fold pattern over the days-sized pre-aggregate (same
# bounded-series argument as daily_revenue_acf); the oracle replays
# the recursion as a recursive CTE over the day index.
# ---------------------------------------------------------------------------
@query(
    "holt_revenue_trend",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
      FROM events GROUP BY day
    ), idx AS (
      SELECT day, y, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily
    ), holt AS (
      SELECT rn, day, y, CAST(NULL AS BIGINT) AS fit,
             y AS lv, CAST(0 AS BIGINT) AS tr
      FROM idx WHERE rn = 1
      UNION ALL
      SELECT rn, day, y, fit, lv1 AS lv,
             (tn - ((tn % 10) + 10) % 10) // 10 AS tr
      FROM (
        SELECT i.rn, i.day, i.y, h.lv + h.tr AS fit, h.lv AS lv0,
               h.tr AS tr0,
               (ln - ((ln % 5) + 5) % 5) // 5 AS lv1
        FROM holt h JOIN idx i ON i.rn = h.rn + 1,
             LATERAL (SELECT i.y + 4 * (h.lv + h.tr) AS ln) c1
      ) s, LATERAL (SELECT (lv1 - lv0) + 9 * tr0 AS tn) c2
    )
    SELECT day, y AS rev_cents, fit AS fit_cents,
           lv AS level_cents, tr AS trend_cents
    FROM holt
    """,
)
def holt_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("y")
    )

    def fd(n, d):
        # floor division with an exactly-divisible numerator: the
        # double intermediate is an exact integer (series magnitudes
        # sit far below 2^53; a 100-TB deployment widens to DECIMAL)
        return ((n - F.pmod(n, F.lit(d))) / d).cast("long")

    row_t = (
        "array<struct<day:date,y:bigint,fit:bigint,lv:bigint,tr:bigint>>"
    )

    def step(acc, x):
        first = F.size(acc["rows"]) == 0
        fit = acc["lv"] + acc["tr"]
        lv1 = fd(x["y"] + 4 * (acc["lv"] + acc["tr"]), 5)
        tr1 = fd((lv1 - acc["lv"]) + 9 * acc["tr"], 10)
        lv_new = F.when(first, x["y"]).otherwise(lv1)
        tr_new = F.when(first, F.lit(0).cast("long")).otherwise(tr1)
        row = F.struct(
            x["day"].alias("day"),
            x["y"].alias("y"),
            F.when(first, F.lit(None).cast("long"))
            .otherwise(fit)
            .alias("fit"),
            lv_new.alias("lv"),
            tr_new.alias("tr"),
        )
        return F.struct(
            lv_new.alias("lv"),
            tr_new.alias("tr"),
            F.array_append(acc["rows"], row).alias("rows"),
        )

    series = daily.agg(
        F.sort_array(F.collect_list(F.struct("day", "y"))).alias("s")
    )
    init = F.struct(
        F.lit(0).cast("long").alias("lv"),
        F.lit(0).cast("long").alias("tr"),
        F.expr(f"CAST(array() AS {row_t})").alias("rows"),
    )
    return series.select(
        F.explode(F.aggregate("s", init, step)["rows"]).alias("r")
    ).select(
        F.col("r.day").alias("day"),
        F.col("r.y").alias("rev_cents"),
        F.col("r.fit").alias("fit_cents"),
        F.col("r.lv").alias("level_cents"),
        F.col("r.tr").alias("trend_cents"),
    )


# ---------------------------------------------------------------------------
# Equi-width histogram of event values per type: fixed [0, 500) domain in
# 20 buckets of width 25. Bucketing is floor(value / width) — one IEEE
# division + floor, bit-identical across engines — clamped into range, so
# the operator is a pure map + one (type, bucket) aggregation with
# map-side combine; output is always <= |types| * 20 rows at any scale.
# ---------------------------------------------------------------------------
@query(
    "value_histogram_events",
    oracle="""
    SELECT event_type,
           CAST(LEAST(FLOOR(value / 25.0), 19) AS INT) AS bucket,
           CAST(LEAST(FLOOR(value / 25.0), 19) * 25.0 AS DOUBLE) AS bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type, LEAST(FLOOR(value / 25.0), 19)
    """,
)
def value_histogram_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(F.floor(F.col("value") / 25.0), F.lit(19)).cast("int")
    return (
        ev.select("event_type", "user_id", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .select(
            "event_type",
            "bucket",
            (F.col("bucket") * 25.0).alias("bucket_lo"),
            "n_events",
            "n_users",
        )
    )


# ---------------------------------------------------------------------------
# Histogram-based outlier score (HBOS, Goldstein & Dengel 2012) over
# events: each event's anomaly score is the PRODUCT of its per-feature
# histogram bin counts (value band, hour of day, weekday) — rare
# feature combinations score low. The canonical HBOS sums log inverse
# densities; the product of integer counts is the same ORDER without
# a single float (log is monotone), so the top-20 outlier list is
# exact in both engines. Shape: three tiny feature histograms (20/24/7
# rows, broadcast back), one scan, TakeOrderedAndProject for the
# bounded output. BIGINT products hold to ~sf100; the DECIMAL(19,0)
# widening used by the PMI operator is the 100-TB path.
# ---------------------------------------------------------------------------
@query(
    "hbos_event_outliers",
    oracle="""
    WITH f AS (
      SELECT event_id,
             CAST(LEAST(FLOOR(value / 25.0), 19) AS INT) AS vb,
             CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
             CAST(isodow(ts) - 1 AS INT) AS dw
      FROM events
    ),
    cv AS (SELECT vb, COUNT(*) AS nv FROM f GROUP BY vb),
    ch AS (SELECT hr, COUNT(*) AS nh FROM f GROUP BY hr),
    cd AS (SELECT dw, COUNT(*) AS nd FROM f GROUP BY dw)
    SELECT f.event_id, f.vb, f.hr, f.dw,
           CAST(nv * nh * nd AS BIGINT) AS score
    FROM f JOIN cv USING (vb) JOIN ch USING (hr) JOIN cd USING (dw)
    ORDER BY score, event_id LIMIT 20
    """,
)
def hbos_event_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    f = ev.select(
        "event_id",
        F.least(F.floor(F.col("value") / 25.0), F.lit(19))
        .cast("int")
        .alias("vb"),
        F.hour("ts").cast("int").alias("hr"),
        F.weekday("ts").cast("int").alias("dw"),
    )
    # all three feature histograms from ONE scan: grouping sets emits
    # the (vb), (hr), (dw) slices in a single map-side-combined pass
    # instead of three scans of the fact table
    # checkpointed (<= 20+24+7 rows): the three slice consumers would
    # otherwise each re-expand the scan + grouping-sets subtree
    hists = (
        f.groupingSets([["vb"], ["hr"], ["dw"]], "vb", "hr", "dw")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    cv = hists.filter(F.col("vb").isNotNull()).select(
        "vb", F.col("n").alias("nv")
    )
    ch = hists.filter(F.col("hr").isNotNull()).select(
        "hr", F.col("n").alias("nh")
    )
    cd = hists.filter(F.col("dw").isNotNull()).select(
        "dw", F.col("n").alias("nd")
    )
    return (
        f.join(F.broadcast(cv), "vb")
        .join(F.broadcast(ch), "hr")
        .join(F.broadcast(cd), "dw")
        .select(
            "event_id",
            "vb",
            "hr",
            "dw",
            (F.col("nv") * F.col("nh") * F.col("nd"))
            .cast("long")
            .alias("score"),
        )
        .orderBy("score", "event_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP-style): each event's value weighted by the
# microseconds until the same user's next event, aggregated per type.
# The weighting products run in exact decimal (value DECIMAL(18,6) x
# interval-µs DECIMAL(20,0)) so the per-type sums are summation-order-
# free; the single double division at the end is IEEE-identical across
# engines. Shape: one user-keyed lead window (the partitioning every
# per-key CDC operator shares) + one small per-type aggregation.
# ---------------------------------------------------------------------------
@query(
    "time_weighted_avg_value",
    oracle=f"""
    WITH spans AS (
      SELECT event_type, value,
             epoch_us(LEAD(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id))
               - epoch_us(ts) AS delta_us
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(delta_us) AS BIGINT) AS total_us,
           {_duck_dec_double(
             "SUM(CAST(value AS DECIMAL(18,6))"
             " * CAST(delta_us AS DECIMAL(20,0)))"
           )}
             / CAST(SUM(delta_us) AS DOUBLE) AS twap
    FROM spans WHERE delta_us IS NOT NULL
    GROUP BY event_type
    """,
)
def time_weighted_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    spans = ev.select(
        "event_type",
        "value",
        (_epoch_us(F.lead("ts").over(w)) - _epoch_us(F.col("ts"))).alias(
            "delta_us"
        ),
    ).filter(F.col("delta_us").isNotNull())
    weighted = F.col("value").cast("decimal(18,6)") * F.col(
        "delta_us"
    ).cast("decimal(20,0)")
    return spans.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("delta_us").alias("total_us"),
        (
            _dec_double(F.sum(weighted))
            / F.sum("delta_us").cast("double")
        ).alias("twap"),
    )


# ---------------------------------------------------------------------------
# Inverted-index text search (llm/text.py:build_inverted_index +
# search_conjunctive): posting lists from the documents corpus, then a
# conjunctive (AND) query over three terms ranked by total term
# frequency. The index build is one map-side-combined aggregation; the
# search prunes to the query terms' postings before any shuffle and the
# top-k compiles to TakeOrderedAndProject. Integer scores + doc_id
# tiebreak keep the ranking engine-exact.
# ---------------------------------------------------------------------------
_SEARCH_TERMS = ["spark", "merge", "window"]


@query(
    "inverted_index_search",
    oracle=f"""
    WITH postings AS (
      SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents)
      GROUP BY term, doc_id
    ), matched AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
             CAST(SUM(tf) AS BIGINT) AS score
      FROM postings
      WHERE term IN ({", ".join(f"'{t}'" for t in _SEARCH_TERMS)})
      GROUP BY doc_id
      HAVING COUNT(*) = {len(_SEARCH_TERMS)}
    )
    SELECT doc_id, n_terms_matched, score
    FROM matched ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def inverted_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    index = llm_text.build_inverted_index(
        load_table(spark, sf_dir, "documents")
    )
    return llm_text.search_conjunctive(index, _SEARCH_TERMS, top_k=20)


# ---------------------------------------------------------------------------
# Column profiling audit (operators/monitor.py:profile_columns): per-
# column row/null/distinct counts over the events table — the corpus
# health check a pipeline runs before trusting a new drop. One melted
# aggregation, two-phase distinct, output bounded at len(cols) rows.
# The oracle profiles each raw column directly; equality holds because
# the engine's string melt is injective for these scalar types.
# ---------------------------------------------------------------------------
@query(
    "profile_event_columns",
    oracle="""
    SELECT 'event_id' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct
    FROM events
    UNION ALL
    SELECT 'ts', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT ts) AS BIGINT) FROM events
    UNION ALL
    SELECT 'user_id', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
    UNION ALL
    SELECT 'event_type', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT event_type) AS BIGINT) FROM events
    UNION ALL
    SELECT 'value', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT value) AS BIGINT) FROM events
    UNION ALL
    SELECT 'props', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT props) AS BIGINT) FROM events
    """,
)
def profile_event_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.monitor import profile_columns

    ev = load_table(spark, sf_dir, "events")
    prof = profile_columns(
        ev, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    return prof.select(
        F.col("column").alias("col_name"), "n_rows", "n_nulls", "n_distinct"
    )


# ---------------------------------------------------------------------------
# Snapshot reconciliation (operators/compaction.py:snapshot_diff): replay
# the change log to two cutoffs and classify every item key as ADDED /
# REMOVED / CHANGED / UNCHANGED — the anti-entropy audit a CDC replica
# runs against the log. The log here staggers each user's activity span
# by user_id (days 3k+1..3k+8 of the month) so at the chosen cutoffs
# every class is non-vacuous, including both invisibility rules (keys
# born after T2 and keys created+deleted before T1 emit nothing).
# Shape: two key-partitioned max_by aggregations + one co-partitioned
# full outer join — two passes over the log at any scale, no sorts.
# ---------------------------------------------------------------------------
_DIFF_T1 = "2024-01-13 00:00:00"
_DIFF_T2 = "2024-01-24 00:00:00"


@query(
    "cdc_snapshot_diff",
    oracle=f"""
    WITH ev AS (
      SELECT * FROM events
      WHERE date_part('day', ts)
            BETWEEN 3 * (user_id % 10) + 1 AND 3 * (user_id % 10) + 8
    ), le1 AS (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS nv
      FROM ev WHERE ts <= TIMESTAMP '{_DIFF_T1}'
    ), dead1 AS (
      SELECT user_id FROM ev WHERE user_id % 17 = 0
      GROUP BY user_id HAVING MAX(ts) <= TIMESTAMP '{_DIFF_T1}'
    ), s1 AS (
      SELECT user_id, event_type, value, nv FROM le1
      WHERE rn = 1 AND user_id NOT IN (SELECT user_id FROM dead1)
    ), le2 AS (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS nv
      FROM ev WHERE ts <= TIMESTAMP '{_DIFF_T2}'
    ), dead2 AS (
      SELECT user_id FROM ev WHERE user_id % 17 = 0
      GROUP BY user_id HAVING MAX(ts) <= TIMESTAMP '{_DIFF_T2}'
    ), s2 AS (
      SELECT user_id, event_type, value, nv FROM le2
      WHERE rn = 1 AND user_id NOT IN (SELECT user_id FROM dead2)
    )
    SELECT 'USER#' || CAST(user_id AS VARCHAR) AS pk,
           CASE WHEN s1.user_id IS NULL THEN 'ADDED'
                WHEN s2.user_id IS NULL THEN 'REMOVED'
                WHEN s1.event_type = s2.event_type
                     AND s1.value = s2.value THEN 'UNCHANGED'
                ELSE 'CHANGED' END AS change_kind,
           CAST(COALESCE(s2.nv, 0) - COALESCE(s1.nv, 0) AS BIGINT)
             AS n_new_versions
    FROM s1 FULL OUTER JOIN s2 USING (user_id)
    """,
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.compaction import snapshot_diff

    offset = 3 * (F.col("user_id") % 10)
    ev = load_table(spark, sf_dir, "events").filter(
        F.dayofmonth("ts").between(offset + 1, offset + 8)
    )
    records = _augment_with_removes(synthesize_cdc_records_from(ev))
    return snapshot_diff(records, _DIFF_T1, _DIFF_T2).select(
        "pk", "change_kind", "n_new_versions"
    )


# ---------------------------------------------------------------------------
# Batch MERGE / incremental snapshot maintenance
# (operators/compaction.py:merge_changes): materialize the snapshot at a
# cutoff, then MERGE the rest of the log onto it. The oracle is the
# final table state computed by full replay, so the green hash IS the
# maintenance theorem merge(snap(T1), log(T1,..]) == snap(latest) —
# the property that lets a 100-TB log be maintained window-by-window
# instead of replayed.
# ---------------------------------------------------------------------------
@query(
    "cdc_merge_apply",
    oracle="""
    WITH le AS (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS nv
      FROM events
    )
    SELECT 'USER#' || CAST(user_id AS VARCHAR) AS pk,
           event_type, value,
           CAST(nv AS BIGINT) AS n_versions
    FROM le WHERE rn = 1 AND user_id % 17 <> 0
    """,
)
def cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.compaction import (
        merge_changes,
        snapshot_at,
    )

    records = _augment_with_removes(synthesize_cdc_records(spark, sf_dir))
    base = snapshot_at(records, _SNAPSHOT_CUTOFF)
    window = records.filter(F.col("ts") > F.lit(_SNAPSHOT_CUTOFF))
    merged = merge_changes(base, window)
    return merged.select(
        "pk",
        F.get_json_object("image", "$.event_type.S").alias("event_type"),
        F.get_json_object("image", "$.value.N").cast("double").alias("value"),
        "n_versions",
    )


# ---------------------------------------------------------------------------
# Hopping (sliding) window aggregation: 1-hour windows every 30 minutes,
# so each event lands in exactly two windows. Batch-mode oracle for the
# streaming `window(ts, dur, slide)` operator — the oracle derives the
# same two windows per event arithmetically. One explode-by-2 + one
# (window, type) aggregation with map-side combine.
# ---------------------------------------------------------------------------
@query(
    "hopping_window_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '30 minutes', ts)
             - k.k * INTERVAL '30 minutes' AS window_start,
           event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events, (SELECT unnest([0, 1]) AS k) k
    GROUP BY window_start, event_type
    """,
)
def hopping_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Ratio-to-report (percent-of-total) window: each nation's revenue share
# of the global total. The share divides two decimal-exact sums — the
# denominator comes from an unpartitioned unbounded window, which Spark
# plans as a single-row broadcast, not a global sort. Nation/region dims
# are schema-bounded -> broadcast per module policy.
# ---------------------------------------------------------------------------
@query(
    "nation_revenue_share",
    oracle=f"""
    WITH rev AS (
      SELECT n.n_name AS nation,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                      * (CAST(1 AS DECIMAL(4,2))
                         - CAST(l.l_discount AS DECIMAL(4,2))))
               AS DECIMAL(38,4)) AS r
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    )
    SELECT nation,
           {_duck_dec_double("r")} AS revenue,
           {_duck_dec_double("r")}
             / {_duck_dec_double("SUM(r) OVER ()")} AS share
    FROM rev
    """,
)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    one = F.lit(1).cast("decimal(4,2)")
    rev = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount", 4, 2)))
            .cast("decimal(38,4)")
            .alias("r")
        )
    )
    total = F.sum("r").over(Window.partitionBy())
    return rev.select(
        "nation",
        _dec_double(F.col("r")).alias("revenue"),
        (_dec_double(F.col("r")) / _dec_double(total)).alias("share"),
    )


# ---------------------------------------------------------------------------
# Funnel latency: exact interpolated p50/p90 of the view->purchase
# conversion time among converting users (composition of the funnel
# min-aggregations with ordered-set percentiles). The percentile input
# is integer microseconds — exactly representable doubles — so the
# interpolation is bit-identical across engines, divided to seconds by
# one IEEE op at the end.
# ---------------------------------------------------------------------------
@query(
    "funnel_time_to_convert",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    ), conv AS (
      SELECT CAST(epoch_us(s3.t3) - epoch_us(s1.t1) AS DOUBLE) AS dt_us
      FROM s3 JOIN s1 ON s3.user_id = s1.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converters,
           CAST(quantile_cont(dt_us, 0.5) AS DOUBLE) / 1000000.0 AS p50_s,
           CAST(quantile_cont(dt_us, 0.9) AS DOUBLE) / 1000000.0 AS p90_s
    FROM conv
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    conv = s3.join(s1, "user_id").select(
        (_epoch_us(F.col("t3")) - _epoch_us(F.col("t1")))
        .cast("double")
        .alias("dt_us")
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converters"),
        (F.percentile("dt_us", 0.5) / 1000000.0).alias("p50_s"),
        (F.percentile("dt_us", 0.9) / 1000000.0).alias("p90_s"),
    )


# ---------------------------------------------------------------------------
# Rolling anomaly detection: each (type, day) revenue scored against the
# TRAILING 7 days (exclusive frame ROWS -7..-1) as a z-score. The frame
# sums run in exact decimal, the closed form runs in double with an
# identical operation tree in both engines (sums enter via the
# floor-split cast — the squared sum's unscaled value exceeds int64, so
# a direct cast would not be bit-stable). Warm-up rows (< 7 trailing
# days) emit NULL z, flagged by n_prev. One (type, day) agg + one
# bounded ROWS window per type — streaming-evaluable at any history
# length.
# ---------------------------------------------------------------------------
@query(
    "rolling_zscore_daily_revenue",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS rev
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), framed AS (
      SELECT event_type, day, rev,
             CAST(COUNT(*) OVER w AS BIGINT) AS n_prev,
             CAST(SUM(rev) OVER w AS DECIMAL(38,6)) AS s,
             CAST(SUM(CAST(rev AS DECIMAL(19,6))
                      * CAST(rev AS DECIMAL(19,6))) OVER w
               AS DECIMAL(38,12)) AS ss
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, day, CAST(rev AS DOUBLE) AS rev, n_prev,
           CASE WHEN n_prev = 7 THEN
             (CAST(rev AS DOUBLE) - {_duck_dec_double("s")} / 7.0)
             / sqrt(({_duck_dec_double("ss")}
                     - ({_duck_dec_double("s")} * {_duck_dec_double("s")})
                       / 7.0) / 6.0)
           ELSE NULL END AS z
    FROM framed
    """,
)
def rolling_zscore_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("decimal(18,6)")
        .alias("rev")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    framed = daily.select(
        "event_type",
        "day",
        "rev",
        F.count(F.lit(1)).over(w).alias("n_prev"),
        F.sum("rev").over(w).cast("decimal(38,6)").alias("s"),
        F.sum(F.col("rev") * F.col("rev")).over(w).cast("decimal(38,12)").alias("ss"),
    )
    rev_d = F.col("rev").cast("double")
    s_d = _dec_double(F.col("s"))
    ss_d = _dec_double(F.col("ss"))
    z = (rev_d - s_d / F.lit(7.0)) / F.sqrt(
        (ss_d - (s_d * s_d) / F.lit(7.0)) / F.lit(6.0)
    )
    return framed.select(
        "event_type",
        "day",
        rev_d.alias("rev"),
        "n_prev",
        F.when(F.col("n_prev") == 7, z).alias("z"),
    )


# ---------------------------------------------------------------------------
# OLS regression from exact moments: per-returnflag slope/intercept of
# extendedprice on quantity. Same reproducible-float discipline as
# corr_qty_price_exact_moments — all five moments accumulate in exact
# decimal (any summation order), doubles only in the closed form, every
# sum entering through the floor-split cast so the expression tree is
# bit-identical across engines. One partial-agg shuffle; 3 output rows.
# ---------------------------------------------------------------------------
@query(
    "ols_price_on_quantity",
    oracle=f"""
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
             SUM(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy,
             SUM(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_quantity AS DECIMAL(12,2))) AS sxx
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (CAST(n AS DOUBLE) * {_duck_dec_double("sxy")}
            - {_duck_dec_double("sx")} * {_duck_dec_double("sy")})
           / (CAST(n AS DOUBLE) * {_duck_dec_double("sxx")}
              - {_duck_dec_double("sx")} * {_duck_dec_double("sx")})
             AS slope,
           ({_duck_dec_double("sy")}
            - ((CAST(n AS DOUBLE) * {_duck_dec_double("sxy")}
                - {_duck_dec_double("sx")} * {_duck_dec_double("sy")})
               / (CAST(n AS DOUBLE) * {_duck_dec_double("sxx")}
                  - {_duck_dec_double("sx")} * {_duck_dec_double("sx")}))
              * {_duck_dec_double("sx")})
           / CAST(n AS DOUBLE) AS intercept
    FROM m
    """,
)
def ols_price_on_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x, y = _dec("l_quantity"), _dec("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sx, sy = _dec_double(F.col("sx")), _dec_double(F.col("sy"))
    sxy, sxx = _dec_double(F.col("sxy")), _dec_double(F.col("sxx"))
    slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    intercept = (sy - slope * sx) / nd
    return m.select(
        "l_returnflag",
        "n",
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Last-touch attribution: each purchase credited to the user's most
# recent PRIOR non-purchase event (the marketing-attribution shape).
# The carry uses last(..., ignorenulls) over an exclusive trailing
# frame — an indexed scan per user, no self-join — then one small
# aggregation by attributed type. Revenue sums in exact decimal and
# leaves through the floor-split cast.
# ---------------------------------------------------------------------------
@query(
    "attribution_last_touch",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_type, value, ts,
             LAST_VALUE(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS attributed
      FROM events
    )
    SELECT COALESCE(attributed, 'none') AS attributed_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           {_duck_dec_double("SUM(CAST(value AS DECIMAL(18,6)))")} AS revenue
    FROM flagged WHERE event_type = 'purchase'
    GROUP BY COALESCE(attributed, 'none')
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    flagged = ev.select(
        "event_type", "value", carried.alias("attributed")
    ).filter(F.col("event_type") == "purchase")
    return flagged.groupBy(
        F.coalesce("attributed", F.lit("none")).alias("attributed_type")
    ).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        _dec_double(F.sum(F.col("value").cast("decimal(18,6)"))).alias(
            "revenue"
        ),
    )


# ---------------------------------------------------------------------------
# Behavioral diversity per user: the Gini–Simpson index (probability
# two random events differ in type) — the entropy-style diversity
# feature, but exactly rational: 1 - sum(n_i (n_i - 1)) / (N (N - 1))
# emitted as floor-scaled ppm, every step integer (Shannon entropy
# would drag libm logs into the result). Shape: one (user, type)
# count + one per-user fold; users with one event are excluded (the
# index is undefined at N = 1).
# ---------------------------------------------------------------------------
@query(
    "user_event_diversity",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n_i
      FROM events GROUP BY user_id, event_type
    ), u AS (
      SELECT user_id, SUM(n_i) AS n, COUNT(*) AS n_types,
             SUM(n_i * (n_i - 1)) AS s
      FROM c GROUP BY user_id HAVING SUM(n_i) >= 2
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           CAST(n_types AS BIGINT) AS n_types,
           CAST(1000000 * (n * (n - 1) - s) // (n * (n - 1)) AS BIGINT)
             AS diversity_ppm
    FROM u
    """,
)
def user_event_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_i")
    )
    u = (
        c.groupBy("user_id")
        .agg(
            F.sum("n_i").alias("n"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.col("n_i") * (F.col("n_i") - 1)).alias("s"),
        )
        .filter(F.col("n") >= 2)
    )
    # integral div, not floor(double /): the scaled numerator passes
    # 2^53 at large SFs and a double quotient would round differently
    return u.selectExpr(
        "user_id",
        "CAST(n AS BIGINT) AS n_events",
        "CAST(n_types AS BIGINT) AS n_types",
        "CAST((1000000 * (n * (n - 1) - s)) DIV (n * (n - 1)) AS BIGINT)"
        " AS diversity_ppm",
    )


# ---------------------------------------------------------------------------
# LINEAR multi-touch attribution: every non-purchase touch in a
# journey (the events since the user's previous purchase) shares the
# conversion credit equally. Exact integer apportionment — each touch
# gets floor(1e6 / n) ppm and the remainder goes to the EARLIEST
# touches (largest-remainder discipline, one ppm each), so per-type
# credit totals are exact BIGINTs that provably sum to
# 1e6 x attributed conversions. Shape: two user-keyed windows
# (journey id = running prior-purchase count; touch position within
# journey) + one journey-keyed join + one small per-type aggregation.
# ---------------------------------------------------------------------------
@query(
    "attribution_linear_touch",
    oracle="""
    WITH j AS (
      SELECT user_id, event_type, event_id, ts,
             COALESCE(SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS journey
      FROM events
    ),
    t AS (
      SELECT user_id, journey, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, journey
                                ORDER BY ts, event_id) AS pos,
             COUNT(*) OVER (PARTITION BY user_id, journey) AS n
      FROM j WHERE event_type <> 'purchase'
    ),
    conv AS (
      SELECT DISTINCT user_id, journey FROM j
      WHERE event_type = 'purchase'
    )
    SELECT t.event_type AS attributed_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(1000000 // n
                    + CASE WHEN pos <= 1000000 % n THEN 1 ELSE 0 END)
                AS BIGINT) AS credit_ppm
    FROM t JOIN conv USING (user_id, journey)
    GROUP BY t.event_type
    """,
)
def attribution_linear_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w_prior = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    j = ev.select(
        "user_id",
        "event_type",
        "event_id",
        "ts",
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(w_prior),
            F.lit(0),
        ).alias("journey"),
    )
    wj = Window.partitionBy("user_id", "journey").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id", "journey")
    t = (
        j.filter(F.col("event_type") != "purchase")
        .withColumn("pos", F.row_number().over(wj))
        .withColumn("n", F.count(F.lit(1)).over(wn))
    )
    conv = (
        j.filter(F.col("event_type") == "purchase")
        .select("user_id", "journey")
        .distinct()
    )
    credit = F.floor(F.lit(1000000) / F.col("n")).cast("long") + F.when(
        F.col("pos") <= F.lit(1000000) % F.col("n"), 1
    ).otherwise(0)
    return (
        t.join(conv, ["user_id", "journey"])
        .groupBy(F.col("event_type").alias("attributed_type"))
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum(credit).cast("long").alias("credit_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence mining: the most common 3-step event paths WITHIN a session
# (30-minute-gap sessionization). Trigrams come from two leads inside
# the session window — no self-joins, no explode of whole sequences —
# so the cost is two ordered window passes over the user-partitioned
# stream plus one trigram-keyed aggregation. Integer counts + full
# lexicographic tiebreak keep the top-10 engine-exact.
# ---------------------------------------------------------------------------
@query(
    "session_path_trigrams",
    oracle="""
    WITH gaps AS (
      SELECT user_id, event_id, event_type, ts,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, event_id, event_type, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS session_id
      FROM gaps
    ), grams AS (
      SELECT event_type AS step1,
             LEAD(event_type, 1) OVER sw AS step2,
             LEAD(event_type, 2) OVER sw AS step3
      FROM sess
      WINDOW sw AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
    )
    SELECT step1, step2, step3, CAST(COUNT(*) AS BIGINT) AS n
    FROM grams WHERE step3 IS NOT NULL
    GROUP BY step1, step2, step3
    ORDER BY n DESC, step1, step2, step3 LIMIT 10
    """,
)
def session_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = _epoch_us(F.col("ts")) - _epoch_us(F.lag("ts").over(w))
    new_session = F.when(
        gap_us.isNull() | (gap_us >= 1800 * 1000 * 1000), 1
    ).otherwise(0)
    sess = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )
    sw = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    grams = sess.select(
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(sw).alias("step2"),
        F.lead("event_type", 2).over(sw).alias("step3"),
    ).filter(F.col("step3").isNotNull())
    return (
        grams.groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "step1", "step2", "step3")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Exact directed containment join (llm/dedup.py:ngram_containment_pairs):
# ordered pairs where >= 80% of doc A's word-3-gram set appears in doc B
# — subset duplication (quotes, excerpts, embeddings of one doc inside
# another) that symmetric Jaccard under-scores when |B| >> |A|. The
# prefix-filtered join equals brute force (randomized pytest); the
# oracle IS the brute force, so the gate re-proves exactness per round.
# ---------------------------------------------------------------------------
@query(
    "near_dup_containment_pairs",
    oracle=f"""
    WITH {_DUCK_SHINGLE_INDEX_SQL.format(
        guard=chr(10) + '        WHERE len(ws) >= 3')},
    -- containment is DIRECTIONAL: emit both orientations of each
    -- canonical candidate (a pair with containment > 0 in either
    -- direction shares a shingle, so candidates stay complete)
    d AS (
        SELECT doc_a, doc_b, n_common FROM p
        UNION ALL
        SELECT doc_b, doc_a, n_common FROM p
    )
    SELECT d.doc_a, d.doc_b,
           CAST(d.n_common AS INT) AS n_common,
           CAST(len(sa.s) AS INT) AS n_a,
           CAST(d.n_common AS DOUBLE) / len(sa.s) AS containment
    FROM d JOIN sh sa ON sa.doc_id = d.doc_a
    WHERE CAST(d.n_common AS DOUBLE) / len(sa.s) >= 0.8
    """,
)
def near_dup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return llm_dedup.ngram_containment_pairs(docs, threshold=0.8)


# ---------------------------------------------------------------------------
# Gaps-and-islands: longest consecutive-day activity streak per user.
# The classic island key (epoch-day minus per-user row_number over
# distinct days) turns consecutive runs into constant keys, so the
# whole computation is one distinct, one ranked window pass, and two
# integer aggregations — no self-joins, no date generators. Everything
# is epoch-day integer arithmetic: exact in both engines at any scale.
# ---------------------------------------------------------------------------
@query(
    "user_daily_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
      FROM events
    ), isl AS (
      SELECT user_id, d,
             d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
               AS island
      FROM days
    ), st AS (
      SELECT user_id, island, COUNT(*) AS len
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(MAX(len) AS BIGINT) AS max_streak,
           CAST(SUM(len) AS BIGINT) AS n_active_days
    FROM st GROUP BY user_id
    """,
)
def user_daily_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.unix_date(F.to_date("ts")).cast("bigint").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id",
        "d",
        (F.col("d") - F.row_number().over(w)).alias("island"),
    )
    streaks = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("len").alias("max_streak"),
        F.sum("len").alias("n_active_days"),
    )


# ---------------------------------------------------------------------------
# Interval sweep-line: peak number of CONCURRENT sessions per day.
# Sessions (30-minute-gap sessionization) become +1/-1 boundary deltas;
# a running sum ordered by (instant, +1-before--1) is the concurrency
# curve and its per-day max is the answer. Sessions spanning midnight
# are clipped into each day they overlap (bounded explode), which is
# what makes the sweep PARTITIONABLE BY DAY — the 100-TB shape, instead
# of one global ordered pass. All µs-integer arithmetic; ties at the
# same instant are ordered +1 first (inclusive-end semantics), and
# equal-key permutations cannot change the prefix-sum maximum.
# ---------------------------------------------------------------------------
@query(
    "peak_concurrent_sessions",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS ns
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, epoch_us(ts) AS us,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    ), sess AS (
      SELECT user_id, sid, MIN(us) AS s_us, MAX(us) AS e_us
      FROM s GROUP BY user_id, sid
    ), spans AS (
      SELECT s_us, e_us,
             UNNEST(range(s_us // 86400000000,
                          e_us // 86400000000 + 1)) AS d
      FROM sess
    ), deltas AS (
      SELECT d, GREATEST(s_us, d * 86400000000) AS t, 1 AS delta
      FROM spans
      UNION ALL
      SELECT d, LEAST(e_us, (d + 1) * 86400000000 - 1) + 1 AS t,
             -1 AS delta
      FROM spans
    ), run AS (
      SELECT d, SUM(delta) OVER (PARTITION BY d ORDER BY t, delta DESC
                                 ROWS UNBOUNDED PRECEDING) AS c
      FROM deltas
    )
    SELECT DATE '1970-01-01' + CAST(d AS INT) AS day,
           CAST(MAX(c) AS BIGINT) AS peak_concurrency
    FROM run GROUP BY d
    """,
)
def peak_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = _epoch_us(F.col("ts")) - _epoch_us(F.lag("ts").over(w))
    new_session = F.when(
        gap_us.isNull() | (gap_us >= 1800 * 1000 * 1000), 1
    ).otherwise(0)
    sess = (
        ev.select(
            "user_id",
            _epoch_us(F.col("ts")).alias("us"),
            F.sum(new_session)
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("sid"),
        )
        .groupBy("user_id", "sid")
        .agg(F.min("us").alias("s_us"), F.max("us").alias("e_us"))
    )
    day_us = F.lit(86400 * 1000 * 1000).cast("bigint")
    spans = sess.select(
        "s_us",
        "e_us",
        F.explode(
            F.sequence(
                (F.col("s_us") / day_us).cast("bigint"),
                (F.col("e_us") / day_us).cast("bigint"),
            )
        ).alias("d"),
    )
    starts = spans.select(
        "d",
        F.greatest("s_us", F.col("d") * day_us).alias("t"),
        F.lit(1).alias("delta"),
    )
    ends = spans.select(
        "d",
        (F.least("e_us", (F.col("d") + 1) * day_us - 1) + 1).alias("t"),
        F.lit(-1).alias("delta"),
    )
    deltas = starts.unionByName(ends)
    wd = (
        Window.partitionBy("d")
        .orderBy(F.col("t"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = deltas.select("d", F.sum("delta").over(wd).alias("c"))
    return run.groupBy("d").agg(
        F.max("c").alias("peak_concurrency")
    ).select(
        F.date_from_unix_date(F.col("d").cast("int")).alias("day"),
        "peak_concurrency",
    )


# ---------------------------------------------------------------------------
# Market-basket co-occurrence: the 20 brand pairs most often bought in
# the same order. The distinct (order, brand) projection bounds the
# per-order fan-out by brand cardinality (schema-bounded ~25), so the
# self-join on l_orderkey expands at most C(25,2) pairs per order —
# never the raw line-item square. One shuffle on orderkey, one pair
# aggregation, full lexicographic tiebreak on the top-k.
# ---------------------------------------------------------------------------
@query(
    "basket_brand_pairs",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l_orderkey, p_brand AS brand
      FROM lineitem JOIN part ON l_partkey = p_partkey
    )
    SELECT a.brand AS brand_a, b.brand AS brand_b,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM ob a JOIN ob b
      ON a.l_orderkey = b.l_orderkey AND a.brand < b.brand
    GROUP BY a.brand, b.brand
    ORDER BY n_orders DESC, brand_a, brand_b
    LIMIT 20
    """,
)
def basket_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select("l_orderkey", F.col("p_brand").alias("brand"))
        .distinct()
    )
    a, b = ob.alias("a"), ob.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.brand") < F.col("b.brand")),
    )
    return (
        pairs.groupBy(
            F.col("a.brand").alias("brand_a"),
            F.col("b.brand").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "brand_a", "brand_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Blocked fuzzy join: edit-distance part-name pairs inside noun blocks.
# Blocking on the name's last word (the noun) turns the quadratic
# levenshtein join into per-block squares — the standard entity-
# resolution shape (block, compare within block, aggregate). Both
# engines implement unit-cost Levenshtein identically, and the output
# aggregates per block, so no pair-level tiebreak is needed.
# ---------------------------------------------------------------------------
@query(
    "part_name_fuzzy_pairs",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_name,
             list_extract(string_split(p_name, ' '),
                          len(string_split(p_name, ' '))) AS noun
      FROM part
    )
    SELECT a.noun AS noun,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN levenshtein(a.p_name, b.p_name) <= 3
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_close_pairs,
           CAST(MIN(levenshtein(a.p_name, b.p_name)) AS INT) AS min_dist
    FROM p a JOIN p b
      ON a.noun = b.noun AND a.p_partkey < b.p_partkey
    GROUP BY a.noun
    """,
)
def part_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.element_at(F.split("p_name", " "), -1).alias("noun"),
    )
    a, b = pt.alias("a"), pt.alias("b")
    lev = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    pairs = a.join(
        b,
        (F.col("a.noun") == F.col("b.noun"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    )
    return pairs.groupBy(F.col("a.noun").alias("noun")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(lev <= 3, 1).otherwise(0)).alias("n_close_pairs"),
        F.min(lev).cast("int").alias("min_dist"),
    )


# ---------------------------------------------------------------------------
# Iterative graph algorithm: PageRank over the event-type transition
# graph, four synchronous iterations in FIXED-POINT integer arithmetic
# (ranks scaled by 10^12, every step a bigint multiply + truncating
# div) so both engines produce bit-identical ranks with no float-
# summation-order hazard — the same discipline the exact-moments
# queries use, applied to an iterative algorithm. The graph is
# schema-bounded (event-type vocabulary squared), so edges/nodes are
# persisted once and each iteration is a tiny broadcast join; the same
# loop shape scales to big graphs as shuffle joins on (src) with the
# rank vector, which is exactly how large-scale PageRank is run.
# Dangling mass evaporates (rank renormalizes toward the base term),
# identically in both engines. Integer-overflow bound: rank*cnt <
# 10^12 * edge_count must stay under 2^63 — at larger scale the edge
# counts would be pre-normalized to per-src ratios on a coarser grid.
# ---------------------------------------------------------------------------
@query(
    "event_type_pagerank",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), edges AS (
      SELECT event_type AS src, nxt AS dst, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ), deg AS (
      SELECT src, CAST(SUM(cnt) AS BIGINT) AS tot FROM edges GROUP BY src
    ), e AS (
      SELECT edges.src, edges.dst, edges.cnt, deg.tot
      FROM edges JOIN deg USING (src)
    ), nodes AS (
      SELECT DISTINCT event_type AS node FROM events
    ), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    r0 AS (
      SELECT node, 1000000000000 // n AS r FROM nodes CROSS JOIN nn
    ),
    r1 AS (
      SELECT nd.node,
             (15 * (1000000000000 // x.n)) // 100
             + (85 * COALESCE(c.s, 0)) // 100 AS r
      FROM nodes nd CROSS JOIN nn x
      LEFT JOIN (SELECT e.dst AS node, SUM((r.r * e.cnt) // e.tot) AS s
                 FROM e JOIN r0 r ON r.node = e.src GROUP BY e.dst) c
        ON c.node = nd.node
    ),
    r2 AS (
      SELECT nd.node,
             (15 * (1000000000000 // x.n)) // 100
             + (85 * COALESCE(c.s, 0)) // 100 AS r
      FROM nodes nd CROSS JOIN nn x
      LEFT JOIN (SELECT e.dst AS node, SUM((r.r * e.cnt) // e.tot) AS s
                 FROM e JOIN r1 r ON r.node = e.src GROUP BY e.dst) c
        ON c.node = nd.node
    ),
    r3 AS (
      SELECT nd.node,
             (15 * (1000000000000 // x.n)) // 100
             + (85 * COALESCE(c.s, 0)) // 100 AS r
      FROM nodes nd CROSS JOIN nn x
      LEFT JOIN (SELECT e.dst AS node, SUM((r.r * e.cnt) // e.tot) AS s
                 FROM e JOIN r2 r ON r.node = e.src GROUP BY e.dst) c
        ON c.node = nd.node
    ),
    r4 AS (
      SELECT nd.node,
             (15 * (1000000000000 // x.n)) // 100
             + (85 * COALESCE(c.s, 0)) // 100 AS r
      FROM nodes nd CROSS JOIN nn x
      LEFT JOIN (SELECT e.dst AS node, SUM((r.r * e.cnt) // e.tot) AS s
                 FROM e JOIN r3 r ON r.node = e.src GROUP BY e.dst) c
        ON c.node = nd.node
    )
    SELECT node AS event_type,
           CAST(r AS BIGINT) AS rank_scaled,
           CAST(r AS DOUBLE) / 1e12 AS rank
    FROM r4
    """,
)
def event_type_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    edges = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt"))
    deg = edges.groupBy("src").agg(F.sum("cnt").alias("tot"))
    # Schema-bounded (event-type vocabulary squared): eagerly truncate
    # lineage so the four iteration joins reference one materialized
    # table instead of re-expanding the base scan + window per
    # iteration — the same discipline connected_components uses.
    e = edges.join(deg, "src").localCheckpoint(eager=True)
    nodes = (
        ev.select(F.col("event_type").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    base = F.expr("1000000000000 div n")
    rank = nodes.crossJoin(F.broadcast(nn)).select(
        "node", base.alias("r")
    )
    for _ in range(4):
        contrib = (
            e.join(rank.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr("(r * cnt) div tot").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        rank = (
            nodes.crossJoin(F.broadcast(nn))
            .join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                F.expr(
                    "(15 * (1000000000000 div n)) div 100"
                    " + (85 * coalesce(s, 0)) div 100"
                ).alias("r"),
            )
        )
    return rank.select(
        F.col("node").alias("event_type"),
        F.col("r").alias("rank_scaled"),
        (F.col("r").cast("double") / F.lit(1e12)).alias("rank"),
    )


# ---------------------------------------------------------------------------
# Sliding distinct count: users active in the trailing 3 hours, per
# hour bucket. COUNT(DISTINCT) over a sliding window can't be computed
# from per-bucket partials (distinct doesn't sum), and a range self-
# join re-reads the fact table per bucket; instead each distinct
# (user, hour) pair is EXPLODED into the <=3 target buckets it
# influences — a bounded fan-out linear in the window/slide ratio —
# then deduplicated and counted. That is the standard scale shape for
# sliding distinct aggregation. Buckets are restricted to hours that
# actually occur (semi-join with the observed-hour set).
# ---------------------------------------------------------------------------
@query(
    "sliding_distinct_users_3h",
    oracle="""
    WITH uh AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 3600000000 AS h
      FROM events
    ), hours AS (SELECT DISTINCT h FROM uh)
    SELECT hours.h AS hour_bucket,
           CAST(COUNT(DISTINCT uh.user_id) AS BIGINT) AS n_users
    FROM hours JOIN uh ON uh.h BETWEEN hours.h - 2 AND hours.h
    GROUP BY hours.h
    """,
)
def sliding_distinct_users_3h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    uh = (
        ev.select("user_id", _epoch_us(F.col("ts")).alias("us"))
        .selectExpr("user_id", "us div 3600000000 as h")
        .distinct()
    )
    hours = uh.select("h").distinct()
    targets = uh.select(
        "user_id",
        F.explode(F.sequence(F.col("h"), F.col("h") + 2)).alias("h"),
    ).distinct()
    return (
        targets.join(hours, "h", "left_semi")
        .groupBy(F.col("h").alias("hour_bucket"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# ---------------------------------------------------------------------------
# Unigram-LM commonness scoring (llm/text.py:commonness_score): each
# document's mean corpus frequency per token — the determinism-safe
# perplexity stand-in for boilerplate/noise triage. All aggregates are
# exact BIGINTs; the score is two IEEE double ops on identical
# operands, so it hashes bit-identically.
# ---------------------------------------------------------------------------
@query(
    "doc_commonness_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), lm AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY term
    ), tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM lm
    ), pd AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(cnt) AS BIGINT) AS sum_freq
      FROM toks JOIN lm USING (term) GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, sum_freq,
           CAST(sum_freq AS DOUBLE)
           / (CAST(n_tokens AS DOUBLE) * CAST(total AS DOUBLE))
             AS commonness
    FROM pd CROSS JOIN tot
    """,
)
def doc_commonness_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return llm_text.commonness_score(
        load_table(spark, sf_dir, "documents")
    )


# ---------------------------------------------------------------------------
# Collocation / phrase mining (llm/text.py:pmi_collocations —
# word2phrase, Mikolov et al. 2013): adjacent token pairs whose
# co-occurrence beats independence by the discounted cross-multiplied
# margin (n_ab - 5) * N > n_a * n_b. The score compare is pure
# DECIMAL/INT128 integer arithmetic — no log, no float — so the
# selected set hashes bit-identically; top-50 under the total order
# (n_ab desc, a, b) keeps the result bounded at any corpus size
# (TakeOrderedAndProject, never a global sort).
# ---------------------------------------------------------------------------
@query(
    "pmi_collocations_top",
    oracle="""
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    pr AS (
      SELECT t[i] AS a, t[i+1] AS b
      FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
      WHERE t[i] <> '' AND t[i+1] <> ''
    ),
    big AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_ab
            FROM pr GROUP BY a, b),
    uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w
            FROM (SELECT UNNEST(string_split(text, ' ')) AS w
                  FROM documents)
            WHERE w <> '' GROUP BY w),
    tot AS (SELECT SUM(n_w) AS n FROM uni)
    SELECT a, b, n_ab, ua.n_w AS n_a, ub.n_w AS n_b
    FROM big
    JOIN uni ua ON ua.w = a
    JOIN uni ub ON ub.w = b
    CROSS JOIN tot
    WHERE n_ab >= 5 AND (n_ab - 5) * n > ua.n_w * ub.n_w
    ORDER BY n_ab DESC, a, b LIMIT 50
    """,
)
def pmi_collocations_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = llm_text.pmi_collocations(
        load_table(spark, sf_dir, "documents"),
        min_count=5,
        discount=5,
        threshold_num=1,
        threshold_den=1,
    )
    return out.orderBy(F.col("n_ab").desc(), "a", "b").limit(50)


# ---------------------------------------------------------------------------
# Entity resolution end-to-end: canonicalize, fuzzy-match, cluster.
# The match graph is built over DISTINCT names (each represented by
# the minimum p_partkey carrying it) — never over base rows: value
# cardinality, not table size, bounds the quadratic stage, which is
# what keeps blocked fuzzy joins viable at 100 TB. Edges are
# distinct-name pairs within Levenshtein distance 2 inside a noun
# block; transitive closure over them reuses
# llm/dedup.py:connected_components_star (the document-dedup CC);
# parts then join back to their name's cluster. The DuckDB twin closes
# the graph with a recursive CTE, cross-checking the loop's fixpoint
# rather than mirroring its plan.
# ---------------------------------------------------------------------------
@query(
    "part_name_match_clusters",
    oracle="""
    WITH RECURSIVE
    names AS (
      SELECT p_name, MIN(p_partkey) AS name_id,
             list_extract(string_split(p_name, ' '),
                          len(string_split(p_name, ' '))) AS noun
      FROM part GROUP BY p_name
    ),
    m AS (
      SELECT a.name_id AS src, b.name_id AS dst
      FROM names a JOIN names b
        ON a.noun = b.noun AND a.name_id < b.name_id
      WHERE levenshtein(a.p_name, b.p_name) <= 2
    ),
    e AS (SELECT src, dst FROM m UNION ALL SELECT dst, src FROM m),
    nodes AS (SELECT DISTINCT src AS node FROM e),
    reach(node, lbl) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.node
    ),
    cl AS (SELECT node AS name_id, MIN(lbl) AS cluster_id
           FROM reach GROUP BY node)
    SELECT part.p_partkey, part.p_name, cl.cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cl.cluster_id) AS BIGINT)
             AS cluster_size
    FROM part
    JOIN names ON names.p_name = part.p_name
    JOIN cl ON cl.name_id = names.name_id
    """,
)
def part_name_match_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    names = (
        pt.groupBy("p_name")
        .agg(F.min("p_partkey").alias("name_id"))
        .withColumn(
            "noun", F.element_at(F.split("p_name", " "), -1)
        )
    )
    a, b = names.alias("a"), names.alias("b")
    edges = a.join(
        b,
        (F.col("a.noun") == F.col("b.noun"))
        & (F.col("a.name_id") < F.col("b.name_id"))
        & (F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= 2),
    ).select(
        F.col("a.name_id").alias("doc_a"),
        F.col("b.name_id").alias("doc_b"),
    )
    cc = llm_dedup.connected_components_star(edges)
    w = Window.partitionBy("cluster_id")
    return (
        pt.join(names.select("p_name", "name_id"), "p_name")
        .join(
            cc.withColumnRenamed("node", "name_id"), "name_id"
        )
        .select(
            "p_partkey",
            "p_name",
            "cluster_id",
            F.count(F.lit(1)).over(w).alias("cluster_size"),
        )
    )


# ---------------------------------------------------------------------------
# Mode + discrete percentile with pinned tie semantics. Spark and
# DuckDB both ship mode()/percentile_disc(), but their tie-breaking
# is implementation-defined — so the registry derives both from
# explicit ranked windows (mode = highest count, lexicographically
# smallest value; lower median = the value at rank (n+1) div 2 of the
# (value, orderkey) order), making the result engine-exact BY
# CONSTRUCTION. The modal scan is one count aggregation + a
# window-group-limit; the median picks one ranked row per group.
# ---------------------------------------------------------------------------
@query(
    "order_priority_mode_stats",
    oracle="""
    WITH pc AS (
      SELECT o_orderstatus, o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ), md AS (
      SELECT o_orderstatus, o_orderpriority AS modal_priority, n,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY n DESC, o_orderpriority) AS rk
      FROM pc
    ), ranked AS (
      SELECT o_orderstatus, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderstatus) AS cnt
      FROM orders
    ), med AS (
      SELECT o_orderstatus, o_totalprice AS median_price
      FROM ranked WHERE rn = (cnt + 1) // 2
    )
    SELECT md.o_orderstatus, md.modal_priority,
           md.n AS mode_count, med.median_price
    FROM md JOIN med USING (o_orderstatus) WHERE md.rk = 1
    """,
)
def order_priority_mode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    pc = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    wm = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), "o_orderpriority"
    )
    md = (
        pc.withColumn("rk", F.row_number().over(wm))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("modal_priority"),
            F.col("n").alias("mode_count"),
        )
    )
    wr = Window.partitionBy("o_orderstatus").orderBy(
        "o_totalprice", "o_orderkey"
    )
    ranked = o.select(
        "o_orderstatus",
        "o_totalprice",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("o_orderstatus"))
        .alias("cnt"),
    )
    med = ranked.filter(
        F.col("rn") == F.expr("(cnt + 1) div 2")
    ).select("o_orderstatus", F.col("o_totalprice").alias("median_price"))
    return md.join(med, "o_orderstatus")


# ---------------------------------------------------------------------------
# Contingency-table independence test: per-cell chi-square
# contributions for returnflag x linestatus. Observed counts, row and
# column margins, and N are exact BIGINTs; expected = row*col/N and
# contribution = (obs-expected)^2/expected are the identical short
# IEEE op sequence in both engines, so even the float columns hash
# bit-for-bit. Cross-cell summation (whose order would differ between
# engines) is deliberately left to the reader — the per-cell form is
# also the more useful diagnostic (which cells drive dependence).
# ---------------------------------------------------------------------------
@query(
    "returnflag_linestatus_chisq_cells",
    oracle="""
    WITH obs AS (
      SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS o
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    ), rt AS (
      SELECT l_returnflag, CAST(SUM(o) AS BIGINT) AS row_n
      FROM obs GROUP BY l_returnflag
    ), ct AS (
      SELECT l_linestatus, CAST(SUM(o) AS BIGINT) AS col_n
      FROM obs GROUP BY l_linestatus
    ), tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs)
    SELECT obs.l_returnflag, obs.l_linestatus, obs.o AS observed,
           CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
             / CAST(n AS DOUBLE) AS expected,
           (CAST(o AS DOUBLE)
            - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
              / CAST(n AS DOUBLE))
           * (CAST(o AS DOUBLE)
              - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
                / CAST(n AS DOUBLE))
           / (CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
              / CAST(n AS DOUBLE)) AS contribution
    FROM obs
    JOIN rt USING (l_returnflag)
    JOIN ct USING (l_linestatus)
    CROSS JOIN tot
    """,
)
def returnflag_linestatus_chisq_cells(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    obs = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("o")
    )
    # Margins as windows over the CELL table (bounded: flags x
    # statuses rows), not re-aggregation joins — one scan, no
    # self-joins; the empty-partition window is fine because its input
    # is the bounded cell table, never the base data.
    margins = obs.select(
        "l_returnflag",
        "l_linestatus",
        "o",
        F.sum("o")
        .over(Window.partitionBy("l_returnflag"))
        .alias("row_n"),
        F.sum("o")
        .over(Window.partitionBy("l_linestatus"))
        .alias("col_n"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    od = F.col("o").cast("double")
    expected = (
        F.col("row_n").cast("double")
        * F.col("col_n").cast("double")
        / F.col("n").cast("double")
    )
    return margins.select(
        "l_returnflag",
        "l_linestatus",
        F.col("o").alias("observed"),
        expected.alias("expected"),
        ((od - expected) * (od - expected) / expected).alias(
            "contribution"
        ),
    )


# ---------------------------------------------------------------------------
# Concentration / inequality metric: per-nation Gini coefficient of
# order values, from the ranked closed form
# G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)). Ranks come from a
# window PARTITIONED BY NATION (bounded groups — never the global-sort
# ntile trap); rank*value products and both sums stay exact in
# DECIMAL, and the closed form runs in double on bit-identical
# operands via the floor-split cast.
# ---------------------------------------------------------------------------
@query(
    "nation_order_gini",
    oracle=f"""
    WITH r AS (
      SELECT n_name,
             CAST(o_totalprice AS DECIMAL(12,2)) AS x,
             ROW_NUMBER() OVER (PARTITION BY n_name
                                ORDER BY CAST(o_totalprice AS DECIMAL(12,2)),
                                         o_orderkey) AS rn
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    ), m AS (
      SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(rn * x) AS s1, SUM(x) AS s0
      FROM r GROUP BY n_name
    )
    SELECT n_name, n,
           (2e0 * {_duck_dec_double("s1")}
            - (CAST(n AS DOUBLE) + 1e0) * {_duck_dec_double("s0")})
           / (CAST(n AS DOUBLE) * {_duck_dec_double("s0")}) AS gini
    FROM m
    """,
)
def nation_order_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    x = _dec("o_totalprice")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("n_name", x.alias("x"), "o_orderkey")
    )
    w = Window.partitionBy("n_name").orderBy("x", "o_orderkey")
    r = joined.select(
        "n_name", "x", F.row_number().over(w).alias("rn")
    )
    m = r.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rn") * F.col("x")).alias("s1"),
        F.sum("x").alias("s0"),
    )
    nd = F.col("n").cast("double")
    s1d, s0d = _dec_double(F.col("s1")), _dec_double(F.col("s0"))
    return m.select(
        "n_name",
        "n",
        (
            (F.lit(2.0) * s1d - (nd + F.lit(1.0)) * s0d)
            / (nd * s0d)
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Exact mergeable distinct counting: Spark's bitmap aggregate family
# (bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg /
# bitmap_count) — the EXACT counterpart of the HLL sketch lane. The
# two-level shape is the scale story: per-(group, bucket) bitmaps
# build with map-side combine and are re-aggregatable (OR-mergeable
# across partitions, days, or rollup levels); the final count is a sum
# of per-bucket popcounts. The oracle pins the whole pipeline to plain
# COUNT(DISTINCT) — an exactness theorem, not a tolerance contract.
# ---------------------------------------------------------------------------
@query(
    "bitmap_distinct_suppliers_by_brand",
    oracle="""
    SELECT p_brand AS brand,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def bitmap_distinct_suppliers_by_brand(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(pt, li.l_partkey == pt.p_partkey).select(
        F.col("p_brand").alias("brand"), "l_suppkey"
    )
    per_bucket = j.groupBy(
        "brand",
        F.expr("bitmap_bucket_number(l_suppkey)").alias("bucket"),
    ).agg(
        F.expr(
            "bitmap_construct_agg(bitmap_bit_position(l_suppkey))"
        ).alias("bm")
    )
    return per_bucket.groupBy("brand").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_suppliers")
    )


# ---------------------------------------------------------------------------
# Graph motif counting: triangles in the brand-affinity graph. Edges
# are the 30 strongest co-purchase pairs (deterministic top-k with
# full tiebreak); triangles come from the classic ordered three-way
# self-join (a<b<c, so each triangle counts once). On a bounded node
# set the joins broadcast; on a real graph the same ordered-join plan
# shuffles on the shared endpoint and degree-orders the edges first —
# the standard distributed triangle enumeration.
# ---------------------------------------------------------------------------
@query(
    "brand_affinity_triangles",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l_orderkey, p_brand AS brand
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ), pairs AS (
      SELECT a.brand AS ba, b.brand AS bb, CAST(COUNT(*) AS BIGINT) AS n
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.brand < b.brand
      GROUP BY a.brand, b.brand
    ), e AS (
      SELECT ba, bb FROM pairs
      ORDER BY n DESC, ba, bb LIMIT 30
    )
    SELECT e1.ba AS brand_a, e1.bb AS brand_b, e2.bb AS brand_c
    FROM e e1
    JOIN e e2 ON e2.ba = e1.bb
    JOIN e e3 ON e3.ba = e1.ba AND e3.bb = e2.bb
    """,
)
def brand_affinity_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select("l_orderkey", F.col("p_brand").alias("brand"))
        .distinct()
    )
    a, b = ob.alias("a"), ob.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("ba"), F.col("b.brand").alias("bb")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    e = (
        pairs.orderBy(F.col("n").desc(), "ba", "bb")
        .limit(30)
        .select("ba", "bb")
        .localCheckpoint(eager=True)  # bounded: top-k edge list
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    return (
        e1.join(e2, F.col("e2.ba") == F.col("e1.bb"))
        .join(
            e3,
            (F.col("e3.ba") == F.col("e1.ba"))
            & (F.col("e3.bb") == F.col("e2.bb")),
        )
        .select(
            F.col("e1.ba").alias("brand_a"),
            F.col("e1.bb").alias("brand_b"),
            F.col("e2.bb").alias("brand_c"),
        )
    )


# ---------------------------------------------------------------------------
# Heavy-hitter sketch with an exactness contract: approx_top_k tracks
# maxItemsTracked candidate counters (Misra-Gries/SpaceSaving family);
# when the tracked-slot budget meets or exceeds the column's true
# cardinality the sketch degenerates to EXACT counts — the same
# "approximate operator, pinned contract" pattern as the HLL and
# approx_percentile lanes. The query re-sorts the sketch output with a
# full deterministic tiebreak and the oracle recomputes top-3 event
# types exactly; matching hashes prove the exactness contract held.
# ---------------------------------------------------------------------------
@query(
    "approx_topk_event_types_contract",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    ORDER BY n DESC, event_type LIMIT 3
    """,
)
def approx_topk_event_types_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sketch = ev.select("event_type").agg(
        F.expr("approx_top_k(event_type, 3, 10000)").alias("tk")
    )
    return (
        sketch.select(F.explode("tk").alias("s"))
        .select(
            F.col("s.item").alias("event_type"),
            F.col("s.count").alias("n"),
        )
        .orderBy(F.col("n").desc(), "event_type")
    )


# ---------------------------------------------------------------------------
# Ranking-window API coverage with deterministic semantics:
# percent_rank ((rank-1)/(n-1)), cume_dist (rows<=current / n), and
# ntile(4) under a fully tie-broken order, aggregated per (status,
# quartile). Both engines define these identically, and the values are
# integer-ratio doubles — bit-stable. NOTE: a per-group ranking window
# sorts each group on one task; o_orderstatus is bounded (3 values),
# so this is an API-coverage query — for unbounded/heavy groups the
# scale-safe pattern is broadcast percentile boundaries
# (spend_decile_profile), not a ranking window.
# ---------------------------------------------------------------------------
@query(
    "order_rank_distribution",
    oracle="""
    WITH r AS (
      SELECT o_orderstatus,
             PERCENT_RANK() OVER w AS pr,
             CUME_DIST() OVER w AS cd,
             NTILE(4) OVER w AS quartile
      FROM orders
      WINDOW w AS (PARTITION BY o_orderstatus
                   ORDER BY o_totalprice, o_orderkey)
    )
    SELECT o_orderstatus, CAST(quartile AS INT) AS quartile,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(pr) AS min_percent_rank,
           MAX(cd) AS max_cume_dist
    FROM r GROUP BY o_orderstatus, quartile
    """,
)
def order_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        "o_totalprice", "o_orderkey"
    )
    r = o.select(
        "o_orderstatus",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.ntile(4).over(w).alias("quartile"),
    )
    return r.groupBy("o_orderstatus", "quartile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("pr").alias("min_percent_rank"),
        F.max("cd").alias("max_cume_dist"),
    )


# ---------------------------------------------------------------------------
# Ordered string aggregation (listagg / string_agg): the distinct
# priorities per status concatenated in sorted order. The DISTINCT
# reduction happens first, so the aggregated string is bounded by
# value cardinality, and WITHIN GROUP (ORDER BY ...) pins the element
# order — the one thing that makes cross-engine string aggregation
# deterministic.
# ---------------------------------------------------------------------------
@query(
    "priority_listagg_by_status",
    oracle="""
    WITH d AS (
      SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    )
    SELECT o_orderstatus,
           string_agg(o_orderpriority, ','
                      ORDER BY o_orderpriority) AS priorities,
           CAST(COUNT(*) AS BIGINT) AS n_priorities
    FROM d GROUP BY o_orderstatus
    """,
)
def priority_listagg_by_status(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = o.select("o_orderstatus", "o_orderpriority").distinct()
    return d.groupBy("o_orderstatus").agg(
        F.expr(
            "listagg(o_orderpriority, ',') "
            "within group (order by o_orderpriority)"
        ).alias("priorities"),
        F.count(F.lit(1)).alias("n_priorities"),
    )


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS (beyond rollup/cube): the two one-dimension
# marginals plus the grand total in ONE pass — the shape reporting
# layers ask for when the full cube is wasteful. grouping_id
# disambiguates which set each row belongs to; measures aggregate in
# exact decimal.
# ---------------------------------------------------------------------------
@query(
    "grouping_sets_flag_status",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n,
           {_duck_dec_double("SUM(CAST(l_quantity AS DECIMAL(12,2)))")}
             AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_flag_status(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n"),
        _dec_double(F.sum(_dec("l_quantity"))).alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# Change-point detection: CUSUM over the daily revenue series. The
# classic statistic max_i |prefix_i - (i/n)*S| is rescaled by n to
# stay EXACT: stat_i = n*prefix_i - i*S involves only integer*decimal
# products and decimal sums, so the argmax day is engine-exact with no
# float threshold ambiguity; the statistic leaves through the
# floor-split cast. Shape: one (day) partial-agg shuffle, then ordered
# windows over the PRE-AGGREGATED day series — bounded rows per year,
# which is what makes the unpartitioned window safe here (the same
# bounded-series argument as ratio-to-report).
# ---------------------------------------------------------------------------
@query(
    "cusum_revenue_changepoint",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6))
               AS rev
      FROM events GROUP BY CAST(ts AS DATE)
    ), cur AS (
      SELECT day, rev,
             ROW_NUMBER() OVER (ORDER BY day) AS i,
             SUM(rev) OVER (ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS prefix,
             COUNT(*) OVER () AS n,
             SUM(rev) OVER () AS total
      FROM daily
    ), stat AS (
      SELECT day, i, n,
             n * prefix - i * total AS s
      FROM cur
    )
    SELECT day, CAST(i AS BIGINT) AS i, CAST(n AS BIGINT) AS n,
           {_duck_dec_double("s")} AS cusum_scaled
    FROM stat
    ORDER BY ABS(s) DESC, day LIMIT 1
    """,
)
def cusum_revenue_changepoint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("decimal(18,6)")
        .alias("rev")
    )
    w_ord = Window.orderBy("day")
    w_all = Window.partitionBy()
    cur = daily.select(
        "day",
        "rev",
        F.row_number().over(w_ord).alias("i"),
        F.sum("rev")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        .alias("prefix"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("rev").over(w_all).alias("total"),
    )
    stat = cur.select(
        "day",
        "i",
        "n",
        (
            F.col("n") * F.col("prefix") - F.col("i") * F.col("total")
        ).alias("s"),
    )
    return (
        stat.orderBy(F.abs(F.col("s")).desc(), "day")
        .limit(1)
        .select(
            "day",
            F.col("i").cast("bigint").alias("i"),
            F.col("n").cast("bigint").alias("n"),
            _dec_double(F.col("s")).alias("cusum_scaled"),
        )
    )


# ---------------------------------------------------------------------------
# Hypothesis testing: two-proportion z-test on a hash-assigned A/B
# split. Variant = user_id parity (the deterministic assignment a real
# experiment derives from a user-id hash); exposure = any view;
# conversion = a purchase within ONE HOUR after the user's first view
# (the bounded attribution window that keeps the rate non-degenerate).
# All counts are exact BIGINTs; the z statistic is one fixed sequence
# of IEEE ops (divides, multiplies, one correctly-rounded sqrt),
# spelled identically in both engines, so even the float hashes match.
# Degenerate pools (zero or all conversions, or an empty variant)
# yield NULL z under the same CASE guard in both engines.
# ---------------------------------------------------------------------------
@query(
    "ab_test_conversion_zscore",
    oracle="""
    WITH exposed AS (
      SELECT user_id, user_id % 2 AS variant,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view
      FROM events GROUP BY user_id
    ), conv AS (
      SELECT e.user_id, e.variant,
             MAX(CASE WHEN ev.event_type = 'purchase'
                      AND ev.ts > e.first_view
                      AND epoch_us(ev.ts) - epoch_us(e.first_view)
                          <= 3600000000
                      THEN 1 ELSE 0 END) AS converted
      FROM exposed e JOIN events ev ON ev.user_id = e.user_id
      WHERE e.first_view IS NOT NULL
      GROUP BY e.user_id, e.variant
    ), agg AS (
      SELECT
        CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        CAST(SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END)
             AS BIGINT) AS c0,
        CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END)
             AS BIGINT) AS c1
      FROM conv
    )
    SELECT n0, c0, n1, c1,
           CASE WHEN n0 = 0 OR n1 = 0 OR c0 + c1 = 0
                     OR c0 + c1 = n0 + n1 THEN NULL
           ELSE
           (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)
            - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
           / sqrt(
               (CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
               * (1e0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
               * (1e0 / CAST(n0 AS DOUBLE) + 1e0 / CAST(n1 AS DOUBLE))
             )
           END AS z
    FROM agg
    """,
)
def ab_test_conversion_zscore(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    exposed = ev.groupBy(
        "user_id", (F.col("user_id") % 2).alias("variant")
    ).agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).alias("first_view")
    )
    win_us = _epoch_us(F.col("ts")) - _epoch_us(F.col("first_view"))
    conv = (
        exposed.filter(F.col("first_view").isNotNull())
        .join(ev, "user_id")
        .groupBy("user_id", "variant")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("first_view"))
                    & (win_us <= 3600 * 1000 * 1000),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
    )
    agg = conv.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(
            F.when(F.col("variant") == 0, F.col("converted")).otherwise(0)
        ).alias("c0"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(
            F.when(F.col("variant") == 1, F.col("converted")).otherwise(0)
        ).alias("c1"),
    )
    n0d, n1d = F.col("n0").cast("double"), F.col("n1").cast("double")
    c0d, c1d = F.col("c0").cast("double"), F.col("c1").cast("double")
    pool = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1")
    ).cast("double")
    z_core = (c0d / n0d - c1d / n1d) / F.sqrt(
        pool * (F.lit(1.0) - pool) * (F.lit(1.0) / n0d + F.lit(1.0) / n1d)
    )
    degenerate = (
        (F.col("n0") == 0)
        | (F.col("n1") == 0)
        | (F.col("c0") + F.col("c1") == 0)
        | (F.col("c0") + F.col("c1") == F.col("n0") + F.col("n1"))
    )
    z = F.when(degenerate, F.lit(None).cast("double")).otherwise(z_core)
    return agg.select("n0", "c0", "n1", "c1", z.alias("z"))


# ---------------------------------------------------------------------------
# Time-series similarity search: for each of the 10 most active users,
# the most similar OTHER user by cosine over hour-of-day activity
# profiles (24-dim integer vectors). The probe side is bounded (top-k
# by an exact count with full tiebreak) while the corpus side streams,
# so the comparison stage is O(k * users), never quadratic — the same
# probe/corpus asymmetry the embedding ANN lanes use. Profiles stay as
# sparse (user, hour, n) rows; dot products are integer sums over an
# hour equi-join, and cosine = dot / (sqrt(a)*sqrt(b)) runs the same
# exact-int -> correctly-rounded-IEEE sequence in both engines.
# ---------------------------------------------------------------------------
@query(
    "user_activity_similarity_topk",
    oracle="""
    WITH prof AS (
      SELECT user_id, CAST(hour(ts) AS INT) AS h,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id, hour(ts)
    ), norms AS (
      SELECT user_id, CAST(SUM(n * n) AS BIGINT) AS nrm,
             CAST(SUM(n) AS BIGINT) AS total
      FROM prof GROUP BY user_id
    ), probes AS (
      SELECT user_id FROM norms
      ORDER BY total DESC, user_id LIMIT 10
    ), dots AS (
      SELECT a.user_id AS probe_user, b.user_id AS other_user,
             CAST(SUM(a.n * b.n) AS BIGINT) AS dot
      FROM prof a
      JOIN probes p ON p.user_id = a.user_id
      JOIN prof b ON b.h = a.h AND b.user_id <> a.user_id
      GROUP BY a.user_id, b.user_id
    ), scored AS (
      SELECT d.probe_user, d.other_user,
             CAST(d.dot AS DOUBLE)
             / (sqrt(CAST(na.nrm AS DOUBLE))
                * sqrt(CAST(nb.nrm AS DOUBLE))) AS cosine
      FROM dots d
      JOIN norms na ON na.user_id = d.probe_user
      JOIN norms nb ON nb.user_id = d.other_user
    ), ranked AS (
      SELECT probe_user, other_user, cosine,
             ROW_NUMBER() OVER (PARTITION BY probe_user
                                ORDER BY cosine DESC, other_user) AS rk
      FROM scored
    )
    SELECT probe_user, other_user, cosine FROM ranked WHERE rk = 1
    """,
)
def user_activity_similarity_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    prof = ev.groupBy(
        "user_id", F.hour("ts").cast("int").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    norms = prof.groupBy("user_id").agg(
        F.sum(F.col("n") * F.col("n")).alias("nrm"),
        F.sum("n").alias("total"),
    )
    probes = (
        norms.orderBy(F.col("total").desc(), "user_id")
        .limit(10)
        .select("user_id")
    )
    a = prof.alias("a")
    b = prof.alias("b")
    dots = (
        a.join(
            probes.withColumnRenamed("user_id", "pu"),
            F.col("a.user_id") == F.col("pu"),
            "left_semi",
        )
        .join(
            b,
            (F.col("b.h") == F.col("a.h"))
            & (F.col("b.user_id") != F.col("a.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("probe_user"),
            F.col("b.user_id").alias("other_user"),
        )
        .agg(F.sum(F.col("a.n") * F.col("b.n")).alias("dot"))
    )
    na = norms.select(
        F.col("user_id").alias("probe_user"), F.col("nrm").alias("na")
    )
    nb = norms.select(
        F.col("user_id").alias("other_user"), F.col("nrm").alias("nb")
    )
    scored = (
        dots.join(na, "probe_user")
        .join(nb, "other_user")
        .select(
            "probe_user",
            "other_user",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                )
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("probe_user").orderBy(
        F.col("cosine").desc(), "other_user"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("probe_user", "other_user", "cosine")
    )


# ---------------------------------------------------------------------------
# Data-contract audit (operators/expect.py:check): declarative
# expectations evaluated against lineitem — row rules (not_null,
# domain set, range) fold into ONE aggregation over one scan; the
# uniqueness rule adds its keyed agg and referential integrity its
# anti-join. The oracle recomputes every violation count in SQL, so
# the gate pins the whole rule-compilation layer, not just one rule.
# All counts are exact BIGINTs.
# ---------------------------------------------------------------------------
@query(
    "dq_expectations_report",
    oracle="""
    SELECT 'not_null(l_returnflag)' AS rule,
           CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS violations,
           CAST(COUNT(*) AS BIGINT) AS rows_checked
    FROM lineitem
    UNION ALL
    SELECT 'in_set(l_linestatus)',
           CAST(SUM(CASE WHEN l_linestatus NOT IN ('O', 'F')
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'between(l_discount)',
           CAST(SUM(CASE WHEN l_discount IS NOT NULL
                         AND (l_discount < 0 OR l_discount > 0.1)
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'unique(l_orderkey,l_linenumber)',
           CAST(COALESCE((SELECT SUM(cnt) FROM (
              SELECT COUNT(*) AS cnt FROM lineitem
              GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)),
              0) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'foreign_key(l_orderkey)',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    """,
)
def dq_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.expect import check

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    rules = [
        {"rule": "not_null", "col": "l_returnflag"},
        {"rule": "in_set", "col": "l_linestatus", "values": ["O", "F"]},
        {"rule": "between", "col": "l_discount", "lo": 0.0, "hi": 0.1},
        {"rule": "unique", "cols": ["l_orderkey", "l_linenumber"]},
        {
            "rule": "foreign_key",
            "cols": ["l_orderkey"],
            "ref": orders,
            "ref_cols": ["o_orderkey"],
        },
    ]
    return check(li, rules)


# ---------------------------------------------------------------------------
# Pareto coverage: per nation, how many top suppliers cover >= 50% of
# the nation's supply revenue (the "how concentrated is my supply
# base" question Gini summarizes as a scalar, answered as an
# actionable count). Ranked cumulative sums run per BOUNDED group
# (nations); revenue stays exact in decimal, and the 50% threshold
# compares 2*cum >= total in integer-scaled decimal — no float
# boundary ambiguity.
# ---------------------------------------------------------------------------
@query(
    "nation_supplier_pareto",
    oracle="""
    WITH sup_rev AS (
      SELECT s_nationkey, l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS rev
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey, l_suppkey
    ), ranked AS (
      SELECT s_nationkey, rev,
             SUM(rev) OVER (PARTITION BY s_nationkey
                            ORDER BY rev DESC, l_suppkey
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(rev) OVER (PARTITION BY s_nationkey) AS total,
             ROW_NUMBER() OVER (PARTITION BY s_nationkey
                                ORDER BY rev DESC, l_suppkey) AS rk
      FROM sup_rev
    )
    SELECT n_name,
           CAST(MIN(CASE WHEN 2 * cum >= total THEN rk END) AS BIGINT)
             AS suppliers_for_half,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers
    FROM ranked JOIN nation ON n_nationkey = s_nationkey
    GROUP BY n_name
    """,
)
def nation_supplier_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice"
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation")
    sup_rev = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum(_dec("l_extendedprice")).alias("rev"))
    )
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("rev").desc(), "l_suppkey"
    )
    ranked = sup_rev.select(
        "s_nationkey",
        "rev",
        F.sum("rev")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("rev")
        .over(Window.partitionBy("s_nationkey"))
        .alias("total"),
        F.row_number().over(w).alias("rk"),
    )
    return (
        ranked.join(
            F.broadcast(nat),
            ranked.s_nationkey == nat.n_nationkey,
        )
        .groupBy("n_name")
        .agg(
            F.min(
                F.when(
                    F.lit(2) * F.col("cum") >= F.col("total"),
                    F.col("rk"),
                )
            ).alias("suppliers_for_half"),
            F.count(F.lit(1)).alias("n_suppliers"),
        )
    )


# ---------------------------------------------------------------------------
# Degree distribution: how many orders have k line items, for each k —
# the count-of-counts shape (group sizes, node degrees, key skew) that
# diagnoses fan-out before a join strategy is chosen. Two keyed
# aggregations, both map-side combinable; output bounded by the max
# group size.
# ---------------------------------------------------------------------------
@query(
    "order_linecount_distribution",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT n_lines, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM per_order GROUP BY n_lines
    """,
)
def order_linecount_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines")
    )
    return per_order.groupBy("n_lines").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


# ---------------------------------------------------------------------------
# Transactional table (storage/txlog.py) end-to-end: a deterministic
# commit sequence — append, append, atomic DELETE-where (overwrite),
# OPTIMIZE, RESTORE, append with an idempotent replay — then per-
# version row counts and decimal price totals read back via time
# travel, plus a stats-pruned range scan. The DuckDB twin recomputes
# every version's expected content from `orders` with set algebra, so
# the ACID surface (atomic versions, time travel, restore, exactly-
# once commits, data-skipping scans) gets a full rows+schema+hash
# check, not just pytest evidence. The table is built fresh in a temp
# dir on every invocation — the sequence, not the storage location,
# defines the result.
# ---------------------------------------------------------------------------
@query(
    "txlog_history_stats",
    oracle="""
    WITH a AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS p
               FROM orders WHERE o_orderkey % 10 = 0),
    b AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS p
          FROM orders WHERE o_orderkey % 10 = 1),
    d AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS p
          FROM orders WHERE o_orderkey % 10 = 2),
    ab AS (SELECT * FROM a UNION ALL SELECT * FROM b),
    ab_kept AS (SELECT * FROM ab WHERE p >= 150000),
    abd AS (SELECT * FROM ab UNION ALL SELECT * FROM d),
    states(version, mode) AS (VALUES
      (0, 'append'), (1, 'append'), (2, 'overwrite'), (3, 'optimize'),
      (4, 'restore'), (5, 'append'), (6, 'stats'), (99, 'scan_pruned'))
    SELECT s.version, s.mode,
           CAST(t.n AS BIGINT) AS n_rows,
           CAST(t.tot AS DOUBLE) AS total_price
    FROM states s JOIN (
      SELECT 0 AS v, COUNT(*) AS n, SUM(p) AS tot FROM a
      UNION ALL SELECT 1, COUNT(*), SUM(p) FROM ab
      UNION ALL SELECT 2, COUNT(*), SUM(p) FROM ab_kept
      UNION ALL SELECT 3, COUNT(*), SUM(p) FROM ab_kept
      UNION ALL SELECT 4, COUNT(*), SUM(p) FROM ab
      UNION ALL SELECT 5, COUNT(*), SUM(p) FROM abd
      UNION ALL SELECT 6, COUNT(*), SUM(p) FROM abd
      UNION ALL SELECT 99, COUNT(*), SUM(p) FROM abd
                 WHERE o_orderkey BETWEEN 10000 AND 50000
    ) t ON t.v = s.version
    """,
)
def txlog_history_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the transactional table through its whole surface and
    report each version's content.

    Sequence (versions): 0 append keys%10=0 -> 1 append keys%10=1 ->
    2 DELETE WHERE p < 150000 as one atomic overwrite -> 3 OPTIMIZE
    (content unchanged, files rewritten) -> 4 RESTORE to v1 (the
    delete rolled back as NEW history) -> 5 append keys%10=2 under an
    (app_id, batch_id) that is then REPLAYED — the second commit must
    publish nothing -> 6 attach_stats metadata version -> stats-pruned
    range scan (rows must equal the plain predicate; pruning may only
    cut files, never rows).

    Scale: every version read is an O(1) manifest open + a parquet
    scan of that version's files; the aggregates are map-side-partial
    decimal sums. The commit protocol (create-exclusive manifests,
    optimistic retry) is identical on a 1000-executor cluster — only
    df.write parallelism changes."""
    import tempfile

    from cdk_dynamodb_cdc_spark.storage.txlog import (
        TxTable,
        attach_stats,
        optimize,
        restore,
        scan,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", _dec("o_totalprice").alias("p")
    )
    t = TxTable(spark, tempfile.mkdtemp(prefix="txlog_q_"))
    # coalesce(4) before each commit (the txlog_version_diff_stats
    # pattern): the loaded frame carries a 32-way repartition, so an
    # uncoalesced lifecycle writes 32 files per ~15k-row commit and the
    # 8-version readback below opens ~450 ~150-row files — measured
    # ~2x the whole query (r14 optimization round). 4 files per commit
    # keeps OPTIMIZE's compaction and the stats-pruned scan meaningful
    # (multi-file versions) while the readback opens file counts
    # proportional to versions, not to the loader's parallelism.
    t.commit(orders.filter(F.col("o_orderkey") % 10 == 0).coalesce(4))  # v0
    t.commit(orders.filter(F.col("o_orderkey") % 10 == 1).coalesce(4))  # v1
    t.commit(                                                        # v2
        t.snapshot().filter(F.col("p") >= 150000), mode="overwrite"
    )
    optimize(t, target_file_bytes=64 * 1024 * 1024)                  # v3
    restore(t, 1)                                                    # v4
    d = orders.filter(F.col("o_orderkey") % 10 == 2).coalesce(4)
    assert t.commit(d, app_id="txq", batch_id=1) == 5                # v5
    assert t.commit(d, app_id="txq", batch_id=1) is None             # replay
    attach_stats(t, ["o_orderkey"])                                  # v6
    pruned, _files_read, _files_total = scan(
        t, where=[("o_orderkey", 10000, 50000)]
    )

    def state(version: int, mode: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(version).alias("version"),
            F.lit(mode).alias("mode"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("p").cast("double").alias("total_price"),
        )

    out = state(0, "append", t.snapshot(version=0))
    for v, mode in (
        (1, "append"),
        (2, "overwrite"),
        (3, "optimize"),
        (4, "restore"),
        (5, "append"),
        (6, "stats"),
    ):
        out = out.unionByName(state(v, mode, t.snapshot(version=v)))
    return out.unionByName(state(99, "scan_pruned", pruned))


# ---------------------------------------------------------------------------
# MERGE INTO through the transactional boundary (storage/txlog.py:
# merge_into): commit the cutoff snapshot as a TxTable version, MERGE
# the post-cutoff CDC window onto it as ONE atomic overwrite version,
# and read the result back through the table. The oracle is the same
# full-replay state that verifies cdc_merge_apply — so the green hash
# extends the maintenance theorem merge(snap(T1), log(T1,..]) ==
# snap(latest) across the ACID commit/readback round-trip, and the
# table_version column pins that exactly one version was published.
# ---------------------------------------------------------------------------
@query(
    "txlog_merge_into_state",
    oracle="""
    WITH le AS (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS nv
      FROM events
    )
    SELECT 'USER#' || CAST(user_id AS VARCHAR) AS pk,
           event_type, value,
           CAST(nv AS BIGINT) AS n_versions,
           CAST(1 AS BIGINT) AS table_version
    FROM le WHERE rn = 1 AND user_id % 17 <> 0
    """,
)
def txlog_merge_into_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from cdk_dynamodb_cdc_spark.operators.compaction import snapshot_at
    from cdk_dynamodb_cdc_spark.storage.txlog import TxTable, merge_into

    records = _augment_with_removes(synthesize_cdc_records(spark, sf_dir))
    t = TxTable(spark, tempfile.mkdtemp(prefix="txlog_m_"))
    t.commit(snapshot_at(records, _SNAPSHOT_CUTOFF))               # v0
    window = records.filter(F.col("ts") > F.lit(_SNAPSHOT_CUTOFF))
    v = merge_into(t, window, app_id="txm", batch_id=1)            # v1
    assert v == 1
    # replay of the same window publishes nothing (exactly-once)
    assert merge_into(t, window, app_id="txm", batch_id=1) is None
    return t.snapshot().select(
        "pk",
        F.get_json_object("image", "$.event_type.S").alias("event_type"),
        F.get_json_object("image", "$.value.N").cast("double").alias("value"),
        "n_versions",
        F.lit(t.latest_version()).cast("bigint").alias("table_version"),
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup shape): embedding-space near-dup pairs
# (the deterministic sign-LSH + exact-cosine contract of
# near_dup_embedding_pairs) -> connected components (large-star/
# small-star) -> ONE kept representative per cluster, chosen by max
# L2 norm with vec_id tiebreak (a deterministic stand-in for the
# keep-nearest-centroid rule; norms are per-row sequential folds, so
# the ranking is bit-stable across engines). The oracle closes the
# same pair graph with a recursive CTE and ranks by the same norm.
# ---------------------------------------------------------------------------
@query(
    "semantic_dedup_keep",
    oracle=f"""
    WITH RECURSIVE
    s AS MATERIALIZED (
      SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bucket
      FROM embeddings WHERE vec_id < 500
    ),
    -- MATERIALIZED: e feeds every iteration of the recursive closure;
    -- without it the bucketed cosine join above re-evaluates per round
    -- (the r10 sf1 capacity blow-up class) — pin it to one evaluation.
    p AS MATERIALIZED (
      SELECT a.vec_id AS src, b.vec_id AS dst
      FROM s a JOIN s b
        ON a.vec_id < b.vec_id
       AND bit_count(xor(a.bucket, b.bucket)) <= 2
      WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
                     i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
            / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
                     i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
               * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
                     i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))))
            >= 0.4
    ),
    e AS MATERIALIZED (
      SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
    reach(node, lbl) AS (
      SELECT vec_id, vec_id FROM s
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.node
    ),
    cl AS (SELECT node AS vec_id, MIN(lbl) AS cluster_id
           FROM reach GROUP BY node),
    n2 AS (SELECT vec_id,
                  list_sum(list_transform(range(1, len(embedding) + 1),
                    i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))
                    AS norm2
           FROM s)
    SELECT cl.vec_id, cl.cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cl.cluster_id) AS BIGINT)
             AS cluster_size,
           ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
                              ORDER BY n2.norm2 DESC, cl.vec_id) = 1
             AS is_kept
    FROM cl JOIN n2 USING (vec_id)
    """,
)
def semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per vector: its semantic-dup cluster, the cluster size,
    and whether a SemDeDup pass keeps it. Composes the deterministic
    LSH pair contract, star-CC clustering, and a bit-stable
    representative rule.

    Scale: pairs come from the bucketed equi-join (never all-pairs),
    clustering is O(log n) rounds over the pair graph only, and the
    norm/rank pass is one windowed aggregation over the corpus
    partitioned by cluster."""
    from cdk_dynamodb_cdc_spark.llm.vectors import _dot, lsh_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 500
    )
    pairs = lsh_near_dup_pairs(emb, dim=64, threshold=0.4)
    cc = llm_dedup.connected_components_star(pairs, "vec_a", "vec_b")
    v = F.col("embedding").cast("array<double>")
    base = emb.select("vec_id", _dot(v, v).alias("norm2"))
    j = base.join(cc, base.vec_id == cc.node, "left").select(
        "vec_id",
        "norm2",
        F.coalesce("cluster_id", "vec_id").alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id")
    wr = Window.partitionBy("cluster_id").orderBy(
        F.col("norm2").desc(), "vec_id"
    )
    return j.select(
        "vec_id",
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.row_number().over(wr) == 1).alias("is_kept"),
    )


# ---------------------------------------------------------------------------
# Temperature-based corpus mixing (llm/curation.py:temperature_mix):
# per-source keep rates proportional to n^tau (tau=0.5 upweights small
# sources), capped at 1, scaled to a target corpus fraction, applied
# with a salted deterministic hash — the multilingual-mixture sampling
# rule as a two-pass scan with a broadcast sources-sized plan. The
# oracle recomputes the plan (decimal-accumulated normalizer, integer
# millionth thresholds) and the md5-hash filter exactly.
# ---------------------------------------------------------------------------
@query(
    "corpus_mix_temperature",
    oracle="""
    WITH c AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    t AS (
      SELECT CAST(CAST(SUM(CAST(sqrt(CAST(n_docs AS DOUBLE))
                           AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS z,
             SUM(n_docs) AS n_total
      FROM c
    ),
    w AS (
      SELECT source, n_docs,
             CAST(floor(LEAST(1.0,
                 (t.n_total * 0.5)
                 * (sqrt(CAST(n_docs AS DOUBLE)) / t.z)
                 / CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)
               AS keep_millionths
      FROM c, t
    ),
    k AS (
      SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM documents d JOIN w ON w.source = d.source
      WHERE ('0x' || substr(md5('mix-0:' || CAST(d.doc_id AS VARCHAR)),
                            1, 15))::BIGINT % 1000000 < w.keep_millionths
      GROUP BY d.source
    )
    SELECT w.source, w.n_docs, w.keep_millionths,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM w LEFT JOIN k ON k.source = w.source
    """,
)
def corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm.curation import (
        source_temperature_plan,
        temperature_mix,
    )

    docs = load_table(spark, sf_dir, "documents")
    plan = source_temperature_plan(docs, tau=0.5, target_frac=0.5)
    kept = (
        temperature_mix(docs, tau=0.5, target_frac=0.5)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return plan.join(kept, "source", "left").select(
        "source",
        "n_docs",
        "keep_millionths",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# Perplexity quality filter (llm/quality_lm.py): the CCNet/Gopher
# LM-filter stage built from first principles — train an add-one
# bigram LM on the corpus (two vocabulary-sized aggregations), score
# each document's average bigram log-likelihood, keep docs above the
# floor. The per-doc sum folds over distinct (c2, c1) integer pairs
# in integer order, so both engines add identical values in identical
# order; the output is the integer n_bigrams and the keep DECISION
# (raw floats never enter the hash — the threshold sits far from any
# document's score, so last-ulp libm ln noise cannot flip it).
# ---------------------------------------------------------------------------
@query(
    "perplexity_filter_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
      FROM (SELECT unnest(ws) AS w FROM toks) GROUP BY w
    ),
    vc AS (SELECT COUNT(*) AS v FROM uni),
    bgx AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws)),
                    i -> ws[i] || chr(1) || ws[i + 1])) AS bg
      FROM toks
    ),
    bgc AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c2
            FROM bgx GROUP BY bg),
    t AS (
      SELECT b.doc_id, bgc.c2, uni.c1, CAST(COUNT(*) AS BIGINT) AS n
      FROM bgx b
      JOIN bgc USING (bg)
      JOIN uni ON uni.w = string_split(b.bg, chr(1))[1]
      GROUP BY b.doc_id, bgc.c2, uni.c1
    ),
    d AS (
      SELECT doc_id,
             list_sum(list(n * ln((c2 + 1)::DOUBLE / (c1 + vc.v)::DOUBLE)
                           ORDER BY c2, c1)) AS logprob,
             SUM(n) AS n_bigrams
      FROM t, vc GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           logprob / n_bigrams >= -3.5 AS kept
    FROM d
    """,
)
def perplexity_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm.quality_lm import perplexity_filter

    docs = load_table(spark, sf_dir, "documents")
    return perplexity_filter(docs, min_avg_logprob=-3.5).select(
        F.col("key").alias("doc_id"), "n_bigrams", "kept"
    )


# ---------------------------------------------------------------------------
# Exact-substring duplication profile (llm/dedup.py:
# substring_dup_stats): the Lee et al. 2022 suffix-array dedup
# criterion as a relational plan — a 10-token window is duplicated iff
# the identical token sequence occurs >= 2 times anywhere in the
# corpus. Integer counts per document; the oracle rebuilds the same
# rolling windows 1-indexed in SQL.
# ---------------------------------------------------------------------------
@query(
    "substring_dup_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    wins AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws) - 10 + 2),
                    i -> array_to_string(list_slice(ws, i, i + 9), ' ')))
               AS win
      FROM toks WHERE len(ws) >= 10
    ),
    freq AS (SELECT win, CAST(COUNT(*) AS BIGINT) AS n_occ
             FROM wins GROUP BY win)
    SELECT w.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN f.n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_windows
    FROM wins w JOIN freq f USING (win)
    GROUP BY w.doc_id
    """,
)
def substring_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return llm_dedup.substring_dup_stats(
        docs, window_tokens=10
    ).select(F.col("key").alias("doc_id"), "n_windows", "n_dup_windows")


# ---------------------------------------------------------------------------
# BPE tokenizer training, first merge decision (llm/text.py:
# bpe_merge_candidates): corpus-weighted adjacent character-pair
# frequencies over the vocabulary — the aggregation BPE training runs
# per merge iteration, corpus-size-independent after the vocab pass.
# Total order (count desc, pair asc) makes the top-20 cut exact.
# ---------------------------------------------------------------------------
@query(
    "bpe_merge_candidates",
    oracle="""
    WITH words AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY w HAVING length(w) >= 2
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, length(w)),
                    i -> substr(w, i, 2))) AS pair, n
      FROM words
    )
    SELECT pair, CAST(SUM(n) AS BIGINT) AS n_occurrences
    FROM pairs GROUP BY pair
    ORDER BY n_occurrences DESC, pair LIMIT 20
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return llm_text.bpe_merge_candidates(docs, top_n=20)


# ---------------------------------------------------------------------------
# The FULL BPE training loop closed (llm/text.py:bpe_train): 32 merge
# iterations with vocabulary re-symbolization between them, then the
# corpus tokenized with the trained merges — integer token counts per
# language. The oracle REPLAYS THE IDENTICAL TRAINING LOOP as a
# DuckDB recursive CTE: same separator-string representation, same
# one-replace-per-merge greedy semantics, same (count desc, pair asc)
# tie-break — so a green hash pins the entire 32-step merge SEQUENCE,
# not just the final counts. Both engines' `replace` is left-to-right
# non-overlapping (Java String.replace / DuckDB replace), which is
# exactly BPE's greedy merge.
# ---------------------------------------------------------------------------
@query(
    "bpe_train_token_counts",
    oracle=f"""
    WITH RECURSIVE vocab AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    bpe(iter, w, n, s) AS (
      SELECT 0, w, n,
             '{_BPE_SEP}{_BPE_SEP}' ||
             list_aggregate(string_split(w, ''), 'string_agg',
                            '{_BPE_SEP}{_BPE_SEP}') ||
             '{_BPE_SEP}{_BPE_SEP}'
      FROM vocab
      UNION ALL
      SELECT iter + 1, w, n,
             replace(s,
                     '{_BPE_SEP}' || best.pa || '{_BPE_SEP}{_BPE_SEP}'
                                  || best.pb || '{_BPE_SEP}',
                     '{_BPE_SEP}' || best.pa || best.pb || '{_BPE_SEP}')
      FROM bpe, (
        SELECT pa, pb
        FROM (
          SELECT syms[i] AS pa, syms[i+1] AS pb, SUM(n) AS cnt
          FROM (SELECT n, string_split(trim(s, '{_BPE_SEP}'),
                                       '{_BPE_SEP}{_BPE_SEP}') AS syms
                FROM bpe),
               UNNEST(range(1, len(syms))) AS t(i)
          GROUP BY pa, pb
        ) ORDER BY cnt DESC, pa, pb LIMIT 1
      ) best
      WHERE iter < {_BPE_MERGES}
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(length(t.w)) AS BIGINT) AS n_chars,
           CAST(SUM(len(string_split(trim(t.s, '{_BPE_SEP}'),
                    '{_BPE_SEP}{_BPE_SEP}'))) AS BIGINT) AS n_tokens
    FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
          FROM documents) d
    JOIN (SELECT w, s FROM bpe WHERE iter = {_BPE_MERGES}) t ON t.w = d.w
    WHERE d.w <> ''
    GROUP BY d.lang
    """,
)
def bpe_train_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return llm_text.bpe_token_stats(
        docs, group_col="lang", n_merges=_BPE_MERGES
    )


# ---------------------------------------------------------------------------
# Quality-gate composition over the round-6 signals: repetition
# (Gopher duplicated-gram fraction), exact-substring duplication
# (Lee et al. windows, INTEGER fraction test 5*dup > n), perplexity
# (corpus bigram LM), and the length/stopword quality score — first
# matching rule wins, survivors are 'kept'. Every individual signal is
# oracle-verified in isolation elsewhere in this registry; this query
# pins the COMPOSITION (same pattern as curate_corpus_dispositions).
# Float comparisons are safe by construction: dup_frac and
# quality_score are single IEEE divisions (bit-identical inputs ->
# identical results), the excerpt test is pure-integer, and the ppl
# threshold sits ~7e-4 from the nearest score.
# ---------------------------------------------------------------------------
@query(
    "quality_gate_dispositions",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    wins AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws) - 10 + 2),
                    i -> array_to_string(list_slice(ws, i, i + 9), ' ')))
               AS win
      FROM toks WHERE len(ws) >= 10
    ),
    wfreq AS (SELECT win, COUNT(*) AS n_occ FROM wins GROUP BY win),
    sub AS (
      SELECT w.doc_id, COUNT(*) AS n_windows,
             SUM(CASE WHEN f.n_occ >= 2 THEN 1 ELSE 0 END)
               AS n_dup_windows
      FROM wins w JOIN wfreq f USING (win) GROUP BY w.doc_id
    ),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
      FROM (SELECT unnest(ws) AS w FROM toks) GROUP BY w
    ),
    vc AS (SELECT COUNT(*) AS v FROM uni),
    bgx AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws)),
                    i -> ws[i] || chr(1) || ws[i + 1])) AS bg
      FROM toks
    ),
    bgc AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c2
            FROM bgx GROUP BY bg),
    pt AS (
      SELECT b.doc_id, bgc.c2, uni.c1, CAST(COUNT(*) AS BIGINT) AS n
      FROM bgx b
      JOIN bgc USING (bg)
      JOIN uni ON uni.w = string_split(b.bg, chr(1))[1]
      GROUP BY b.doc_id, bgc.c2, uni.c1
    ),
    ppl AS (
      SELECT doc_id,
             list_sum(list(n * ln((c2 + 1)::DOUBLE / (c1 + vc.v)::DOUBLE)
                           ORDER BY c2, c1))
               / SUM(n) AS avg_logprob
      FROM pt, vc GROUP BY doc_id
    ),
    q AS (
      SELECT doc_id,
             {llm_cleaning.duck_duplicated_gram_fraction('text')}
               AS dup_frac,
             (CAST(least(len(string_split(text, ' ')), 80) AS DOUBLE)
                / 80.0) * 0.7
             + (CAST(len(list_filter(string_split(text, ' '),
                        w -> w IN ({_STOP_LIST_SQL}))) AS DOUBLE)
                / len(string_split(text, ' '))) * 0.3 AS quality_score
      FROM documents
    )
    SELECT q.doc_id,
           CASE
             WHEN q.dup_frac > 0.2 THEN 'repetitive'
             WHEN 5 * COALESCE(sub.n_dup_windows, 0)
                  > COALESCE(sub.n_windows, 1) THEN 'excerpt_dup'
             WHEN ppl.avg_logprob < -3.5 THEN 'low_ppl'
             WHEN q.quality_score < 0.3 THEN 'low_quality'
             ELSE 'kept'
           END AS disposition
    FROM q
    LEFT JOIN sub ON sub.doc_id = q.doc_id
    LEFT JOIN ppl ON ppl.doc_id = q.doc_id
    """,
)
def quality_gate_dispositions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm.quality_lm import doc_logprob_scores

    docs = load_table(spark, sf_dir, "documents")
    rep = docs.select(
        "doc_id",
        llm_cleaning.duplicated_gram_fraction(F.col("text")).alias(
            "dup_frac"
        ),
        llm_text.text_quality(F.col("text"))["quality_score"].alias(
            "quality_score"
        ),
    )
    sub = llm_dedup.substring_dup_stats(docs, window_tokens=10).select(
        F.col("key").alias("doc_id"), "n_windows", "n_dup_windows"
    )
    ppl = doc_logprob_scores(docs).select(
        F.col("key").alias("doc_id"), "avg_logprob"
    )
    base = rep.join(sub, "doc_id", "left").join(ppl, "doc_id", "left")
    disposition = (
        F.when(F.col("dup_frac") > 0.2, "repetitive")
        .when(
            F.lit(5) * F.coalesce("n_dup_windows", F.lit(0))
            > F.coalesce("n_windows", F.lit(1)),
            "excerpt_dup",
        )
        .when(F.col("avg_logprob") < -3.5, "low_ppl")
        .when(F.col("quality_score") < 0.3, "low_quality")
        .otherwise("kept")
    )
    return base.select("doc_id", disposition.alias("disposition"))


# ---------------------------------------------------------------------------
# Incremental dedup (llm/dedup.py:minhash_index +
# incremental_near_dup_pairs): near-dups of an incoming batch (doc_id
# % 10 = 0) against the already-indexed corpus remainder — the
# daily-crawl shape where corpus signatures/shingles are computed once
# and each batch joins only its own band rows against the index. The
# oracle is the exact all-pairs batch x corpus Jaccard join (the same
# banding miss bound as the symmetric minhash query).
# ---------------------------------------------------------------------------
@query(
    "incremental_near_dup_pairs",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents),
    sh AS MATERIALIZED (
           SELECT doc_id,
                  list_distinct(list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
                    AS s
           FROM w),
    -- index-accelerated exact candidates (see _DUCK_SHINGLE_INDEX_SQL):
    -- a batch x corpus pair with jaccard >= 0.8 > 0 shares a shingle,
    -- so the inverted-index join is a complete candidate superset
    np AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 10 = 0),
    cp AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 10 <> 0),
    cand AS MATERIALIZED (
        SELECT DISTINCT n.doc_id AS new_doc_id, c.doc_id AS corpus_doc_id
        FROM np n JOIN cp c ON n.g = c.g)
    SELECT cd.new_doc_id, cd.corpus_doc_id,
           CAST(len(list_intersect(n.s, c.s)) AS INT) AS n_common,
           CAST(len(n.s) + len(c.s) - len(list_intersect(n.s, c.s))
                AS INT) AS n_union,
           CAST(len(list_intersect(n.s, c.s)) AS DOUBLE)
             / (len(n.s) + len(c.s) - len(list_intersect(n.s, c.s)))
             AS jaccard
    FROM cand cd
    JOIN sh n ON n.doc_id = cd.new_doc_id
    JOIN sh c ON c.doc_id = cd.corpus_doc_id
    WHERE CAST(len(list_intersect(n.s, c.s)) AS DOUBLE)
          / (len(n.s) + len(c.s) - len(list_intersect(n.s, c.s)))
          >= 0.8
    """,
)
def incremental_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    bands, shingles = llm_dedup.minhash_index(corpus)
    return llm_dedup.incremental_near_dup_pairs(
        batch, bands, shingles, threshold=0.8
    )


# ---------------------------------------------------------------------------
# Trained text classification (llm/classify.py): multinomial Naive
# Bayes trained on the corpus's own language labels, then applied back
# — training is two vocabulary-sized counts, inference one gram-keyed
# join + per-(doc, label) fold in deterministic integer order (the
# quality_lm discipline). Output is the integer confusion matrix, so
# the hash check verifies every prediction while no float enters the
# result. Complements the heuristic lang_id with the model-based lane.
# ---------------------------------------------------------------------------
@query(
    "nb_lang_confusion",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    tc AS (SELECT lang AS label, w, CAST(COUNT(*) AS BIGINT) AS c
           FROM tok GROUP BY label, w),
    ls AS (SELECT label, SUM(c) AS n_tokens FROM tc GROUP BY label),
    ld AS (SELECT lang AS label, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY lang),
    vc AS (SELECT COUNT(DISTINCT w) AS v FROM tok),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    td AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS n
           FROM tok GROUP BY doc_id, w),
    pl AS (
      SELECT td.doc_id, ls.label, td.n,
             COALESCE(tc.c, 0) AS c, ls.n_tokens
      FROM td
      CROSS JOIN ls
      LEFT JOIN tc ON tc.label = ls.label AND tc.w = td.w
    ),
    sc AS (
      SELECT pl.doc_id, pl.label,
             list_sum(list(
               pl.n * ln((c + 1)::DOUBLE / (n_tokens + vc.v)::DOUBLE)
               ORDER BY c, pl.n))
             + ln(ld.n_docs::DOUBLE / tot.n::DOUBLE) AS score
      FROM pl, vc, tot
      JOIN ld ON ld.label = pl.label
      GROUP BY pl.doc_id, pl.label, ld.n_docs, tot.n, vc.v
    ),
    pred AS (
      SELECT doc_id, label AS predicted_lang,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, label) AS rk
      FROM sc
    )
    SELECT d.lang AS actual_lang, p.predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents d
    JOIN pred p ON p.doc_id = d.doc_id AND p.rk = 1
    GROUP BY d.lang, p.predicted_lang
    """,
)
def nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm.classify import predict_nb, train_nb

    docs = load_table(spark, sf_dir, "documents")
    tc, ls, v = train_nb(docs, label_col="lang")
    pred = predict_nb(docs, tc, ls, v)
    return (
        docs.select("doc_id", F.col("lang").alias("actual_lang"))
        .join(pred, F.col("doc_id") == F.col("key"))
        .groupBy("actual_lang", F.col("predicted_label").alias("predicted_lang"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# PQ/ADC ANN (third approximate lane; llm/vectors.py:pq_topk): product-
# quantized codes + per-query exact lookup tables + exact re-rank of
# the ADC shortlist — the FAISS IVFPQ memory-bound shape (corpus scan
# reads ~M bytes/vector). Recall-contract oracle like the other ANN
# lanes; floor 0.5 — measured per-query recall@10 at defaults is
# {0.8..1.0} at sf0.01, fully deterministic (seeded codebooks, exact
# re-rank, unique tiebreakers).
# ---------------------------------------------------------------------------
_PQ_RECALL_FLOOR = 0.5


@query(
    "embedding_pq_topk",
    oracle="SELECT * FROM (VALUES "
    + ", ".join(f"({i}, TRUE)" for i in _ANN_QUERY_IDS)
    + ") AS t(qid, recall_ok)",
)
def embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # The ADC shortlist is the recall dial: pq_topk sizes it to 20%
    # of the corpus (floor 100) off its own checkpointed codes frame
    # — no extra scan here. The sf0.1 robustness sweep measured the
    # old fixed-100 shortlist at qid-1 recall 0.3; the adaptive size
    # holds the 0.8-1.0 band at every tested SF. A 100-TB store
    # doesn't run FLAT PQ at all — the IVFPQ lane
    # (embedding_ivfpq_topk) is the scale path, where cell pruning
    # bounds the scan and the shortlist stays cell-local.
    pq = llm_vectors.pq_topk(
        emb,
        query_ids=_ANN_QUERY_IDS,
        k=10,
        dim=64,
    )
    exact = llm_vectors.cosine_topk(emb, query_ids=_ANN_QUERY_IDS, k=10)
    hits = exact.select("qid", "neighbor_id").join(
        pq.select("qid", "neighbor_id"), ["qid", "neighbor_id"], "left_semi"
    )
    return (
        hits.groupBy("qid")
        .agg((F.count(F.lit(1)) / 10.0).alias("recall"))
        .select(
            F.col("qid").cast("int").alias("qid"),
            (F.col("recall") >= F.lit(_PQ_RECALL_FLOOR)).alias("recall_ok"),
        )
    )


# ---------------------------------------------------------------------------
# CDC schema-drift profiling (operators/monitor.py:field_drift_stats):
# the stream gains two attributes mid-life (a numeric v2_score on
# every 7th event, a string tag for every 5th user) and the profiler
# — which assumes NO schema, parsing images as the generic
# AttributeValue map shape — must report exactly which attributes
# exist, under which wire type, over which time span. The oracle
# recomputes presence sets and spans from the events table directly.
# ---------------------------------------------------------------------------
@query(
    "cdc_field_drift_stats",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
    ),
    fields(field, wire_type, pred) AS (VALUES
      ('event_type', 'S', 'all'), ('value', 'N', 'all'),
      ('v2_score', 'N', 'e7'), ('tag', 'S', 'u5'))
    SELECT f.field, f.wire_type,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           MIN(e.ts_us) AS first_seen_us,
           MAX(e.ts_us) AS last_seen_us
    FROM fields f JOIN e ON
      CASE f.pred WHEN 'all' THEN TRUE
                  WHEN 'e7' THEN e.event_id % 7 = 0
                  ELSE e.user_id % 5 = 0 END
    GROUP BY f.field, f.wire_type
    """,
)
def cdc_field_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.monitor import field_drift_stats

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    image = F.concat(
        F.lit('{"event_type":{"S":"'), F.col("event_type"),
        F.lit('"},"value":{"N":"'), F.col("value").cast("string"),
        F.lit('"}'),
        F.when(
            F.col("event_id") % 7 == 0,
            F.concat(
                F.lit(',"v2_score":{"N":"'),
                (F.col("value") * 2).cast("string"),
                F.lit('"}'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("user_id") % 5 == 0,
            F.concat(
                F.lit(',"tag":{"S":"u'),
                F.col("user_id").cast("string"),
                F.lit('"}'),
            ),
        ).otherwise(F.lit("")),
        F.lit("}"),
    )
    records = ev.select(
        F.col("event_id").cast("string").alias("event_id"),
        F.row_number().over(w).cast("long").alias("seq"),
        F.col("ts"),
        F.lit("MODIFY").alias("operation"),
        F.concat(F.lit("USER#"), F.col("user_id")).alias("pk"),
        F.lit("STATE").alias("sk"),
        image.alias("new_image"),
    )
    return field_drift_stats(records)


# ---------------------------------------------------------------------------
# IVFPQ (llm/vectors.py:ivfpq_topk): the composed billion-vector shape
# — IVF cells bound the corpus FRACTION each query touches
# (nprobe/nlist), PQ codes bound the BYTES per touched vector (~M),
# exact re-rank restores precision. Recall is IVF-bounded (the probe
# set caps what PQ can see), so the contract floor matches the
# IVF-flat lane: 0.3, measured {0.4..0.8} per query at sf0.01.
# ---------------------------------------------------------------------------
@query(
    "embedding_ivfpq_topk",
    oracle="SELECT * FROM (VALUES "
    + ", ".join(f"({i}, TRUE)" for i in _ANN_QUERY_IDS)
    + ") AS t(qid, recall_ok)",
)
def embedding_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ivfpq = llm_vectors.ivfpq_topk(
        emb, query_ids=_ANN_QUERY_IDS, k=10, dim=64
    )
    exact = llm_vectors.cosine_topk(emb, query_ids=_ANN_QUERY_IDS, k=10)
    hits = exact.select("qid", "neighbor_id").join(
        ivfpq.select("qid", "neighbor_id"),
        ["qid", "neighbor_id"],
        "left_semi",
    )
    return (
        hits.groupBy("qid")
        .agg((F.count(F.lit(1)) / 10.0).alias("recall"))
        .select(
            F.col("qid").cast("int").alias("qid"),
            (F.col("recall") >= F.lit(_IVF_RECALL_FLOOR)).alias(
                "recall_ok"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Feature-hashed document embeddings + exact search (llm/text.py:
# hashed_doc_vectors): the hashing-trick BoW embedding (signed ±1
# per token into hash(t) % 64 dims) gives the engine a model-free
# embed -> search path over raw text. Vectors are INTEGER, so the
# cosine ranking is exact arithmetic on identical integers — this is
# the one ANN-family query with a full exact oracle instead of a
# recall contract (DuckDB rebuilds the vectors dim-by-dim and ranks
# by the same integer dot products).
# ---------------------------------------------------------------------------
@query(
    "doc_hash_embedding_topk",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    pd AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(w), 1, 15))::BIGINT % 64 AS INT)
               AS d,
             CASE WHEN ((('0x' || substr(md5(w), 1, 15))::BIGINT >> 6)
                        & 1) = 0 THEN 1 ELSE -1 END AS sgn
      FROM tok
    ),
    v AS (SELECT doc_id, d, CAST(SUM(sgn) AS BIGINT) AS val
          FROM pd GROUP BY doc_id, d),
    nrm AS (SELECT doc_id, SUM(val * val) AS n2 FROM v GROUP BY doc_id),
    pairs AS (
      SELECT p.doc_id AS qid, c.doc_id AS neighbor_id
      FROM (SELECT doc_id FROM documents WHERE doc_id IN (0,1,2,3,4)) p,
           (SELECT doc_id FROM documents) c
      WHERE c.doc_id <> p.doc_id
    ),
    dots AS (
      SELECT q.doc_id AS qid, c.doc_id AS neighbor_id,
             SUM(q.val * c.val) AS dot
      FROM v q JOIN v c ON c.d = q.d
      WHERE q.doc_id IN (0,1,2,3,4) AND c.doc_id <> q.doc_id
      GROUP BY q.doc_id, c.doc_id
    ),
    scored AS (
      SELECT pairs.qid, pairs.neighbor_id,
             COALESCE(dots.dot, 0)::DOUBLE
               / (sqrt(nq.n2::DOUBLE) * sqrt(nc.n2::DOUBLE)) AS cos
      FROM pairs
      LEFT JOIN dots ON dots.qid = pairs.qid
                    AND dots.neighbor_id = pairs.neighbor_id
      JOIN nrm nq ON nq.doc_id = pairs.qid
      JOIN nrm nc ON nc.doc_id = pairs.neighbor_id
    )
    SELECT qid, CAST(rk AS INT) AS rk, neighbor_id
    FROM (SELECT qid, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY cos DESC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= 10
    """,
)
def doc_hash_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm.text import hashed_doc_vectors

    docs = load_table(spark, sf_dir, "documents")
    vecs = hashed_doc_vectors(docs, dim=64)
    dot_ll = lambda a, b: F.aggregate(  # noqa: E731 - integer-exact fold
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    base = vecs.select(
        "key", "vec", dot_ll(F.col("vec"), F.col("vec")).alias("n2")
    )
    q = base.filter(F.col("key").isin([0, 1, 2, 3, 4])).select(
        F.col("key").alias("qid"),
        F.col("vec").alias("qv"),
        F.col("n2").alias("qn2"),
    )
    c = base.select(
        F.col("key").alias("neighbor_id"),
        F.col("vec").alias("cv"),
        F.col("n2").alias("cn2"),
    )
    cos = dot_ll(F.col("qv"), F.col("cv")).cast("double") / (
        F.sqrt(F.col("qn2").cast("double"))
        * F.sqrt(F.col("cn2").cast("double"))
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("qid"))
        .select("qid", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("qid", F.col("rk").cast("int").alias("rk"), "neighbor_id")
    )


# ---------------------------------------------------------------------------
# MMR diversified retrieval (llm/vectors.py:mmr_diversify) over the
# hashing-trick embeddings: greedy maximal-marginal-relevance with
# lam = 1/2 on INTEGER inner products — score_scaled = rel - max sim
# to the already-picked set, every comparison an exact long, so the
# whole greedy trajectory (ids, ranks, scaled scores) replays
# bit-identically. The oracle unrolls the k greedy steps as CTEs:
# step i ranks the not-yet-picked shortlist by (score desc, rel desc,
# cid) and takes row 1 — exactly the fold's replace-on-strictly-
# better scan order. Shape: shortlist by window group-limit, sims
# shortlist-local (q x 12^2), selection pure Column folds.
# ---------------------------------------------------------------------------
_MMR_K = 5
_MMR_SHORTLIST = 12


def _mmr_step_cte(i: int) -> str:
    prev = " UNION ALL ".join(
        f"SELECT qid, cid FROM sel{j}" for j in range(1, i)
    )
    return (
        f"prev{i} AS MATERIALIZED ({prev}), "
        f"sel{i} AS MATERIALIZED ("
        f"SELECT qid, cid, rel, (rel - p) AS mmr, {i} AS rank FROM ("
        f"SELECT s.qid, s.cid, s.rel, pen.p, "
        f"ROW_NUMBER() OVER (PARTITION BY s.qid "
        f"ORDER BY (s.rel - pen.p) DESC, s.rel DESC, s.cid) AS rk "
        f"FROM sl s JOIN LATERAL ("
        f"SELECT MAX(m.sim) AS p FROM sim m "
        f"JOIN prev{i} pv ON pv.qid = m.qid AND pv.cid = m.b "
        f"WHERE m.qid = s.qid AND m.a = s.cid) pen ON TRUE "
        f"WHERE NOT EXISTS (SELECT 1 FROM prev{i} p2 "
        f"WHERE p2.qid = s.qid AND p2.cid = s.cid)"
        f") WHERE rk = 1)"
    )


@query(
    "mmr_diverse_retrieval",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    pd AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(w), 1, 15))::BIGINT % 64 AS INT)
               AS d,
             CASE WHEN ((('0x' || substr(md5(w), 1, 15))::BIGINT >> 6)
                        & 1) = 0 THEN 1 ELSE -1 END AS sgn
      FROM tok
    ),
    v AS MATERIALIZED (
      SELECT doc_id, d, CAST(SUM(sgn) AS BIGINT) AS val
      FROM pd GROUP BY doc_id, d
    ),
    -- dots restricted to what MMR reads: query x corpus for the
    -- relevance ranking, shortlist x shortlist for the redundancy
    -- matrix — the unrestricted all-pairs product spills at sf >= 0.1
    qdots AS MATERIALIZED (
      SELECT a.doc_id AS x, b.doc_id AS y, SUM(a.val * b.val) AS dot
      FROM v a JOIN v b ON b.d = a.d
      WHERE a.doc_id IN (0, 1, 2, 3, 4)
      GROUP BY x, y
    ),
    grid AS (
      SELECT q.doc_id AS qid, c.doc_id AS cid
      FROM (SELECT doc_id FROM documents WHERE doc_id IN (0,1,2,3,4)) q,
           (SELECT doc_id FROM documents) c
      WHERE c.doc_id <> q.doc_id
    ),
    sl AS MATERIALIZED (
      SELECT qid, cid, rel FROM (
        SELECT g.qid, g.cid,
               CAST(COALESCE(d.dot, 0) AS BIGINT) AS rel,
               ROW_NUMBER() OVER (PARTITION BY g.qid
                                  ORDER BY COALESCE(d.dot, 0) DESC,
                                           g.cid) AS rk
        FROM grid g LEFT JOIN qdots d ON d.x = g.qid AND d.y = g.cid
      ) WHERE rk <= {_MMR_SHORTLIST}
    ),
    -- shortlist vectors FIRST, then the dimension join: with the
    -- original IN (SELECT cid FROM sl) predicates the planner left
    -- both semi joins ABOVE the d-join, evaluating the unrestricted
    -- v x v dimension product (~1.6e11 rows at sf1 — the 85-95 GB
    -- balloon measured in r10 and re-measured solo in r11); the
    -- explicit pre-filtered sides pin the join input to
    -- shortlist x dims rows
    slc AS MATERIALIZED (SELECT DISTINCT cid FROM sl),
    vs AS MATERIALIZED (
      SELECT v.doc_id, v.d, v.val
      FROM v JOIN slc ON slc.cid = v.doc_id
    ),
    sdots AS MATERIALIZED (
      SELECT a.doc_id AS x, b.doc_id AS y, SUM(a.val * b.val) AS dot
      FROM vs a JOIN vs b ON b.d = a.d
      GROUP BY x, y
    ),
    sim AS MATERIALIZED (
      SELECT s1.qid, s1.cid AS a, s2.cid AS b,
             CAST(COALESCE(d.dot, 0) AS BIGINT) AS sim
      FROM sl s1 JOIN sl s2 ON s2.qid = s1.qid AND s2.cid <> s1.cid
      LEFT JOIN sdots d ON d.x = s1.cid AND d.y = s2.cid
    ),
    sel1 AS MATERIALIZED (
      SELECT qid, cid, rel, rel AS mmr, 1 AS rank FROM (
        SELECT qid, cid, rel,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY rel DESC, cid) AS rk
        FROM sl
      ) WHERE rk = 1
    ),
    {", ".join(_mmr_step_cte(i) for i in range(2, _MMR_K + 1))}
    SELECT qid, CAST(rank AS INT) AS rank, cid AS doc_id, rel,
           mmr AS mmr_scaled
    FROM ({" UNION ALL ".join(f"SELECT * FROM sel{i}"
                              for i in range(1, _MMR_K + 1))})
    """,
)
def mmr_diverse_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm.text import hashed_doc_vectors

    docs = load_table(spark, sf_dir, "documents")
    vecs = hashed_doc_vectors(docs, dim=64)
    return llm_vectors.mmr_diversify(
        vecs,
        query_ids=[0, 1, 2, 3, 4],
        k=_MMR_K,
        shortlist=_MMR_SHORTLIST,
        lam_num=1,
        lam_den=2,
    )


# ---------------------------------------------------------------------------
# Deterministic epoch sharding (llm/curation.py:epoch_shards): the
# "shuffle and split for training workers" step with zero RNG state —
# shard from a salted hash, order within shard from the remaining
# bits, per-shard windows only (no global sort at any scale). The
# query returns each shard's size and first three documents; the
# oracle replays the same hash arithmetic.
# ---------------------------------------------------------------------------
@query(
    "epoch_shard_heads",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             ('0x' || substr(md5('epoch-0:' || CAST(doc_id AS VARCHAR)),
                             1, 15))::BIGINT AS h
      FROM documents
    ),
    s AS (
      SELECT doc_id, CAST(h % 8 AS INT) AS shard,
             ROW_NUMBER() OVER (PARTITION BY h % 8
                                ORDER BY h, doc_id) AS position
      FROM h
    )
    SELECT shard, CAST(position AS INT) AS position, doc_id
    FROM s WHERE position <= 3
    """,
)
def epoch_shard_heads(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm.curation import epoch_shards

    docs = load_table(spark, sf_dir, "documents")
    shards = epoch_shards(docs, n_shards=8, epoch=0)
    return shards.filter(F.col("position") <= 3).select(
        "shard", F.col("position").cast("int").alias("position"), "doc_id"
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprint overlap (llm/text.py:winnow_fingerprints):
# the MOSS span detector — per-window minimum gram hashes guarantee a
# shared fingerprint for any shared substring of >= w+k-1 chars at
# ~2/(w+1) of the storage of the exact rolling-window profile. Per
# doc: fingerprints stored and how many also appear in another
# document. Oracle replays the identical hash/window arithmetic.
# ---------------------------------------------------------------------------
@query(
    "winnow_fingerprint_overlap",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, {llm_text.duck_winnow_fingerprints('text')} AS fps
      FROM documents
    ),
    x AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
    freq AS (SELECT fp, COUNT(DISTINCT doc_id) AS nd FROM x GROUP BY fp)
    SELECT x.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
           CAST(SUM(CASE WHEN freq.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared
    FROM x JOIN freq USING (fp)
    GROUP BY x.doc_id
    """,
)
def winnow_fingerprint_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # winnow_fingerprints emits each (doc, fp) once (per-doc
    # array_distinct, NULL-text docs dropped at the operator) and
    # documents.doc_id is a primary key (TESTDATA contract, asserted
    # by the dedup_exact_groups family), so the number of documents
    # sharing a fingerprint is a plain COUNT over the fp partition
    # — COUNT(DISTINCT doc_id) would need that same precondition
    # violated to differ, and the plain count keeps the window
    # map-combinable. One
    # window in place of the aggregate + join-back, so the whole
    # query is a single pipelined DAG (per-gram md5 -> fp shuffle ->
    # doc shuffle) and the map-side fingerprint pass (the operator's
    # md5 floor) runs exactly once
    fps = llm_text.winnow_fingerprints(docs).select(
        F.col("key").alias("doc_id"), "fp"
    )
    nd = F.count(F.lit(1)).over(Window.partitionBy("fp"))
    return (
        fps.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.sum((F.col("nd") >= 2).cast("long")).alias("n_shared"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR importance resampling (llm/curation.py:dsir_importance): Xie et
# al. 2023 — hashed unigram+bigram bucket distributions for a TARGET
# slice (lang = 'en') vs the raw corpus, add-one smoothed; a document
# is kept when its summed log importance weight is >= 0 (more
# target-like than corpus-like). Floats never enter the hash: the
# per-doc sum folds integer (ct, cr) pairs in integer order on both
# engines and the output is the integer feature count plus the keep
# DECISION (same libm-noise discipline as perplexity_filter_stats).
# ---------------------------------------------------------------------------
@query(
    "dsir_importance_keep",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
    ),
    fb AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(g), 1, 15))::BIGINT % 1024 AS b
      FROM (
        SELECT doc_id, lang,
               unnest(ws || list_transform(range(1, len(ws)),
                      i -> ws[i] || ' ' || ws[i + 1])) AS g
        FROM toks
      )
    ),
    raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM fb GROUP BY b),
    tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct
            FROM fb WHERE lang = 'en' GROUP BY b),
    tot AS (SELECT (SELECT COUNT(*) FROM fb) AS nr,
                   (SELECT COUNT(*) FROM fb WHERE lang = 'en') AS nt),
    t AS (
      SELECT fb.doc_id, COALESCE(tgt.ct, 0) AS ct, raw.cr,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM fb JOIN raw USING (b) LEFT JOIN tgt USING (b)
      GROUP BY fb.doc_id, ct, raw.cr
    ),
    d AS (
      SELECT doc_id,
             list_sum(list(n * (ln((ct + 1)::DOUBLE)
                                - ln((tot.nt + 1024)::DOUBLE)
                                - ln((cr + 1)::DOUBLE)
                                + ln((tot.nr + 1024)::DOUBLE))
                           ORDER BY ct, cr)) AS w,
             SUM(n) AS n_feats
      FROM t, tot GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats, w >= 0.0 AS kept
    FROM d
    """,
)
def dsir_importance_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm.curation import dsir_importance

    docs = load_table(spark, sf_dir, "documents")
    return dsir_importance(
        docs, docs.filter(F.col("lang") == "en")
    ).select(F.col("key").alias("doc_id"), "n_feats", "kept")


# ---------------------------------------------------------------------------
# DSIR step 2 — the actual importance RESAMPLER (llm/curation.py:
# dsir_resample): 200 documents drawn without replacement with
# probability proportional to exp(w), via the A-ES machinery in log
# space (r = ln(-ln(u)) - w ranks identically to -ln(u)/exp(w), no
# overflow). The oracle rebuilds the identical log weights (integer-
# ordered fold, as dsir_importance_keep) and replays the identical
# A-ES draw; output columns are the doc id and integer feature count.
# ---------------------------------------------------------------------------
@query(
    "dsir_resample_topn",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
    ),
    fb AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(g), 1, 15))::BIGINT % 1024 AS b
      FROM (
        SELECT doc_id, lang,
               unnest(ws || list_transform(range(1, len(ws)),
                      i -> ws[i] || ' ' || ws[i + 1])) AS g
        FROM toks
      )
    ),
    raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM fb GROUP BY b),
    tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct
            FROM fb WHERE lang = 'en' GROUP BY b),
    tot AS (SELECT (SELECT COUNT(*) FROM fb) AS nr,
                   (SELECT COUNT(*) FROM fb WHERE lang = 'en') AS nt),
    t AS (
      SELECT fb.doc_id, COALESCE(tgt.ct, 0) AS ct, raw.cr,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM fb JOIN raw USING (b) LEFT JOIN tgt USING (b)
      GROUP BY fb.doc_id, ct, raw.cr
    ),
    d AS (
      SELECT doc_id,
             list_sum(list(n * (ln((ct + 1)::DOUBLE)
                                - ln((tot.nt + 1024)::DOUBLE)
                                - ln((cr + 1)::DOUBLE)
                                + ln((tot.nr + 1024)::DOUBLE))
                           ORDER BY ct, cr)) AS w,
             SUM(n) AS n_feats
      FROM t, tot GROUP BY doc_id
    ),
    scored AS (
      SELECT doc_id, n_feats,
             ln(-ln((('0x' || substr(md5('wsample-0:' ||
                 CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT + 1)
               / 281474976710656.0)) - w AS r
      FROM d
    )
    SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats
    FROM scored ORDER BY r, doc_id LIMIT 200
    """,
)
def dsir_resample_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm.curation import dsir_resample

    docs = load_table(spark, sf_dir, "documents")
    return dsir_resample(
        docs, docs.filter(F.col("lang") == "en"), 200
    ).select(F.col("key").alias("doc_id"), "n_feats")


# ---------------------------------------------------------------------------
# Autocorrelation function of the daily revenue series: lag-1..7
# Pearson correlation of the series with its lagged self (pairwise-
# complete pairs — the sample cross-correlation form). All six moments
# accumulate in exact decimal; doubles only in the closed form, wide
# sums entering through the floor-split cast (_dec_double) so the
# expression tree is bit-identical across engines. Scale shape: the
# daily aggregate is one map-side-combined shuffle; the lag window runs
# over the DAYS-sized series (~1e2 rows per year — driver-bounded at
# any corpus size), so the single-partition window is not a scale
# hazard.
# ---------------------------------------------------------------------------
_ACF_LAGS = range(1, 8)


@query(
    "daily_revenue_acf",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS rev
      FROM events GROUP BY day
    ),
    lagged AS (
      SELECT rev,
             {', '.join(f'lag(rev, {L}) OVER (ORDER BY day) AS l{L}' for L in _ACF_LAGS)}
      FROM daily
    ),
    pairs AS (
      {' UNION ALL '.join(f"SELECT {L} AS lag, rev, l{L} AS prev FROM lagged WHERE l{L} IS NOT NULL" for L in _ACF_LAGS)}
    ),
    m AS (
      SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             SUM(rev) AS sx, SUM(prev) AS sy,
             SUM(CAST(rev AS DECIMAL(19,6)) * CAST(prev AS DECIMAL(19,6))) AS sxy,
             SUM(CAST(rev AS DECIMAL(19,6)) * CAST(rev AS DECIMAL(19,6))) AS sxx,
             SUM(CAST(prev AS DECIMAL(19,6)) * CAST(prev AS DECIMAL(19,6))) AS syy
      FROM pairs GROUP BY lag
    )
    SELECT lag, n_pairs,
           (CAST(n_pairs AS DOUBLE) * {_duck_dec_double("sxy")}
            - {_duck_dec_double("sx")} * {_duck_dec_double("sy")})
           / (sqrt(CAST(n_pairs AS DOUBLE) * {_duck_dec_double("sxx")}
                   - {_duck_dec_double("sx")} * {_duck_dec_double("sx")})
              * sqrt(CAST(n_pairs AS DOUBLE) * {_duck_dec_double("syy")}
                     - {_duck_dec_double("sy")} * {_duck_dec_double("sy")}))
             AS acf
    FROM m ORDER BY lag
    """,
)
def daily_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("decimal(18,6)")
        .alias("rev")
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "rev",
        *[F.lag("rev", L).over(w).alias(f"l{L}") for L in _ACF_LAGS],
    )
    stack_args = ", ".join(f"{L}, l{L}" for L in _ACF_LAGS)
    pairs = lagged.select(
        "rev",
        F.expr(
            f"stack({len(_ACF_LAGS)}, {stack_args}) as (lag, prev)"
        ),
    ).filter(F.col("prev").isNotNull())
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("rev").alias("sx"),
        F.sum("prev").alias("sy"),
        F.sum(F.col("rev") * F.col("prev")).alias("sxy"),
        F.sum(F.col("rev") * F.col("rev")).alias("sxx"),
        F.sum(F.col("prev") * F.col("prev")).alias("syy"),
    )
    nd = F.col("n_pairs").cast("double")
    sx, sy = _dec_double(F.col("sx")), _dec_double(F.col("sy"))
    sxy = _dec_double(F.col("sxy"))
    sxx, syy = _dec_double(F.col("sxx")), _dec_double(F.col("syy"))
    acf = (nd * sxy - sx * sy) / (
        F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)
    )
    return m.select(
        F.col("lag").cast("int").alias("lag"), "n_pairs", acf.alias("acf")
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters (functions/sketches.py): build a 4x256
# CMS over event user_ids, estimate the top-20 exact users, and emit
# the no-underestimate CONTRACT (est_n >= exact_n — the deterministic
# CMS theorem, checked per key). All integers; the oracle rebuilds the
# identical md5-hashed cells, so estimates match bit-exactly.
# ---------------------------------------------------------------------------
@query(
    "cms_user_count_estimates",
    oracle="""
    WITH keys AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
    seeds AS (SELECT unnest(range(4)) AS seed),
    cells AS (
      SELECT seed,
             ('0x' || substr(md5('cms-' || CAST(seed AS VARCHAR)
                                 || ':' || k), 1, 15))::BIGINT % 256
               AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM keys, seeds GROUP BY seed, bucket
    ),
    exact AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS exact_n FROM keys
      GROUP BY k ORDER BY exact_n DESC, k LIMIT 20
    )
    SELECT e.k AS user_id, e.exact_n, MIN(c.c) AS est_n,
           MIN(c.c) >= e.exact_n AS no_underestimate
    FROM exact e
    JOIN seeds s ON TRUE
    JOIN cells c
      ON c.seed = s.seed
     AND c.bucket = ('0x' || substr(md5('cms-' || CAST(s.seed AS VARCHAR)
                                        || ':' || e.k), 1, 15))::BIGINT % 256
    GROUP BY e.k, e.exact_n
    """,
)
def cms_user_count_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.functions.sketches import (
        cms_cells,
        cms_estimate,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("user_id")
    )
    cells = cms_cells(ev, "user_id")
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "user_id")
        .limit(20)
    )
    est = cms_estimate(cells, exact, "user_id")
    return est.select(
        "user_id",
        "exact_n",
        "est_n",
        (F.col("est_n") >= F.col("exact_n")).alias("no_underestimate"),
    )


# ---------------------------------------------------------------------------
# KMV sketch set operations (functions/sketches.py:kmv_hashes/
# kmv_set_ops, Beyer et al. 2007): estimated union / intersection /
# Jaccard of two distinct-user audiences (high-value clickers vs
# high-value purchasers) — the set algebra HLL registers cannot
# express. Every hash and k-min selection is md5-determined, so the
# oracle rebuilds both sketches and replays the estimators exactly;
# output pairs each estimate's floor with the exact truth.
# ---------------------------------------------------------------------------
_KMV_ORACLE_SK = """
      SELECT DISTINCT ('0x' || substr(md5('kmv:' ||
               CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM events WHERE event_type = '{et}' AND value > 150
      ORDER BY h LIMIT 64
"""


@query(
    "kmv_audience_overlap",
    oracle=f"""
    WITH ska AS ({_KMV_ORACLE_SK.format(et="click")}),
    skb AS ({_KMV_ORACLE_SK.format(et="purchase")}),
    merged AS (
      SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
      ORDER BY h LIMIT 64
    ),
    stats AS (
      SELECT (SELECT COUNT(*) FROM merged) AS n_merged,
             (SELECT MAX(h) FROM merged) AS kth,
             (SELECT COUNT(*) FROM merged
              WHERE h IN (SELECT h FROM ska)
                AND h IN (SELECT h FROM skb)) AS n_both
    ),
    est AS (
      SELECT n_merged,
             CASE WHEN n_merged < 64 THEN CAST(n_merged AS DOUBLE)
                  ELSE 63.0 / (CAST(kth AS DOUBLE)
                               / 1152921504606846976.0) END AS union_est,
             CAST(n_both AS DOUBLE) / CAST(n_merged AS DOUBLE) AS rho
      FROM stats
    ),
    exact AS (
      SELECT
        (SELECT COUNT(DISTINCT user_id) FROM events
         WHERE event_type = 'click' AND value > 150) AS exact_a,
        (SELECT COUNT(DISTINCT user_id) FROM events
         WHERE event_type = 'purchase' AND value > 150) AS exact_b,
        (SELECT COUNT(*) FROM
          (SELECT DISTINCT user_id FROM events
           WHERE event_type = 'click' AND value > 150)
         WHERE user_id IN
          (SELECT user_id FROM events
           WHERE event_type = 'purchase' AND value > 150)) AS exact_ab
    )
    SELECT CAST(x.exact_a AS BIGINT) AS exact_a,
           CAST(x.exact_b AS BIGINT) AS exact_b,
           CAST(x.exact_ab AS BIGINT) AS exact_intersection,
           e.n_merged,
           CAST(floor(e.union_est) AS BIGINT) AS union_est_floor,
           CAST(floor(e.rho * e.union_est) AS BIGINT)
             AS intersection_est_floor
    FROM est e, exact x
    """,
)
def kmv_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.functions.sketches import (
        kmv_hashes,
        kmv_set_ops,
    )

    ev = load_table(spark, sf_dir, "events")
    # ONE corpus scan: both audiences' distinct member sets come out
    # of a single filtered distinct, checkpointed — the sketch builds,
    # the exact counters, and the semi join all reuse it (plan audit:
    # 10 scans -> 1). KMV over the distinct set equals KMV over the
    # multiset (k smallest hashes ignore multiplicity).
    base = (
        ev.filter(
            F.col("event_type").isin("click", "purchase")
            & (F.col("value") > 150)
        )
        .select("event_type", "user_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    a = base.filter(F.col("event_type") == "click").select("user_id")
    b = base.filter(F.col("event_type") == "purchase").select(
        "user_id"
    )
    # k-row sketches: checkpointed so set_ops' multiple semi joins
    # replay k rows, not the scan
    ska = kmv_hashes(a, "user_id").localCheckpoint(eager=True)
    skb = kmv_hashes(b, "user_id").localCheckpoint(eager=True)
    ops = kmv_set_ops(ska, skb)
    ex = (
        a.agg(F.count(F.lit(1)).alias("exact_a"))
        .crossJoin(b.agg(F.count(F.lit(1)).alias("exact_b")))
        .crossJoin(
            a.join(b, "user_id", "left_semi")
            .agg(F.count(F.lit(1)).alias("exact_intersection"))
        )
    )
    return ops.crossJoin(F.broadcast(ex)).select(
        "exact_a",
        "exact_b",
        "exact_intersection",
        "n_merged",
        F.floor("union_est").cast("long").alias("union_est_floor"),
        F.floor("intersection_est")
        .cast("long")
        .alias("intersection_est_floor"),
    )


# ---------------------------------------------------------------------------
# HyperLogLog as a relational plan (functions/sketches.py:
# hll_registers/hll_estimate): unlike approx_count_distinct (whose
# internal sketch bytes no other engine reproduces), every step is
# md5-determined integer arithmetic — the oracle rebuilds the 256
# registers and replays the estimator (register-ordered float fold,
# shared literal constants) bit-for-bit. Output: exact distinct count,
# registers set, floor(estimate), and the relative-error contract.
# ---------------------------------------------------------------------------
_HLL_M = 256
_HLL_ALPHA_M2 = (0.7213 / (1.0 + 1.079 / _HLL_M)) * _HLL_M * _HLL_M


# ---------------------------------------------------------------------------
# Triangle counting (operators/graph.py:triangle_count) on the
# frequently-co-ordered-parts graph: nodes are parts, an edge joins
# two parts co-ordered in >= 2 distinct orders (the weight prune
# keeps the graph at signal density — raw co-order pairs are mostly
# one-off noise). The Spark side runs the degree-ORIENTED wedge join
# (each triangle counted once from its min-rank vertex, out-degrees
# O(sqrt m)); the oracle counts the same triangles with the simple
# u<v<w three-way join — orientation changes the COST, never the
# count, which is exactly what the hash compare pins.
# ---------------------------------------------------------------------------
@query(
    "part_coorder_triangles",
    oracle="""
    WITH it AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM it a JOIN it b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY u, v HAVING COUNT(*) >= 2
    ),
    nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
    tri AS (
      SELECT COUNT(*) AS n
      FROM e e1 JOIN e e2 ON e2.u = e1.v
                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST(tri.n AS BIGINT) AS n_triangles
    FROM tri
    """,
)
def part_coorder_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.graph import triangle_count

    it = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = it.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u")
    )
    b = it.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v")
    )
    edges = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
    )
    return triangle_count(edges)


# ---------------------------------------------------------------------------
# k-core decomposition (operators/graph.py:kcore) of the same
# co-order graph: bounded whole-round peeling to the unique maximal
# subgraph where every part keeps >= 3 co-order neighbors — the dense
# backbone community-detection and graph-sampling pipelines start
# from. Output is the core's degree histogram, which doubles as the
# convergence certificate: any deg < 3 row would mean the 12 rounds
# didn't reach the fixpoint (at sf0.01 it converges in 10). The
# oracle replays the SAME 12 whole-round peels as unrolled CTEs —
# peeling is order-confluent, so round-for-round equality is the
# strongest check available, and it holds at ANY scale factor by
# construction (both engines stop after the same round count).
# ---------------------------------------------------------------------------
_KCORE_K = 3
_KCORE_ROUNDS = 12


def _kcore_round_cte(i: int) -> str:
    # AS MATERIALIZED stops DuckDB's CTE inlining — each round
    # references the previous three times, so inlined expansion would
    # be 3^rounds scans of the base table
    return (
        f"d{i} AS MATERIALIZED (SELECT src FROM (SELECT src, COUNT(*) "
        f"AS dg FROM r{i - 1} GROUP BY src) WHERE dg >= {_KCORE_K}), "
        f"r{i} AS MATERIALIZED (SELECT c.src, c.dst FROM r{i - 1} c "
        f"JOIN d{i} k1 ON k1.src = c.src "
        f"JOIN d{i} k2 ON k2.src = c.dst)"
    )


@query(
    "part_coorder_kcore",
    oracle=f"""
    WITH it AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM it a JOIN it b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY u, v HAVING COUNT(*) >= 2
    ),
    r0 AS (SELECT u AS src, v AS dst FROM e
           UNION ALL SELECT v, u FROM e),
    {",".join(_kcore_round_cte(i) for i in range(1, _KCORE_ROUNDS + 1))},
    core AS (SELECT src AS node, COUNT(*) AS deg
             FROM r{_KCORE_ROUNDS} GROUP BY src)
    SELECT CAST(deg AS BIGINT) AS deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM core GROUP BY deg ORDER BY deg
    """,
)
def part_coorder_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.graph import kcore

    it = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = it.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u")
    )
    b = it.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v")
    )
    edges = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
    )
    core = kcore(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)
    return (
        core.groupBy("deg")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("deg")
    )


# ---------------------------------------------------------------------------
# Classical seasonal decomposition of the daily revenue series:
# trend = 7-day centered moving average (full windows only),
# seasonal = per-ISO-weekday mean of the detrended series, residual =
# detrended - seasonal. The additive decomposition every ops
# dashboard runs. Determinism discipline: daily revenue accumulates
# in exact decimal; the trend is an exact-decimal 7-day sum divided
# once; the per-weekday means fold the (day, value) pairs in DAY
# ORDER on both engines (the DSIR/perplexity sorted-fold pattern), so
# every double is bit-identical. Window shape: the series is
# days-sized (pre-aggregated), so the unpartitioned ordered window
# runs over a bounded frame — same bounded-window argument as
# daily_revenue_acf.
# ---------------------------------------------------------------------------
@query(
    "daily_revenue_seasonal",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS rev
      FROM events GROUP BY day
    ),
    tr AS (
      SELECT day, rev,
             CASE WHEN COUNT(*) OVER w = 7
                  THEN CAST(SUM(rev) OVER w AS DOUBLE) / 7.0
             END AS trend
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
      SELECT day, isodow(day) AS dow,
             CAST(rev AS DOUBLE) - trend AS det
      FROM tr WHERE trend IS NOT NULL
    ),
    seas AS (
      SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
             list_sum(list(det ORDER BY day)) / COUNT(*) AS seasonal
      FROM det GROUP BY dow
    )
    SELECT s.dow, s.n_days, s.seasonal,
           list_sum(list(abs(d.det - s.seasonal) ORDER BY d.day))
             / s.n_days AS mean_abs_residual
    FROM det d JOIN seas s USING (dow)
    GROUP BY s.dow, s.n_days, s.seasonal
    """,
)
def daily_revenue_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("decimal(18,6)")
        .alias("rev")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "rev",
        F.when(
            F.count(F.lit(1)).over(w) == 7,
            F.sum("rev").over(w).cast("double") / F.lit(7.0),
        ).alias("trend"),
    )
    det = tr.filter(F.col("trend").isNotNull()).select(
        "day",
        (F.weekday("day") + F.lit(1)).alias("dow"),
        (F.col("rev").cast("double") - F.col("trend")).alias("det"),
    )

    def day_ordered_mean(value_col):
        return F.aggregate(
            F.sort_array(F.collect_list(F.struct("day", value_col))),
            F.lit(0.0),
            lambda acc, x: acc + x[value_col],
        ) / F.count(F.lit(1))

    seas = det.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_days"),
        day_ordered_mean("det").alias("seasonal"),
    )
    resid = det.join(seas, "dow").select(
        "dow",
        "n_days",
        "seasonal",
        "day",
        F.abs(F.col("det") - F.col("seasonal")).alias("ares"),
    )
    return resid.groupBy("dow", "n_days", "seasonal").agg(
        day_ordered_mean("ares").alias("mean_abs_residual")
    )


@query(
    "hll_user_cardinality",
    oracle=f"""
    WITH h AS (
      SELECT ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)),
              1, 15))::BIGINT AS hv
      FROM events
    ),
    regs AS (
      SELECT CAST(hv % {_HLL_M} AS INT) AS reg,
             MAX(CASE WHEN hv // {_HLL_M} = 0 THEN 53
                      ELSE 53 - length(bin(hv // {_HLL_M})) END) AS rho
      FROM h GROUP BY reg
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_set,
             list_sum(list(pow(2.0, -rho) ORDER BY reg)) AS s_set
      FROM regs
    ),
    est AS (
      SELECT n_set,
             CASE WHEN {_HLL_ALPHA_M2!r} / (s_set + ({_HLL_M} - n_set))
                       <= {2.5 * _HLL_M!r}
                   AND n_set < {_HLL_M}
                  THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r}
                       / CAST({_HLL_M} - n_set AS DOUBLE))
                  ELSE {_HLL_ALPHA_M2!r} / (s_set + ({_HLL_M} - n_set))
             END AS estimate
      FROM agg
    ),
    exact AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
              FROM events)
    SELECT e.n_exact,
           s.n_set AS n_registers_set,
           CAST(floor(s.estimate) AS BIGINT) AS estimate_floor,
           abs(s.estimate - e.n_exact) / e.n_exact < 0.2 AS rel_err_ok
    FROM est s, exact e
    """,
)
def hll_user_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.functions.sketches import (
        hll_estimate,
        hll_registers,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id")
    est = hll_estimate(hll_registers(ev, "user_id"))
    exact = ev.agg(F.count_distinct("user_id").alias("n_exact"))
    return est.crossJoin(F.broadcast(exact)).select(
        "n_exact",
        "n_registers_set",
        F.floor("estimate").cast("long").alias("estimate_floor"),
        (
            F.abs(F.col("estimate") - F.col("n_exact"))
            / F.col("n_exact")
            < 0.2
        ).alias("rel_err_ok"),
    )


# ---------------------------------------------------------------------------
# Per-group HLL (the sketch as a groupBy DIMENSION): one register
# table per day in a single pass, one estimate per day — the shape a
# daily-uniques dashboard maintains incrementally (each day's
# registers also MERGE with late data by max). Same bit-exact oracle
# machinery as hll_user_cardinality, replayed per group.
# ---------------------------------------------------------------------------
@query(
    "hll_daily_user_cardinality",
    oracle=f"""
    WITH h AS (
      SELECT CAST(ts AS DATE) AS day,
             ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)),
              1, 15))::BIGINT AS hv
      FROM events
    ),
    regs AS (
      SELECT day, CAST(hv % {_HLL_M} AS INT) AS reg,
             MAX(CASE WHEN hv // {_HLL_M} = 0 THEN 53
                      ELSE 53 - length(bin(hv // {_HLL_M})) END) AS rho
      FROM h GROUP BY day, reg
    ),
    agg AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS n_set,
             list_sum(list(pow(2.0, -rho) ORDER BY reg)) AS s_set
      FROM regs GROUP BY day
    ),
    est AS (
      SELECT day, n_set,
             CASE WHEN {_HLL_ALPHA_M2!r} / (s_set + ({_HLL_M} - n_set))
                       <= {2.5 * _HLL_M!r}
                   AND n_set < {_HLL_M}
                  THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r}
                       / CAST({_HLL_M} - n_set AS DOUBLE))
                  ELSE {_HLL_ALPHA_M2!r} / (s_set + ({_HLL_M} - n_set))
             END AS estimate
      FROM agg
    ),
    exact AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY day
    )
    SELECT e.day, x.n_exact, e.n_set AS n_registers_set,
           CAST(floor(e.estimate) AS BIGINT) AS estimate_floor
    FROM est e JOIN exact x USING (day)
    """,
)
def hll_daily_user_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.functions.sketches import (
        hll_estimate,
        hll_registers,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    est = hll_estimate(
        hll_registers(ev, "user_id", group_cols=("day",)),
        group_cols=("day",),
    )
    exact = ev.groupBy("day").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return est.join(exact, "day").select(
        "day",
        "n_exact",
        "n_registers_set",
        F.floor("estimate").cast("long").alias("estimate_floor"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership (functions/sketches.py:bloom_bits/probe):
# build a 4096-bit / 4-hash filter over the custkeys that placed
# URGENT orders (a strict subset — this corpus gives every customer
# SOME order, so probing against all orders would leave no negative
# population), probe EVERY customer, and cross-tabulate the sketch's
# answer against ground truth. The Bloom theorem shows up as a
# structural fact in the output: the (in_build=true,
# maybe_present=false) cell is absent — no false negatives — while
# the false-positive cell is whatever the md5 bits make it,
# reproduced exactly by the oracle.
# The 100-TB use is the pre-join filter: broadcast the KB-sized bit
# table to cheaply drop most of a corpus-sized stream before an
# expensive decontamination or anti join.
# ---------------------------------------------------------------------------
@query(
    "bloom_membership_stats",
    oracle="""
    WITH seeds AS (SELECT unnest(range(4)) AS seed),
    build AS (SELECT o_custkey FROM orders
              WHERE o_orderpriority = '1-URGENT'),
    bpos AS (
      SELECT DISTINCT
             ('0x' || substr(md5('bloom-' || CAST(seed AS VARCHAR)
                 || ':' || CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
               % 4096 AS pos
      FROM build, seeds
    ),
    probe AS (
      SELECT c.c_custkey,
             s.seed,
             ('0x' || substr(md5('bloom-' || CAST(s.seed AS VARCHAR)
                 || ':' || CAST(c.c_custkey AS VARCHAR)), 1, 15))::BIGINT
               % 4096 AS pos
      FROM customer c, seeds s
    ),
    verdict AS (
      SELECT c_custkey,
             SUM(CASE WHEN pos IN (SELECT pos FROM bpos)
                      THEN 1 ELSE 0 END) = 4 AS maybe_present
      FROM probe GROUP BY c_custkey
    ),
    truth AS (
      SELECT c_custkey,
             c_custkey IN (SELECT o_custkey FROM build) AS in_build
      FROM customer
    )
    SELECT t.in_build, v.maybe_present,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM verdict v JOIN truth t USING (c_custkey)
    GROUP BY t.in_build, v.maybe_present
    """,
)
def bloom_membership_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.functions.sketches import (
        bloom_bits,
        bloom_probe,
    )

    build = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    bits = bloom_bits(build, "o_custkey")
    probed = bloom_probe(bits, cust, "c_custkey")
    truth = build.distinct().withColumn("__in", F.lit(True))
    return (
        probed.join(
            truth, probed["c_custkey"] == truth["o_custkey"], "left"
        )
        .select(
            F.coalesce("__in", F.lit(False)).alias("in_build"),
            "maybe_present",
        )
        .groupBy("in_build", "maybe_present")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# BM25 full-text ranking (llm/text.py:bm25_topk): disjunctive search
# over the same three terms as the conjunctive inverted-index query,
# ranked by a FIXED-POINT BM25 (k1=6/5, b=3/4). The score is a rational
# function of integer corpus statistics, scaled by 1e6 and floored in
# DECIMAL(38,0) integer division, so per-document scores are exact
# BIGINTs — the ranking is bit-stable in any aggregation order and the
# oracle replays the identical arithmetic in HUGEINT. The rational
# Robertson idf (no log) keeps libm out of the plan entirely.
# ---------------------------------------------------------------------------
@query(
    "bm25_search_topk",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), w2 AS (SELECT * FROM words WHERE term <> ''),
    dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
      FROM w2 GROUP BY doc_id
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS total_len
      FROM dl
    ),
    tf AS (
      SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      FROM w2
      WHERE term IN ({", ".join(f"'{t}'" for t in _SEARCH_TERMS)})
      GROUP BY term, doc_id
    ),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
           FROM tf GROUP BY term),
    scored AS (
      SELECT doc_id,
             CAST((1000000::HUGEINT * (2*n_docs - 2*df + 1) * 44
                   * tf * total_len)
                  // ((2*df + 1)::HUGEINT
                      * (20::HUGEINT*tf*total_len
                         + 6::HUGEINT*total_len
                         + 18::HUGEINT*dl*n_docs)) AS BIGINT) AS s
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
      CROSS JOIN tot
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
           CAST(SUM(s) AS BIGINT) AS score_fp
    FROM scored GROUP BY doc_id
    ORDER BY score_fp DESC, doc_id LIMIT 20
    """,
)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return llm_text.bm25_topk(
        load_table(spark, sf_dir, "documents"), _SEARCH_TERMS, top_k=20
    )


# ---------------------------------------------------------------------------
# Label-propagation community detection (operators/graph.py:
# label_propagation): communities of part brands over the weighted
# co-order graph (brands bought in the same order), four SYNCHRONOUS
# iterations with a (max vote, min label) total-order update — a pure
# function of the edge list, no RNG or visit order, so the oracle
# replays the exact schedule as four chained CTEs. The registered
# graph is schema-bounded (brand vocabulary); the operator itself is
# per-iteration one neighbor-keyed equi join + one (node, label)
# aggregation + one arg-max window, the same round shape that lets
# connected_components_star run at any edge-list scale.
# ---------------------------------------------------------------------------
def _lpa_iteration_sql(prev: str, cur: str) -> str:
    return f"""
    v{cur} AS (
      SELECT a.src AS node, l.label, SUM(a.w) AS vote
      FROM adj a JOIN l{prev} l ON l.node = a.dst
      GROUP BY a.src, l.label
    ),
    l{cur} AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY vote DESC, label) AS rk
        FROM v{cur})
      WHERE rk = 1
    )"""


@query(
    "brand_community_labels",
    oracle=f"""
    WITH ob AS (
      SELECT DISTINCT l_orderkey, p_brand AS brand
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    e0 AS (
      SELECT a.brand AS u, b.brand AS v, CAST(COUNT(*) AS BIGINT) AS w
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.brand < b.brand
      GROUP BY a.brand, b.brand
    ),
    adj AS (SELECT u AS src, v AS dst, w FROM e0
            UNION ALL
            SELECT v AS src, u AS dst, w FROM e0),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM adj),
    {_lpa_iteration_sql('0', '1')},
    {_lpa_iteration_sql('1', '2')},
    {_lpa_iteration_sql('2', '3')},
    {_lpa_iteration_sql('3', '4')}
    SELECT node AS brand, label FROM l4
    """,
)
def brand_community_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select("l_orderkey", F.col("p_brand").alias("brand"))
        .distinct()
    )
    a, b = ob.alias("a"), ob.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("u"), F.col("b.brand").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    labels = label_propagation(edges, iterations=4, weight_col="w")
    return labels.select(F.col("node").alias("brand"), "label")


# ---------------------------------------------------------------------------
# Frequent itemsets: brand TRIPLES bought in the same order with
# relative support >= 1/500 of all orders. The scalable Spark shape is
# per-order BASKET arrays + a codegen'd generate chain, not fact
# self-joins: fold each order's distinct brands into one sorted array
# (ONE shuffle, rows = orders), then expand i<j<k combinations with
# three posexplode/slice steps — Generate + slice stay inside
# whole-stage codegen, where the earlier nested higher-order-function
# expansion ran interpreted (5x slower) and the original three-way
# self-join went superlinear at the sf10 decade (12.5x time at 10x
# data, three sort-merge passes over the fact spilling locally).
# Apriori candidate pruning is deliberately ABSENT: the triple key
# space is schema-bounded (C(|brand vocabulary|, 3) <= 2300), so the
# support groupBy is already vocabulary-sized and downward-closure
# pruning buys nothing — that device matters for UNBOUNDED item
# vocabularies, where this engine's prefix-filtered similarity joins
# (llm/dedup.py PPJoin lanes) implement exactly the bounded-candidate
# discipline. Support threshold is relative, so the query is
# non-vacuous at every SF; oracle = brute-force triple join.
# ---------------------------------------------------------------------------
@query(
    "basket_brand_triples",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l_orderkey, p_brand AS brand
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    minsup AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) // 500 AS BIGINT) AS ms
      FROM ob
    )
    SELECT a.brand AS brand_a, b.brand AS brand_b, c.brand AS brand_c,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM ob a
    JOIN ob b ON a.l_orderkey = b.l_orderkey AND a.brand < b.brand
    JOIN ob c ON b.l_orderkey = c.l_orderkey AND b.brand < c.brand
    GROUP BY a.brand, b.brand, c.brand
    HAVING COUNT(*) >= (SELECT ms FROM minsup)
    ORDER BY n_orders DESC, brand_a, brand_b, brand_c
    LIMIT 50
    """,
)
def basket_brand_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = li.join(pt, li.l_partkey == pt.p_partkey).select(
        "l_orderkey", F.col("p_brand").alias("brand")
    )
    # No distinct: collect_set dedups inside the aggregation, so the
    # per-order fold is the query's ONLY fact-sized shuffle (with
    # map-side partial sets; a separate distinct would shuffle the
    # fact a second time on a different key).
    baskets = (
        ob.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("brand")).alias("bs"))
        # feeds the support count and the expansion: materialize once
        .localCheckpoint(eager=True)
    )
    minsup = baskets.agg(F.expr("count(1) div 500").alias("ms"))
    # i < j < k combination chain over the sorted array: each level
    # explodes one element and carries the remaining suffix, so the
    # work is exactly the number of emitted combinations.
    lvl1 = (
        baskets.select(F.posexplode("bs").alias("i", "x"), "bs")
        .select("x", F.expr("slice(bs, i + 2, size(bs))").alias("r1"))
        .filter(F.size("r1") >= 2)
    )
    lvl2 = (
        lvl1.select("x", F.posexplode("r1").alias("j", "y"), "r1")
        .select(
            "x", "y", F.expr("slice(r1, j + 2, size(r1))").alias("r2")
        )
        .filter(F.size("r2") >= 1)
    )
    tri_rows = lvl2.select("x", "y", F.explode("r2").alias("z"))
    return (
        tri_rows.groupBy(
            F.col("x").alias("brand_a"),
            F.col("y").alias("brand_b"),
            F.col("z").alias("brand_c"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .crossJoin(F.broadcast(minsup))
        .filter(F.col("n_orders") >= F.col("ms"))
        .select("brand_a", "brand_b", "brand_c", "n_orders")
        .orderBy(
            F.col("n_orders").desc(), "brand_a", "brand_b", "brand_c"
        )
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive training (llm/vectors.py:
# hard_negative_topk): per anchor, the top-10 most-similar vectors
# whose cosine is BELOW the near-duplicate bound (0.4 — the same
# threshold the embedding dedup lane uses), i.e. the most informative
# true negatives. Anchors 7/16/19/24/28 each HAVE at least one >= 0.4
# neighbor in the corpus, so the exclusion provably changes the
# result vs plain cosine top-k. Integer-only output; the cosines
# driving the ranking and the threshold run the same IEEE op sequence
# in both engines.
# ---------------------------------------------------------------------------
_HARDNEG_ANCHORS = [7, 16, 19, 24, 28]


@query(
    "contrastive_hard_negatives",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv
               FROM embeddings
               WHERE vec_id IN ({", ".join(str(i) for i in _HARDNEG_ANCHORS)})),
    s AS (SELECT qid, e.vec_id AS neighbor_id,
            list_sum(list_transform(range(1, len(qv) + 1),
                     i -> qv[i]::DOUBLE * e.embedding[i]::DOUBLE))
            / (sqrt(list_sum(list_transform(range(1, len(qv) + 1),
                     i -> qv[i]::DOUBLE * qv[i]::DOUBLE)))
               * sqrt(list_sum(list_transform(range(1, len(qv) + 1),
                     i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))))
            AS cos
          FROM q, embeddings e WHERE e.vec_id <> qid)
    SELECT qid, CAST(rk AS INT) AS rk, neighbor_id
    FROM (SELECT qid, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY cos DESC, neighbor_id) AS rk
          FROM s WHERE cos < 0.4)
    WHERE rk <= 10
    """,
)
def contrastive_hard_negatives(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return llm_vectors.hard_negative_topk(
        emb, query_ids=_HARDNEG_ANCHORS, k=10, exclude_threshold=0.4
    )


# ---------------------------------------------------------------------------
# Length-bucketed training batches: documents grouped into 8 fixed
# token-length bands, deterministically shuffled (salted 60-bit hash)
# and cut into 32-doc batches inside each band; the report is each
# band's PADDING overhead (sum over batches of batch_size * max_len -
# sum_len) — the quantity length bucketing exists to minimize. The
# windows run per (bucket, shard-of-8) — the epoch_shards discipline —
# so no window partition is corpus-sized and batch numbering stays a
# per-shard row_number, never a global sort; padding stats aggregate
# identically regardless of the sharding.
# ---------------------------------------------------------------------------
@query(
    "length_bucket_batch_stats",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             {llm_text.duck_token_hash60(
                 "'lenb:' || CAST(doc_id AS VARCHAR)")} AS h
      FROM documents
    ),
    placed AS (
      SELECT doc_id, n_tokens,
             LEAST(n_tokens // 64, 7) AS bucket,
             h % 8 AS shard, h
      FROM d
    ),
    batched AS (
      SELECT bucket, shard, n_tokens,
             (ROW_NUMBER() OVER (PARTITION BY bucket, shard
                                 ORDER BY h, doc_id) - 1) // 32 AS batch
      FROM placed
    ),
    per_batch AS (
      SELECT bucket, shard, batch,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(MAX(n_tokens) AS BIGINT) AS max_len,
             CAST(SUM(n_tokens) AS BIGINT) AS sum_len
      FROM batched GROUP BY bucket, shard, batch
    )
    SELECT bucket,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(n_docs * max_len - sum_len) AS BIGINT) AS pad_tokens,
           CAST(SUM(n_docs * max_len) AS BIGINT) AS padded_tokens,
           CAST(SUM(n_docs * max_len - sum_len) AS DOUBLE)
             / CAST(SUM(n_docs * max_len) AS DOUBLE) AS pad_fraction
    FROM per_batch GROUP BY bucket
    """,
)
def length_bucket_batch_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = llm_text.token_hash60(
        F.concat(F.lit("lenb:"), F.col("doc_id").cast("string"))
    )
    placed = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        h.alias("h"),
    ).select(
        "doc_id",
        "n_tokens",
        F.least(F.expr("n_tokens div 64"), F.lit(7).cast("long")).alias(
            "bucket"
        ),
        (F.col("h") % 8).alias("shard"),
        "h",
    )
    w = Window.partitionBy("bucket", "shard").orderBy("h", "doc_id")
    batched = placed.withColumn(
        "rn", F.row_number().over(w).cast("long")
    ).withColumn("batch", F.expr("(rn - 1) div 32"))
    per_batch = batched.groupBy("bucket", "shard", "batch").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n_tokens").alias("max_len"),
        F.sum("n_tokens").alias("sum_len"),
    )
    pad = F.col("n_docs") * F.col("max_len") - F.col("sum_len")
    return per_batch.groupBy("bucket").agg(
        F.sum("n_docs").alias("n_docs"),
        F.count(F.lit(1)).alias("n_batches"),
        F.sum(pad).alias("pad_tokens"),
        F.sum(F.col("n_docs") * F.col("max_len")).alias("padded_tokens"),
        (
            F.sum(pad).cast("double")
            / F.sum(F.col("n_docs") * F.col("max_len")).cast("double")
        ).alias("pad_fraction"),
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval with reciprocal-rank fusion (llm/text.py:rrf_fuse):
# the lexical lane (fixed-point BM25 top-20) and the semantic lane
# (hashing-trick query vector vs corpus vectors, cosine top-20) fused
# by RRF with k=60 — the standard retrieval-stack composition, and
# every stage of it integer-exact or identical-IEEE: BM25 scores are
# BIGINTs, the hash vectors are signed integer counts, and each RRF
# contribution is 1e9 div (60 + rank). The oracle replays BOTH lanes
# and the fusion — a green hash pins the whole hybrid stack. Both
# lanes end in TakeOrderedAndProject, so the fusion joins touch only
# k-sized lists regardless of corpus size.
# ---------------------------------------------------------------------------
@query(
    "rrf_hybrid_retrieval",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), w2 AS (SELECT * FROM words WHERE term <> ''),
    dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
      FROM w2 GROUP BY doc_id
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS total_len
      FROM dl
    ),
    tf AS (
      SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      FROM w2
      WHERE term IN ({", ".join(f"'{t}'" for t in _SEARCH_TERMS)})
      GROUP BY term, doc_id
    ),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
           FROM tf GROUP BY term),
    lexall AS (
      SELECT doc_id,
             CAST(SUM(CAST((1000000::HUGEINT
                            * (2*n_docs - 2*df + 1) * 44
                            * tf * total_len)
                  // ((2*df + 1)::HUGEINT
                      * (20::HUGEINT*tf*total_len
                         + 6::HUGEINT*total_len
                         + 18::HUGEINT*dl*n_docs)) AS BIGINT))
               AS BIGINT) AS score_fp
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
      CROSS JOIN tot
      GROUP BY doc_id
    ),
    lex AS (
      SELECT doc_id, CAST(rk AS INT) AS rk
      FROM (SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY score_fp DESC, doc_id)
                     AS rk
            FROM lexall)
      WHERE rk <= 20
    ),
    tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    pd AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(w), 1, 15))::BIGINT % 64 AS INT)
               AS d,
             CASE WHEN ((('0x' || substr(md5(w), 1, 15))::BIGINT >> 6)
                        & 1) = 0 THEN 1 ELSE -1 END AS sgn
      FROM tok
    ),
    v AS (SELECT doc_id, d, CAST(SUM(sgn) AS BIGINT) AS val
          FROM pd GROUP BY doc_id, d),
    nrm AS (SELECT doc_id, SUM(val * val) AS n2 FROM v GROUP BY doc_id),
    qtok AS (
      SELECT unnest(string_split('{" ".join(_SEARCH_TERMS)}', ' ')) AS w
    ),
    qpd AS (
      SELECT CAST(('0x' || substr(md5(w), 1, 15))::BIGINT % 64 AS INT)
               AS d,
             CASE WHEN ((('0x' || substr(md5(w), 1, 15))::BIGINT >> 6)
                        & 1) = 0 THEN 1 ELSE -1 END AS sgn
      FROM qtok
    ),
    qv AS (SELECT d, CAST(SUM(sgn) AS BIGINT) AS val
           FROM qpd GROUP BY d),
    qn AS (SELECT SUM(val * val) AS n2 FROM qv),
    dots AS (
      SELECT c.doc_id, SUM(q.val * c.val) AS dot
      FROM v c JOIN qv q USING (d)
      GROUP BY c.doc_id
    ),
    semall AS (
      SELECT n.doc_id,
             COALESCE(dots.dot, 0)::DOUBLE
               / (sqrt(qn.n2::DOUBLE) * sqrt(n.n2::DOUBLE)) AS cos
      FROM nrm n CROSS JOIN qn
      LEFT JOIN dots ON dots.doc_id = n.doc_id
      WHERE n.n2 > 0
    ),
    sem AS (
      SELECT doc_id, CAST(rk AS INT) AS rk
      FROM (SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS rk
            FROM semall)
      WHERE rk <= 20
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
             COALESCE(l.rk, 0) AS rank_1,
             COALESCE(s.rk, 0) AS rank_2,
             (CASE WHEN l.rk IS NULL THEN 0
                   ELSE 1000000000 // (60 + l.rk) END
              + CASE WHEN s.rk IS NULL THEN 0
                     ELSE 1000000000 // (60 + s.rk) END) AS rrf
      FROM lex l FULL JOIN sem s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, rank_1, rank_2, CAST(rrf AS BIGINT) AS rrf_fp
    FROM fused ORDER BY rrf_fp DESC, doc_id LIMIT 10
    """,
)
def rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm.text import (
        hashed_doc_vectors,
        rrf_fuse,
    )

    docs = load_table(spark, sf_dir, "documents")
    # lexical lane
    lex = llm_text.bm25_topk(docs, _SEARCH_TERMS, top_k=20)
    wl = Window.orderBy(F.col("score_fp").desc(), F.col("doc_id"))
    lex_ranked = lex.select(
        "doc_id", F.row_number().over(wl).alias("rk")
    )  # 20-row window
    # semantic lane: the query string embedded with the same hashing
    # trick as the corpus
    qdf = spark.createDataFrame(
        [(0, " ".join(_SEARCH_TERMS))], "doc_id long, text string"
    )
    dot_ll = lambda a, b: F.aggregate(  # noqa: E731 - integer fold
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    qv = (
        hashed_doc_vectors(qdf, dim=64)
        .select(
            F.col("vec").alias("qv"),
            dot_ll(F.col("vec"), F.col("vec")).alias("qn2"),
        )
        .filter(F.col("qn2") > 0)
    )
    cvecs = hashed_doc_vectors(docs, dim=64).select(
        F.col("key").alias("doc_id"),
        F.col("vec").alias("cv"),
        dot_ll(F.col("vec"), F.col("vec")).alias("cn2"),
    ).filter(F.col("cn2") > 0)
    cos = dot_ll(F.col("qv"), F.col("cv")).cast("double") / (
        F.sqrt(F.col("qn2").cast("double"))
        * F.sqrt(F.col("cn2").cast("double"))
    )
    sem_top = (
        cvecs.crossJoin(F.broadcast(qv))
        .select("doc_id", cos.alias("cos"))
        .orderBy(F.col("cos").desc(), F.col("doc_id"))
        .limit(20)
    )
    ws = Window.orderBy(F.col("cos").desc(), F.col("doc_id"))
    sem_ranked = sem_top.select(
        "doc_id", F.row_number().over(ws).alias("rk")
    )  # 20-row window
    fused = rrf_fuse([lex_ranked, sem_ranked], top_k=10)
    return fused.select(
        F.col("key").alias("doc_id"), "rank_1", "rank_2", "rrf_fp"
    )


# ---------------------------------------------------------------------------
# Bounded-horizon BFS layers (operators/graph.py:bfs_layers): hop
# distances from part 1 over the part co-order graph, reported as the
# layer-size histogram (bounded output: max_hops + 2 rows at any
# corpus size). The operator is frontier-based — each round joins only
# the newly-reached layer against the adjacency list; the oracle
# replays the same four rounds as chained min-plus relaxation CTEs
# (equal by construction for unit weights within the horizon).
# ---------------------------------------------------------------------------
def _bfs_round_sql(prev: str, cur: str) -> str:
    # MATERIALIZED: each d{prev} is referenced twice, so without it
    # DuckDB inlines the whole chain — 2^rounds re-evaluations of the
    # co-order pair join, the 58 GB spill that blew the r10 sf1 sweep.
    # Pinning each round to one evaluation makes the oracle replay
    # linear in rounds, same recipe as curate_corpus_dispositions.
    return f"""
    d{cur} AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{prev}
        UNION ALL
        SELECT a.dst AS node, d.dist + 1 AS dist
        FROM adj a JOIN d{prev} d ON a.src = d.node
      ) GROUP BY node
    )"""


@query(
    "part_coorder_bfs_layers",
    oracle=f"""
    WITH it AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM it a JOIN it b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    adj AS MATERIALIZED (
      SELECT u AS src, v AS dst FROM e
      UNION ALL SELECT v AS src, u AS dst FROM e),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM adj),
    d0 AS (SELECT node, 0 AS dist FROM nodes WHERE node = 1),
    {_bfs_round_sql('0', '1')},
    {_bfs_round_sql('1', '2')},
    {_bfs_round_sql('2', '3')},
    {_bfs_round_sql('3', '4')}
    SELECT CAST(COALESCE(d.dist, -1) AS INT) AS dist,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM nodes n LEFT JOIN d4 d USING (node)
    GROUP BY dist
    """,
)
def part_coorder_bfs_layers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.graph import bfs_layers

    # co-order pairs WITHOUT the quadratic self-join: one scan
    # groups each order's distinct parts into a sorted array (orders
    # carry a handful of parts, so arrays are tiny), pairs explode
    # JVM-side already canonical (sorted => u < v), and the one
    # checkpoint of the order-sized grouped table feeds both the
    # edge build and the node universe
    grouped = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .filter(F.size("ps") >= 2)
        # lazy: cached on first computation, shared by the edge build
        # and the node universe, but no separate materialization job —
        # the whole query (BFS rounds included, see bfs_layers) runs
        # as ONE job
        .localCheckpoint(eager=False)
    )
    pairs = F.expr(
        "flatten(transform(ps, (x, i) -> "
        "transform(slice(ps, i + 2, size(ps)), y -> "
        "struct(x AS u, y AS v))))"
    )
    # NO edge-wide distinct: duplicate co-order pairs (an unordered
    # pair seen in several orders) are absorbed by each BFS round's
    # neighbor dedup, and the duplication factor is small (~1.2x at
    # sf0.1) — so skipping the full-edge-list shuffle is a strict win
    # and the adjacency stays a purely map-side explode over the
    # cached grouped arrays
    edges = grouped.select(F.explode(pairs).alias("e")).select(
        "e.u", "e.v"
    )
    nodes = (
        grouped.select(F.explode("ps").alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # counting the (cached) node universe costs less than one BFS
    # round and lets bfs_layers stop as soon as every part is
    # reached — on this small-diameter graph that skips the final
    # full-adjacency no-op round entirely
    reached = bfs_layers(
        edges,
        source=1,
        max_hops=4,
        edges_distinct=True,
        n_nodes=nodes.count(),
    )
    return (
        nodes.join(reached, "node", "left")
        .select(
            F.coalesce(F.col("dist"), F.lit(-1)).cast("int").alias(
                "dist"
            )
        )
        .groupBy("dist")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


# ---------------------------------------------------------------------------
# Dead-letter REPLAY (the missing half of A3's quarantine): the raw
# records whose parse failed are pulled back from the stream by id
# (the DLQ-holds-raw-payloads model), repaired under an explicit
# policy — unparseable old image => degrade to INSERT semantics — and
# re-run through the SAME cdc_change_events pipeline. The output pins
# losslessness (every quarantined record recovers exactly once) plus
# the blast radius (distinct items affected). Shape: the quarantine id
# set is failure-sized, so the semi join back against the stream is
# the cheap side of a broadcast/AQE join and the replay touches only
# DLQ rows — never a corpus re-read.
# ---------------------------------------------------------------------------
@query(
    "quarantine_replay_stats",
    oracle="""
    WITH versions AS (
      SELECT user_id, event_id,
             LAG(event_id) OVER w AS prev_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    q AS (
      SELECT user_id FROM versions
      WHERE prev_id IS NOT NULL AND event_id % 10 = 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_quarantined,
           CAST(COUNT(*) AS BIGINT) AS n_recovered,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_items_affected
    FROM q
    """,
)
def quarantine_replay_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.pipeline import (
        cdc_change_events,
        quarantine,
    )

    records = synthesize_cdc_records(spark, sf_dir).withColumn(
        "old_image",
        F.when(
            F.col("old_image").isNotNull()
            & (F.col("event_id").cast("long") % 10 == 0),
            F.lit("{corrupted-wire-bytes"),
        ).otherwise(F.col("old_image")),
    )
    bad_ids = quarantine(records).select("event_id")
    raw_bad = records.join(bad_ids, "event_id", "left_semi")
    repaired = raw_bad.withColumn(
        "operation", F.lit("INSERT")
    ).withColumn("old_image", F.lit(None).cast("string"))
    recovered = cdc_change_events(repaired)
    return (
        bad_ids.agg(F.count(F.lit(1)).alias("n_quarantined"))
        .crossJoin(
            recovered.agg(F.count(F.lit(1)).alias("n_recovered"))
        )
        .crossJoin(
            recovered.agg(
                F.count_distinct("pk").alias("n_items_affected")
            )
        )
    )


# ---------------------------------------------------------------------------
# Cross-source contamination matrix: shared distinct word-3-gram
# counts (and Jaccard, in exact permille) for every source pair — the
# "which crawl dumps overlap" diagnostic a corpus mix is planned from.
# Grams travel as 60-bit hashes (8 bytes, never the strings); postings
# are DISTINCT per source, so per-gram join fan-out is bounded by the
# source count (pairs per gram <= C(sources, 2)), and the output is
# sources^2-bounded at any corpus size. All counts integer; Jaccard is
# reported as 1000*ov div (union) — no float division.
# ---------------------------------------------------------------------------
@query(
    "source_overlap_matrix",
    oracle=f"""
    WITH w AS (SELECT source, string_split(text, ' ') AS ws
               FROM documents),
    sh AS (SELECT source,
                  list_distinct(list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
                    AS gs
           FROM w),
    hp AS (SELECT DISTINCT source,
                  {llm_text.duck_token_hash60('g')} AS h
           FROM (SELECT source, unnest(gs) AS g FROM sh)),
    sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
           FROM hp GROUP BY source),
    pr AS (SELECT a.source AS source_a, b.source AS source_b,
                  CAST(COUNT(*) AS BIGINT) AS n_shared
           FROM hp a JOIN hp b
             ON a.h = b.h AND a.source < b.source
           GROUP BY a.source, b.source)
    SELECT pr.source_a, pr.source_b, pr.n_shared,
           na.n AS n_a, nb.n AS n_b,
           CAST(1000 * pr.n_shared
                // (na.n + nb.n - pr.n_shared) AS BIGINT)
             AS jaccard_pm
    FROM pr
    JOIN sz na ON na.source = pr.source_a
    JOIN sz nb ON nb.source = pr.source_b
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    posts = (
        docs.select(
            "source",
            F.explode(
                llm_dedup.word_shingles(F.col("text"), 3)
            ).alias("g"),
        )
        .select("source", llm_text.token_hash60(F.col("g")).alias("h"))
        .distinct()
        # feeds the per-source sizes AND both sides of the pair join
        .localCheckpoint(eager=True)
    )
    sz = posts.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = posts.select(F.col("source").alias("source_a"), "h")
    b = posts.select(F.col("source").alias("source_b"), "h")
    pr = (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        pr.join(
            sz.select(
                F.col("source").alias("source_a"),
                F.col("n").alias("n_a"),
            ),
            "source_a",
        )
        .join(
            sz.select(
                F.col("source").alias("source_b"),
                F.col("n").alias("n_b"),
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            F.expr(
                "1000 * n_shared div (n_a + n_b - n_shared)"
            ).alias("jaccard_pm"),
        )
    )


# ---------------------------------------------------------------------------
# Largest-remainder (Hamilton) quota apportionment: distribute exactly
# K = 10,000 sampling slots across languages proportional to document
# counts — the integer-exact allocation step a stratified sampling
# plan needs before the per-stratum draws (stratified_sample /
# weighted_sample_per_group take per-group targets; this computes
# them). base_i = (K * n_i) div N, and the K - sum(base) leftover
# slots go to the largest remainders (K*n_i mod N), ties to the
# smaller language — every step integer, so both engines produce the
# identical allocation and the slots provably sum to K. The group
# table is vocabulary-sized; windows run over it, never the corpus.
# ---------------------------------------------------------------------------
@query(
    "sample_quota_apportionment",
    oracle="""
    WITH c AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ),
    t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
                 CAST(SUM(10000 * n_docs // (SELECT SUM(n_docs) FROM c))
                      AS BIGINT) AS base_sum
          FROM c),
    q AS (
      SELECT lang, n_docs,
             10000 * n_docs // total AS base,
             10000 * n_docs % total AS rem,
             ROW_NUMBER() OVER (ORDER BY 10000 * n_docs % total DESC,
                                lang) AS rk,
             10000 - base_sum AS leftover
      FROM c CROSS JOIN t
    )
    SELECT lang, n_docs,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS quota_slots
    FROM q
    """,
)
def sample_quota_apportionment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    t = c.agg(
        F.sum("n_docs").alias("total"),
    )
    q = (
        c.crossJoin(F.broadcast(t))
        .select(
            "lang",
            "n_docs",
            F.expr("10000 * n_docs div total").alias("base"),
            F.expr("10000 * n_docs % total").alias("rem"),
        )
    )
    base_sum = q.agg(F.sum("base").alias("base_sum"))
    wq = Window.orderBy(F.col("rem").desc(), F.col("lang"))
    return (
        q.crossJoin(F.broadcast(base_sum))
        .withColumn("rk", F.row_number().over(wq))  # langs-sized window
        .select(
            "lang",
            "n_docs",
            (
                F.col("base")
                + F.when(
                    F.col("rk") <= F.lit(10000) - F.col("base_sum"),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).cast("long").alias("quota_slots"),
        )
    )


# ---------------------------------------------------------------------------
# Cumulative distinct users per day (growth-curve analytics). COUNT
# (DISTINCT) under a running frame can't use per-day partials, and a
# day-by-day re-scan is quadratic; the standard exact reduction is the
# FIRST-SEEN trick: cumulative distinct through day d == running sum
# of first-seen counts — one distinct-user aggregation (min day per
# user), one days-sized count, one running-sum window over the bounded
# day series. Exact at any scale, no bitmap or sketch needed.
# ---------------------------------------------------------------------------
@query(
    "cumulative_new_users",
    oracle="""
    WITH fs AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    per_day AS (
      SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new
      FROM fs GROUP BY first_day
    )
    SELECT day, n_new,
           CAST(SUM(n_new) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_cumulative
    FROM per_day
    """,
)
def cumulative_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    fs = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("day")
    )
    per_day = fs.groupBy("day").agg(F.count(F.lit(1)).alias("n_new"))
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )  # days-sized series: the unpartitioned window is bounded
    return per_day.select(
        "day", "n_new", F.sum("n_new").over(w).alias("n_cumulative")
    )


# ---------------------------------------------------------------------------
# SQ8 ANN (fourth approximate lane; llm/vectors.py:sq8_topk): int8
# scalar quantization — per-dimension min/max "training" is ONE
# relational aggregate (no sampling, no k-means, no driver state),
# codes are ~dim bytes/vector, approximate scoring decodes mid-bucket,
# exact re-rank restores precision. Recall-contract oracle like the
# other ANN lanes; floor 0.8 — measured per-query recall@10 is 1.0 at
# sf0.01 and sf0.1 (the int8 decode error is far below this corpus's
# neighbor gaps, and the 50-deep shortlist absorbs rank jitter).
# ---------------------------------------------------------------------------
_SQ8_RECALL_FLOOR = 0.8


@query(
    "embedding_sq8_topk",
    oracle="SELECT * FROM (VALUES "
    + ", ".join(f"({i}, TRUE)" for i in _ANN_QUERY_IDS)
    + ") AS t(qid, recall_ok)",
)
def embedding_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    sq = llm_vectors.sq8_topk(emb, query_ids=_ANN_QUERY_IDS, k=10, dim=64)
    exact = llm_vectors.cosine_topk(emb, query_ids=_ANN_QUERY_IDS, k=10)
    hits = exact.select("qid", "neighbor_id").join(
        sq.select("qid", "neighbor_id"), ["qid", "neighbor_id"], "left_semi"
    )
    return (
        hits.groupBy("qid")
        .agg((F.count(F.lit(1)) / 10.0).alias("recall"))
        .select(
            F.col("qid").cast("int").alias("qid"),
            (F.col("recall") >= F.lit(_SQ8_RECALL_FLOOR)).alias(
                "recall_ok"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Media fingerprint dedup: the multimodal lane composed with the dedup
# family — every payload is decoded (stubbed codec), transformed, and
# reduced to a deterministic feature fingerprint (media type, resized
# dims, 3-bucket byte histogram); identical fingerprints are duplicate
# candidates, exactly the perceptual-hash dedup shape (pHash buckets
# -> verify) with the verify stage left to the claimed-real codec. The
# report is per-media-type redundancy: items, distinct fingerprints,
# duplicate groups, redundant copies. Shape: one Arrow mapInPandas
# stage (no shuffle) + one fingerprint-keyed aggregation + one
# media_type rollup; output bounded at 3 rows.
# ---------------------------------------------------------------------------
@query(
    "media_fingerprint_dedup",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CASE WHEN source IN ('src0', 'src1') THEN 'image'
                  WHEN source IN ('src2', 'src3') THEN 'audio'
                  ELSE 'video' END AS media_type,
             octet_length(encode(text)) AS n,
             octet_length(encode(text)) % 64 + 16 AS w,
             (octet_length(encode(text)) // 64) % 64 + 16 AS h,
             len(text) - len(replace(text, ' ', '')) AS ns,
             (len(text) - len(replace(text, 'a', '')))
               + (len(text) - len(replace(text, 'e', '')))
               + (len(text) - len(replace(text, 'i', '')))
               + (len(text) - len(replace(text, 'o', '')))
               + (len(text) - len(replace(text, 'u', ''))) AS nv
      FROM documents
    ), r AS (
      SELECT doc_id, media_type,
             CASE WHEN greatest(w, h) <= 32 THEN w
                  ELSE greatest(1, w * 32 // greatest(w, h)) END AS rw,
             CASE WHEN greatest(w, h) <= 32 THEN h
                  ELSE greatest(1, h * 32 // greatest(w, h)) END AS rh,
             ns, nv, n - ns - nv AS no
      FROM m
    ), fp AS (
      SELECT media_type, rw, rh, ns, nv, no,
             CAST(COUNT(*) AS BIGINT) AS n_copies
      FROM r GROUP BY media_type, rw, rh, ns, nv, no
    )
    SELECT media_type,
           CAST(SUM(n_copies) AS BIGINT) AS n_items,
           CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
           CAST(SUM(CASE WHEN n_copies >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_groups,
           CAST(SUM(CASE WHEN n_copies >= 2 THEN n_copies - 1
                    ELSE 0 END) AS BIGINT) AS n_redundant
    FROM fp GROUP BY media_type
    """,
)
def media_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    feats = llm_media.transform_media(
        llm_media.attach_binary_payload(docs)
    )
    fp = feats.groupBy(
        "media_type",
        "new_width",
        "new_height",
        "n_space",
        "n_vowel",
        "n_other",
    ).agg(F.count(F.lit(1)).alias("n_copies"))
    dup = F.col("n_copies") >= 2
    return fp.groupBy("media_type").agg(
        F.sum("n_copies").alias("n_items"),
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.sum(dup.cast("long")).alias("n_dup_groups"),
        F.sum(
            F.when(dup, F.col("n_copies") - 1).otherwise(F.lit(0))
        ).alias("n_redundant"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival estimation over session durations: the
# standard right-censored product-limit estimator. Each gap-based
# session (the sessionize_events definition: 30-min inactivity cuts)
# is one spell; lifetime t = floor(duration minutes); a session whose
# last event falls in the final hour of the observed window is
# CENSORED (it may still be running past the corpus horizon), all
# others "died" at t. The survival curve
# S(t) = prod_{t_i <= t} (n_i - d_i) / n_i runs in FIXED-POINT integer
# arithmetic (scale 10^12, exact decimal floor-div — all operands
# positive so floor == trunc) as the repo's sorted-fold, so the whole
# trajectory hashes bit-identically; the oracle replays the recursion
# as a recursive CTE. Scale shape: the sessionization window
# partitions by user, the spell labels reduce per (user, session) —
# both map-side-combinable shuffles on user — then everything
# downstream is bounded by DISTINCT MINUTE DURATIONS (<= max session
# length in minutes, a few hundred rows at any SF): the unpartitioned
# at-risk window and the product fold run over that bounded series,
# never over sessions.
# ---------------------------------------------------------------------------
@query(
    "session_kaplan_meier",
    oracle="""
    WITH RECURSIVE horizon AS (
      SELECT MAX(ts) AS hmax FROM events
    ), gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                       > 1800000000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END
               AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM gaps
    ), lab AS (
      SELECT user_id, session_id,
             (epoch_us(MAX(ts)) - epoch_us(MIN(ts)))
               // 60000000 AS t,
             CASE WHEN epoch_us(MAX(ts))
                       >= epoch_us(MAX(hmax)) - 3600000000
                  THEN 1 ELSE 0 END AS censored
      FROM sess CROSS JOIN horizon
      GROUP BY user_id, session_id
    ), risk AS (
      SELECT t, CAST(SUM(1 - censored) AS BIGINT) AS d,
             CAST(SUM(censored) AS BIGINT) AS c
      FROM lab GROUP BY t
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lab),
    ordered AS (
      -- CAST back to BIGINT: DuckDB's window SUM returns HUGEINT,
      -- which otherwise propagates through the recursion into the
      -- n_at_risk OUTPUT column. HUGEINT-typed results convert to
      -- pandas as float64/object (version-dependent), so a
      -- dtype-sensitive comparator hashes them differently from
      -- Spark's int64 even when every value is equal — the r7/r8
      -- driver-gate hash mismatch. All-BIGINT result schemas (the
      -- profile of every driver-green query) are the contract.
      SELECT t, d, c,
             CAST(n - COALESCE(SUM(d + c) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS BIGINT) AS n_risk,
             ROW_NUMBER() OVER (ORDER BY t) AS rn
      FROM risk CROSS JOIN tot
    ), km AS (
      -- BIGINT-only recursion with exactly-divisible numerators: the
      -- ((n % d) + d) % d subtraction makes n0/n1 multiples of n_risk,
      -- so `//` yields the same exact integer under floor OR truncate
      -- semantics in any engine version. s <= 1e12 and n_risk < 9.2e6
      -- keep n1 inside int64; past that bound (reachable near sf10)
      -- the overflow is LOUD, not silent — DuckDB raises on BIGINT
      -- multiplication overflow, so the gate reports an oracle error
      -- instead of a wrong hash. The Spark side's decimal(38,0) path
      -- is the one that scales past it (widen this oracle to HUGEINT
      -- internally if a >sf10 gate corpus ever appears; output casts
      -- keep the result schema BIGINT either way).
      SELECT rn, t, d, c, n_risk,
             (n0 - ((n0 % n_risk) + n_risk) % n_risk) // n_risk AS s
      FROM (SELECT rn, t, d, c, n_risk,
                   1000000000000 * (n_risk - d) AS n0
            FROM ordered WHERE rn = 1) a
      UNION ALL
      SELECT rn, t, d, c, n_risk,
             (n1 - ((n1 % n_risk) + n_risk) % n_risk) // n_risk
      FROM (SELECT o.rn, o.t, o.d, o.c, o.n_risk,
                   k.s * (o.n_risk - o.d) AS n1
            FROM km k JOIN ordered o ON o.rn = k.rn + 1) b
    )
    SELECT CAST(t AS INT) AS duration_min,
           n_risk AS n_at_risk, d AS n_deaths, c AS n_censored,
           CAST(s AS BIGINT) AS surv_scaled,
           CAST(s AS DOUBLE) / 1e12 AS surv
    FROM km
    """,
)
def session_kaplan_meier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    horizon = ev.agg(_epoch_us(F.max("ts")).alias("hmax_us"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = _epoch_us(F.col("ts")) - _epoch_us(F.lag("ts").over(w))
    new_session = F.when(
        gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    wsum = Window.partitionBy("user_id").orderBy(
        "ts", "event_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    sess = ev.withColumn("new_session", new_session).withColumn(
        "session_id", F.sum("new_session").over(wsum)
    )
    spells = sess.groupBy("user_id", "session_id").agg(
        _epoch_us(F.min("ts")).alias("start_us"),
        _epoch_us(F.max("ts")).alias("end_us"),
    )
    lab = spells.crossJoin(F.broadcast(horizon)).select(
        F.expr("(end_us - start_us) div 60000000").alias("t"),
        F.when(
            F.col("end_us") >= F.col("hmax_us") - 3_600_000_000,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("censored"),
    )
    risk = lab.groupBy("t").agg(
        F.sum(1 - F.col("censored")).alias("d"),
        F.sum("censored").alias("c"),
    )
    tot = lab.agg(F.count(F.lit(1)).alias("n"))
    w_prev = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )  # lifetime-days-sized series: the unpartitioned window is bounded
    ordered = risk.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        "c",
        (
            F.col("n")
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)
            )
        ).alias("n_risk"),
    )
    row_t = (
        "array<struct<t:bigint,d:bigint,c:bigint,n_risk:bigint,"
        "s:bigint>>"
    )

    def step(acc, x):
        first = F.size(acc["rows"]) == 0
        base = F.when(first, F.lit(10**12).cast("long")).otherwise(
            acc["s"]
        )
        # Exact floor division in DECIMAL (not the double trick Holt
        # uses): base * n_risk reaches 2^53 at ~9000 users, so the
        # numerator is widened to decimal(38,0) where the product,
        # pmod, and exactly-divisible quotient all stay exact at any
        # population size.
        num = base.cast("decimal(38,0)") * (
            x["n_risk"] - x["d"]
        ).cast("decimal(19,0)")
        den = x["n_risk"].cast("decimal(19,0)")
        s_new = ((num - F.pmod(num, den)) / den).cast("long")
        row = F.struct(
            x["t"].alias("t"),
            x["d"].alias("d"),
            x["c"].alias("c"),
            x["n_risk"].alias("n_risk"),
            s_new.alias("s"),
        )
        return F.struct(
            s_new.alias("s"),
            F.array_append(acc["rows"], row).alias("rows"),
        )

    series = ordered.agg(
        F.sort_array(
            F.collect_list(F.struct("t", "d", "c", "n_risk"))
        ).alias("rs")
    )
    init = F.struct(
        F.lit(0).cast("long").alias("s"),
        F.expr(f"CAST(array() AS {row_t})").alias("rows"),
    )
    return series.select(
        F.explode(F.aggregate("rs", init, step)["rows"]).alias("r")
    ).select(
        F.col("r.t").cast("int").alias("duration_min"),
        F.col("r.n_risk").alias("n_at_risk"),
        F.col("r.d").alias("n_deaths"),
        F.col("r.c").alias("n_censored"),
        F.col("r.s").alias("surv_scaled"),
        (F.col("r.s").cast("double") / F.lit(1e12)).alias("surv"),
    )


# ---------------------------------------------------------------------------
# HITS (Kleinberg hubs & authorities) over the same weighted
# event-type transition graph PageRank uses: three synchronous
# rounds, each an authority update (a <- sum of in-edge cnt * hub)
# then a hub update (h <- sum of out-edge cnt * auth), with L1
# renormalization to scale 10^9 after every half-step so the vectors
# stay integer and bounded. All arithmetic is FIXED-POINT: raw sums
# are exact BIGINTs (cnt * value <= 1e15 at sf1; a 100-TB deployment
# widens the raws to DECIMAL), and the renormalizing division
# (v * 10^9) div norm runs in DECIMAL(38,0) via the exactly-divisible
# pmod trick so both engines truncate identically. Scale shape: the
# graph is schema-bounded (event-type vocabulary squared) and
# persisted once; each half-step is one broadcast join + one
# map-side-combinable aggregate, the norm a 1-row broadcast — on a
# big graph the identical loop runs as shuffle joins keyed on src/dst.
# ---------------------------------------------------------------------------
def _hits_oracle() -> str:
    blocks = ["""
    WITH seq AS (
      SELECT event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), edges AS (
      SELECT event_type AS src, nxt AS dst, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ), nodes AS (
      SELECT DISTINCT event_type AS node FROM events
    ), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    h0 AS (
      SELECT node, 1000000000 // n AS v FROM nodes CROSS JOIN nn
    )"""]
    prev_h = "h0"
    for r in range(1, 4):
        blocks.append(f""",
    a{r}raw AS (
      SELECT nd.node, CAST(COALESCE(s.v, 0) AS BIGINT) AS v
      FROM nodes nd LEFT JOIN (
        SELECT e.dst AS node, SUM(e.cnt * h.v) AS v
        FROM edges e JOIN {prev_h} h ON h.node = e.src
        GROUP BY e.dst) s ON s.node = nd.node
    ),
    a{r} AS (
      SELECT node,
             CAST((CAST(v AS HUGEINT) * 1000000000)
                  // (SELECT SUM(v) FROM a{r}raw) AS BIGINT) AS v
      FROM a{r}raw
    ),
    h{r}raw AS (
      SELECT nd.node, CAST(COALESCE(s.v, 0) AS BIGINT) AS v
      FROM nodes nd LEFT JOIN (
        SELECT e.src AS node, SUM(e.cnt * a.v) AS v
        FROM edges e JOIN a{r} a ON a.node = e.dst
        GROUP BY e.src) s ON s.node = nd.node
    ),
    h{r} AS (
      SELECT node,
             CAST((CAST(v AS HUGEINT) * 1000000000)
                  // (SELECT SUM(v) FROM h{r}raw) AS BIGINT) AS v
      FROM h{r}raw
    )""")
        prev_h = f"h{r}"
    blocks.append("""
    SELECT a3.node AS event_type,
           a3.v AS auth_scaled, h3.v AS hub_scaled,
           CAST(a3.v AS DOUBLE) / 1e9 AS auth,
           CAST(h3.v AS DOUBLE) / 1e9 AS hub
    FROM a3 JOIN h3 ON h3.node = a3.node""")
    return "".join(blocks)


@query("event_type_hits", oracle=_hits_oracle())
def event_type_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    edges = (
        seq.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )  # schema-bounded: event-type vocabulary squared
    nodes = (
        ev.select(F.col("event_type").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    h = nodes.crossJoin(F.broadcast(nn)).select(
        "node", F.expr("1000000000 div n").cast("long").alias("v")
    )

    def half_step(vec: DataFrame, join_on: str, emit: str) -> DataFrame:
        raw = (
            nodes.join(
                edges.join(
                    vec.withColumnRenamed("node", join_on), join_on
                )
                .select(F.col(emit).alias("node"),
                        (F.col("cnt") * F.col("v")).alias("p"))
                .groupBy("node")
                .agg(F.sum("p").alias("v")),
                "node",
                "left",
            )
            .select("node", F.coalesce("v", F.lit(0)).alias("v"))
        )
        tot = raw.agg(F.sum("v").alias("tot"))
        num = F.col("v").cast("decimal(38,0)") * F.lit(10**9).cast(
            "decimal(19,0)"
        )
        den = F.col("tot").cast("decimal(19,0)")
        # the normalized vector is vocabulary-sized: truncate lineage
        # each half-step, else the norm's second read of `raw` doubles
        # the plan every iteration
        return (
            raw.crossJoin(F.broadcast(tot))
            .select(
                "node",
                ((num - F.pmod(num, den)) / den)
                .cast("long")
                .alias("v"),
            )
            .localCheckpoint(eager=True)
        )

    for _ in range(3):
        a = half_step(h, "src", "dst")
        h = half_step(a, "dst", "src")
    return (
        a.withColumnRenamed("v", "auth_scaled")
        .join(h.withColumnRenamed("v", "hub_scaled"), "node")
        .select(
            F.col("node").alias("event_type"),
            "auth_scaled",
            "hub_scaled",
            (F.col("auth_scaled").cast("double") / F.lit(1e9)).alias(
                "auth"
            ),
            (F.col("hub_scaled").cast("double") / F.lit(1e9)).alias(
                "hub"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Holt-Winters ADDITIVE-SEASONAL smoothing (triple exponential) of the
# daily revenue series, weekly period 7: completes the exponential
# family (EWMA kernel -> Holt level+trend -> Holt-Winters
# level+trend+seasonal). alpha=1/5, beta=1/10, gamma=1/5 in
# FIXED-POINT integer cents; every recursion step floor-divides via
# the pmod identity (numerators go NEGATIVE here — seasonal deviations
# — so plain truncating div would disagree between engines). The
# seasonal state is a 7-slot rotating list: the head is always the
# active weekday's component, each step consumes it and appends the
# updated value, which keeps both the fold and the oracle's recursive
# CTE free of index arithmetic. Init: level = floor-mean of the first
# week, trend = 0, seasonal = first-week deviations; smoothing starts
# at day 8. Scale shape identical to holt_revenue_trend: one map-side-
# combinable daily aggregate, then a days-sized sorted fold (the
# series is bounded by the calendar, never by row count; magnitudes
# sit far below 2^53 — a 100-TB deployment widens to DECIMAL).
# ---------------------------------------------------------------------------
@query(
    "holt_winters_revenue",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
      FROM events GROUP BY day
    ), idx AS (
      SELECT day, y, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily
    ), base AS (
      -- CAST back to BIGINT: SUM(BIGINT) is HUGEINT in DuckDB, and a
      -- recursive CTE adopts the ANCHOR's column types — so an uncast
      -- lv0 makes the level_cents OUTPUT column HUGEINT, which
      -- converts to pandas as float64/object (version-dependent) and
      -- hash-diverges from Spark's int64 in a dtype-sensitive
      -- comparator even with equal values (the r7/r8 driver-gate
      -- mismatch). All-BIGINT result schemas are the contract.
      SELECT CAST((SUM(y) - ((SUM(y) % 7) + 7) % 7) // 7 AS BIGINT)
               AS lv0
      FROM idx WHERE rn <= 7
    ), init AS (
      -- Seven scalar seasonal slots instead of LIST state: the r7
      -- driver gate showed list_append/slice inside a recursive CTE
      -- is version-sensitive; scalar columns rotated positionally are
      -- the conservative dialect holt_revenue_trend passes with.
      SELECT 7 AS rn, CAST(NULL AS DATE) AS day,
             CAST(NULL AS BIGINT) AS y, CAST(NULL AS BIGINT) AS fit,
             lv0 AS lv, CAST(0 AS BIGINT) AS tr,
             CAST(NULL AS BIGINT) AS s_new,
             (SELECT y FROM idx WHERE rn = 1) - lv0 AS s1,
             (SELECT y FROM idx WHERE rn = 2) - lv0 AS s2,
             (SELECT y FROM idx WHERE rn = 3) - lv0 AS s3,
             (SELECT y FROM idx WHERE rn = 4) - lv0 AS s4,
             (SELECT y FROM idx WHERE rn = 5) - lv0 AS s5,
             (SELECT y FROM idx WHERE rn = 6) - lv0 AS s6,
             (SELECT y FROM idx WHERE rn = 7) - lv0 AS s7
      FROM base
    ), hw AS (
      SELECT * FROM init
      UNION ALL
      SELECT rn, day, y, fit, lv1 AS lv,
             (tn - ((tn % 10) + 10) % 10) // 10 AS tr,
             (sn0 - ((sn0 % 5) + 5) % 5) // 5 AS s_new,
             s2 AS s1, s3 AS s2, s4 AS s3, s5 AS s4, s6 AS s5,
             s7 AS s6,
             (sn0 - ((sn0 % 5) + 5) % 5) // 5 AS s7
      FROM (
        SELECT rn, day, y, fit, lv0, tr0, lv1,
               (lv1 - lv0) + 9 * tr0 AS tn,
               (y - lv1) + 4 * sh AS sn0,
               s2, s3, s4, s5, s6, s7
        FROM (
          SELECT i.rn, i.day, i.y, h.s1 AS sh,
                 h.lv + h.tr + h.s1 AS fit,
                 h.lv AS lv0, h.tr AS tr0,
                 (ln - ((ln % 5) + 5) % 5) // 5 AS lv1,
                 h.s2 AS s2, h.s3 AS s3, h.s4 AS s4, h.s5 AS s5,
                 h.s6 AS s6, h.s7 AS s7
          FROM hw h JOIN idx i ON i.rn = h.rn + 1,
               LATERAL (SELECT (i.y - h.s1)
                               + 4 * (h.lv + h.tr) AS ln) c1
        ) inner1
      ) inner2
    )
    SELECT day, y AS rev_cents, fit AS fit_cents,
           lv AS level_cents, tr AS trend_cents,
           s_new AS seasonal_cents
    FROM hw WHERE rn >= 8
    """,
)
def holt_winters_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("y")
    )

    def fd(n, d):
        # floor division via the pmod identity; the subtraction makes
        # the numerator exactly divisible, so the double intermediate
        # is an exact integer (magnitudes far below 2^53)
        return ((n - F.pmod(n, F.lit(d))) / d).cast("long")

    row_t = (
        "array<struct<day:date,y:bigint,fit:bigint,lv:bigint,"
        "tr:bigint,sn:bigint>>"
    )

    def step(acc, x):
        sh = F.element_at(acc["seas"], 1)
        fit = acc["lv"] + acc["tr"] + sh
        lv1 = fd((x["y"] - sh) + 4 * (acc["lv"] + acc["tr"]), 5)
        tr1 = fd((lv1 - acc["lv"]) + 9 * acc["tr"], 10)
        sn = fd((x["y"] - lv1) + 4 * sh, 5)
        row = F.struct(
            x["day"].alias("day"),
            x["y"].alias("y"),
            fit.alias("fit"),
            lv1.alias("lv"),
            tr1.alias("tr"),
            sn.alias("sn"),
        )
        return F.struct(
            lv1.alias("lv"),
            tr1.alias("tr"),
            F.concat(
                F.slice(acc["seas"], 2, 6), F.array(sn)
            ).alias("seas"),
            F.array_append(acc["rows"], row).alias("rows"),
        )

    series = daily.agg(
        F.sort_array(F.collect_list(F.struct("day", "y"))).alias("s")
    )
    week1 = F.slice("s", 1, 7)
    sum7 = F.aggregate(
        week1, F.lit(0).cast("long"), lambda acc, x: acc + x["y"]
    )
    lv0 = fd(sum7, 7)
    seas0 = F.transform(week1, lambda x: x["y"] - lv0)
    rest = F.slice(F.col("s"), 8, F.greatest(F.size("s") - 7, F.lit(0)))
    init = F.struct(
        lv0.alias("lv"),
        F.lit(0).cast("long").alias("tr"),
        seas0.alias("seas"),
        F.expr(f"CAST(array() AS {row_t})").alias("rows"),
    )
    return series.select(
        F.explode(F.aggregate(rest, init, step)["rows"]).alias("r")
    ).select(
        F.col("r.day").alias("day"),
        F.col("r.y").alias("rev_cents"),
        F.col("r.fit").alias("fit_cents"),
        F.col("r.lv").alias("level_cents"),
        F.col("r.tr").alias("trend_cents"),
        F.col("r.sn").alias("seasonal_cents"),
    )


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity audit — the privacy-governance operator a
# training-data pipeline runs before releasing a quasi-identified
# extract. QI = (nation, market segment, account-balance band of
# 1000); sensitive attribute = the customer's modal order priority
# (min-priority tiebreak, 'NONE' for order-less customers). Every
# equivalence class gets its size k and distinct-sensitive count l;
# the report groups classes by (k, l) — the re-identification risk
# histogram (k=1 rows are singletons; l=1 rows are homogeneity-attack
# exposed). Scale shape: the modal attribute is a (cust, prio) count
# + per-customer argmax window (customer-keyed shuffles, map-side
# combinable), QI classes one hash aggregate; output is bounded by
# distinct (k, l) pairs, never by rows.
# ---------------------------------------------------------------------------
@query(
    "customer_k_anonymity",
    oracle="""
    WITH po AS (
      SELECT o_custkey, o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY o_custkey, o_orderpriority
    ), modal AS (
      SELECT o_custkey, o_orderpriority
      FROM (SELECT o_custkey, o_orderpriority,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                       ORDER BY n DESC, o_orderpriority) AS rk
            FROM po) t
      WHERE rk = 1
    ), qi AS (
      SELECT c.c_nationkey,
             c.c_mktsegment,
             CAST(FLOOR(CAST(c.c_acctbal AS DECIMAL(12,2)) / 1000)
                  AS BIGINT) AS bal_band,
             COALESCE(m.o_orderpriority, 'NONE') AS sens
      FROM customer c LEFT JOIN modal m ON m.o_custkey = c.c_custkey
    ), classes AS (
      SELECT c_nationkey, c_mktsegment, bal_band,
             CAST(COUNT(*) AS BIGINT) AS k_class,
             CAST(COUNT(DISTINCT sens) AS BIGINT) AS l_class
      FROM qi GROUP BY c_nationkey, c_mktsegment, bal_band
    )
    SELECT k_class, l_class,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(k_class) AS BIGINT) AS n_rows
    FROM classes GROUP BY k_class, l_class
    """,
)
def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    po = orders.groupBy("o_custkey", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    wk = Window.partitionBy("o_custkey").orderBy(
        F.col("n").desc(), "o_orderpriority"
    )
    modal = (
        po.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") == 1)
        .select("o_custkey", "o_orderpriority")
    )
    qi = cust.join(
        modal, cust["c_custkey"] == modal["o_custkey"], "left"
    ).select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal").cast("decimal(12,2)") / 1000)
        .cast("long")
        .alias("bal_band"),
        F.coalesce("o_orderpriority", F.lit("NONE")).alias("sens"),
    )
    classes = qi.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count(F.lit(1)).alias("k_class"),
        F.countDistinct("sens").alias("l_class"),
    )
    return classes.groupBy("k_class", "l_class").agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum("k_class").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit screen over order totals — the classic
# accounting-forensics / data-quality test for fabricated or
# truncated numeric columns. The first significant digit is taken
# from the INTEGER cents string (decimal cast + integer-to-string is
# bit-identical in both engines; float log10 at decade boundaries is
# not), counted per digit, and compared against Benford's
# log10(1+1/d) expectation carried as exact ppm literals; deviation
# stays integer ppm. One scan + a 9-row aggregate — pure map-side
# shape at any corpus size.
# ---------------------------------------------------------------------------
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


@query(
    "order_total_benford",
    oracle=f"""
    WITH cents AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS c
      FROM orders
    ), digits AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit
      FROM cents
    ), counts AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM digits GROUP BY digit
    ), tot AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS n FROM counts),
    exp AS (
      SELECT * FROM (VALUES
        {', '.join(f'({d}, {p})' for d, p in _BENFORD_PPM.items())}
      ) AS t(digit, expected_ppm)
    )
    SELECT e.digit, COALESCE(c.n_orders, 0) AS n_orders,
           (COALESCE(c.n_orders, 0) * 1000000) // t.n AS observed_ppm,
           CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
           (COALESCE(c.n_orders, 0) * 1000000) // t.n
             - e.expected_ppm AS deviation_ppm
    FROM exp e LEFT JOIN counts c ON c.digit = e.digit
    CROSS JOIN tot t
    """,
)
def order_total_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .cast("string"),
        1,
        1,
    ).cast("int")
    counts = (
        orders.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    tot = counts.agg(F.sum("n_orders").alias("n"))
    exp = spark.createDataFrame(
        [(d, p) for d, p in _BENFORD_PPM.items()],
        "digit int, expected_ppm long",
    )
    obs_ppm = F.expr("(coalesce(n_orders, 0) * 1000000) div n")
    return (
        exp.join(counts, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            obs_ppm.alias("observed_ppm"),
            F.col("expected_ppm"),
            (obs_ppm - F.col("expected_ppm")).alias("deviation_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
# the corpus word-ADJACENCY graph — tokens are nodes, each adjacent
# token pair contributes an edge in both directions, edge weight =
# corpus co-occurrence count — then the top-25 tokens by rank are the
# corpus keywords. Runs on operators/graph.py:pagerank_fixed_point
# (the event_type_pagerank discipline factored into an operator):
# scale 10^12, truncating div, bit-identical trajectories; the oracle
# unrolls the same four rounds as chained CTEs. Scale shape: the
# bigram aggregate is map-side combinable and VOCABULARY-sized (the
# graph is bounded by distinct adjacent-token pairs, not corpus
# rows); each round is one src-keyed join + one dst-keyed aggregate;
# the final top-k is a TakeOrderedAndProject under a total order
# (rank desc, token).
# ---------------------------------------------------------------------------
def _textrank_oracle() -> str:
    head = """
    WITH tok AS (
      SELECT doc_id, ws, i
      FROM (SELECT doc_id, string_split(text, ' ') AS ws
            FROM documents),
           unnest(range(1, len(ws))) AS u(i)
    ), bi AS (
      SELECT ws[i] AS a, ws[i + 1] AS b FROM tok
    ), edges AS (
      SELECT src, dst, CAST(SUM(c) AS BIGINT) AS cnt FROM (
        SELECT a AS src, b AS dst, COUNT(*) AS c FROM bi GROUP BY 1, 2
        UNION ALL
        SELECT b AS src, a AS dst, COUNT(*) AS c FROM bi GROUP BY 1, 2
      ) GROUP BY src, dst
    ), deg AS (
      SELECT src, CAST(SUM(cnt) AS BIGINT) AS tot FROM edges GROUP BY src
    ), e AS (
      SELECT edges.src, edges.dst, edges.cnt, deg.tot
      FROM edges JOIN deg USING (src)
    ), nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges
        UNION ALL SELECT dst FROM edges)
    ), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    r0 AS (
      SELECT node, 1000000000000 // n AS r FROM nodes CROSS JOIN nn
    )"""
    rounds = []
    for k in range(1, 5):
        rounds.append(f""",
    r{k} AS (
      SELECT nd.node,
             (15 * (1000000000000 // x.n)) // 100
             + (85 * COALESCE(c.s, 0)) // 100 AS r
      FROM nodes nd CROSS JOIN nn x
      LEFT JOIN (SELECT e.dst AS node, SUM((r.r * e.cnt) // e.tot) AS s
                 FROM e JOIN r{k - 1} r ON r.node = e.src
                 GROUP BY e.dst) c
        ON c.node = nd.node
    )""")
    tail = """
    SELECT node AS keyword, CAST(r AS BIGINT) AS rank_scaled,
           CAST(r AS DOUBLE) / 1e12 AS rank
    FROM r4 ORDER BY r DESC, node LIMIT 25"""
    return head + "".join(rounds) + tail


@query("textrank_keywords", oracle=_textrank_oracle())
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.graph import (
        pagerank_fixed_point,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("ws"))
    bi = toks.select(
        F.explode(
            F.zip_with(
                F.slice(
                    "ws", 1, F.greatest(F.size("ws") - 1, F.lit(0))
                ),
                F.slice(
                    F.col("ws"), 2, F.greatest(F.size("ws") - 1, F.lit(0))
                ),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )
        ).alias("p")
    ).select("p.a", "p.b")
    directed = bi.groupBy(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).agg(F.count(F.lit(1)).alias("c"))
    edges = (
        directed.select("src", "dst", "c")
        .unionAll(
            directed.select(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                "c",
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("c").alias("cnt"))
    )
    rank = pagerank_fixed_point(edges, iters=4)
    return (
        rank.orderBy(F.col("r").desc(), "node")
        .limit(25)
        .select(
            F.col("node").alias("keyword"),
            F.col("r").alias("rank_scaled"),
            (F.col("r").cast("double") / F.lit(1e12)).alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# Kneser-Ney smoothed bigram LM scoring (llm/quality_lm.py:
# kn_bigram_scores): the smoothing production LM filters actually
# use (absolute discount d=3/4 + continuation-probability backoff),
# as EXACT INTEGER arithmetic — each token's KN probability is the
# rational ((4*c2-3)*B + 3*Nv*Nw) / (4*c1v*B), floored to ppb in
# DECIMAL(38,0) (numerators ~1e20), summed per doc as BIGINTs; no
# libm anywhere, so the scores themselves hash bit-identically (the
# add-one lane can only compare decisions). Model tables are
# vocabulary-sized and broadcastable; scoring is gram-keyed joins.
# ---------------------------------------------------------------------------
@query(
    "kn_bigram_doc_scores",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), pairs AS (
      SELECT doc_id, ws[i] AS v, ws[i + 1] AS w
      FROM toks, unnest(range(1, len(ws))) AS u(i)
    ), bgc AS (
      SELECT v, w, CAST(COUNT(*) AS BIGINT) AS c2
      FROM pairs GROUP BY v, w
    ), lft AS (
      SELECT v, CAST(SUM(c2) AS BIGINT) AS c1v,
             CAST(COUNT(*) AS BIGINT) AS nv
      FROM bgc GROUP BY v
    ), rgt AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS nw FROM bgc GROUP BY w
    ), btot AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM bgc),
    scored AS (
      SELECT p.doc_id,
             ((4 * g.c2 - 3) * CAST(t.b AS HUGEINT)
              + 3 * CAST(l.nv AS HUGEINT) * r.nw)
             * 1000000000
             // (4 * CAST(l.c1v AS HUGEINT) * t.b) AS ppb
      FROM pairs p
      JOIN bgc g ON g.v = p.v AND g.w = p.w
      JOIN lft l ON l.v = p.v
      JOIN rgt r ON r.w = p.w
      CROSS JOIN btot t
    )
    SELECT doc_id AS key,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(ppb) AS BIGINT) AS sum_prob_ppb,
           CAST(SUM(ppb) AS BIGINT) // COUNT(*) AS mean_prob_ppb
    FROM scored GROUP BY doc_id
    """,
)
def kn_bigram_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm.quality_lm import kn_bigram_scores

    docs = load_table(spark, sf_dir, "documents")
    return kn_bigram_scores(docs)


# ---------------------------------------------------------------------------
# Batch time-travel diff (storage/txlog.py:version_diff /
# version_changed_files): row-level changes between two committed
# versions from CHANGED FILES ONLY — the batch twin of the streaming
# change feed, giving the CDF surface driver-side oracle evidence.
# The sequence is append/append/DELETE-overwrite/OPTIMIZE; the oracle
# recomputes each diff with set algebra over `orders`. The (2,3) row
# pins the load-bearing property: an OPTIMIZE rewrites every file yet
# diffs to EXACTLY zero rows (carried-over rows cancel via multiset
# subtraction), so downstream incremental maintenance never
# reprocesses a compaction.
#
# Aggregation pushdown (r13): the reported stats are aggregates OVER
# the multiset differences, so instead of materializing version_diff's
# two exceptAll frames per pair (2 shuffles each, 8 aggregate subtrees
# across the 4 pairs), the added-file rows carry weight +1 and the
# removed-file rows -1, all 4 pairs union into ONE (pair, row)-keyed
# aggregation, and inserted/deleted stats read off the sign of the net
# multiplicity: net > 0 contributes net copies to inserted, net < 0
# contributes -net to deleted — exactly A.exceptAll(B) /
# B.exceptAll(A) folded into their aggregates. One shuffle total; the
# per-version manifests are reconstructed from the log ONCE and shared
# across pairs (version_changed_files' manifest cache). The (2,3)
# OPTIMIZE row still exercises the cancellation: every net is 0 and
# the pair reports zeros via the literal pair frame's left join.
# ---------------------------------------------------------------------------
@query(
    "txlog_version_diff_stats",
    oracle="""
    WITH a AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS p
               FROM orders WHERE o_orderkey % 10 = 0),
    b AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS p
          FROM orders WHERE o_orderkey % 10 = 1),
    ab AS (SELECT * FROM a UNION ALL SELECT * FROM b),
    ab_lost AS (SELECT * FROM ab WHERE p < 150000),
    b_kept AS (SELECT * FROM b WHERE p >= 150000),
    a_lost AS (SELECT * FROM a WHERE p < 150000)
    SELECT * FROM (
      SELECT 0 AS v_from, 1 AS v_to,
             (SELECT COUNT(*) FROM b) AS n_inserted,
             CAST(0 AS BIGINT) AS n_deleted,
             CAST(COALESCE((SELECT SUM(p) FROM b), 0) AS DOUBLE)
               AS ins_total,
             CAST(0 AS DOUBLE) AS del_total
      UNION ALL
      SELECT 1, 2, 0, (SELECT COUNT(*) FROM ab_lost),
             CAST(0 AS DOUBLE),
             CAST(COALESCE((SELECT SUM(p) FROM ab_lost), 0) AS DOUBLE)
      UNION ALL
      SELECT 2, 3, 0, 0, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)
      UNION ALL
      SELECT 0, 2, (SELECT COUNT(*) FROM b_kept),
             (SELECT COUNT(*) FROM a_lost),
             CAST(COALESCE((SELECT SUM(p) FROM b_kept), 0) AS DOUBLE),
             CAST(COALESCE((SELECT SUM(p) FROM a_lost), 0) AS DOUBLE)
    )
    """,
)
def txlog_version_diff_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    from cdk_dynamodb_cdc_spark.storage.txlog import (
        TxTable,
        optimize,
        version_changed_files,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", _dec("o_totalprice").alias("p")
    )
    t = TxTable(spark, tempfile.mkdtemp(prefix="txlog_d_"))
    # coalesce(4): each staged version is ~15k rows — writing it as 32
    # scan-partition-shaped files triples the write-job task count and
    # hands every downstream diff a 100+-split scan for no parallelism
    # gain at this size (row contents, and therefore every diff stat,
    # are file-layout-independent)
    t.commit(orders.filter(F.col("o_orderkey") % 10 == 0).coalesce(4))  # v0
    t.commit(orders.filter(F.col("o_orderkey") % 10 == 1).coalesce(4))  # v1
    t.commit(                                                           # v2
        t.snapshot().filter(F.col("p") >= 150000).coalesce(4),
        mode="overwrite",
    )
    optimize(t, target_file_bytes=64 * 1024 * 1024)                     # v3

    pairs = [(0, 1), (1, 2), (2, 3), (0, 2)]
    manifests: dict[int, dict] = {}
    sides = []
    for v_from, v_to in pairs:
        added, removed, schema = version_changed_files(
            t, v_from, v_to, manifests
        )
        for files, w in ((added, 1), (removed, -1)):
            if files:
                sides.append(
                    spark.read.schema(schema)
                    .parquet(*files)
                    .select(
                        F.lit(v_from).alias("v_from"),
                        F.lit(v_to).alias("v_to"),
                        "o_orderkey",
                        "p",
                        F.lit(w).alias("w"),
                    )
                )
    pair_frame = spark.createDataFrame(pairs, "v_from int, v_to int")
    if not sides:
        # no version pair changed any file (unreachable with the
        # staged commits above, but the stat contract — one zeroed
        # row per pair — should survive edits to the scenario)
        return pair_frame.select(
            "v_from",
            "v_to",
            F.lit(0).cast("long").alias("n_inserted"),
            F.lit(0).cast("long").alias("n_deleted"),
            F.lit(0.0).alias("ins_total"),
            F.lit(0.0).alias("del_total"),
        )
    weighted = sides[0]
    for s in sides[1:]:
        weighted = weighted.unionByName(s)
    net = weighted.groupBy("v_from", "v_to", "o_orderkey", "p").agg(
        F.sum("w").alias("net")
    )
    pos = F.greatest(F.col("net"), F.lit(0))
    neg = F.greatest(-F.col("net"), F.lit(0))
    stats = net.groupBy("v_from", "v_to").agg(
        F.sum(pos).cast("long").alias("n_inserted"),
        F.sum(neg).cast("long").alias("n_deleted"),
        F.sum(pos * F.col("p")).alias("ins_dec"),
        F.sum(neg * F.col("p")).alias("del_dec"),
    )
    return (
        pair_frame.join(F.broadcast(stats), ["v_from", "v_to"], "left")
        .select(
            "v_from",
            "v_to",
            F.coalesce("n_inserted", F.lit(0)).alias("n_inserted"),
            F.coalesce("n_deleted", F.lit(0)).alias("n_deleted"),
            F.coalesce(F.col("ins_dec"), F.lit(0))
            .cast("double")
            .alias("ins_total"),
            F.coalesce(F.col("del_dec"), F.lit(0))
            .cast("double")
            .alias("del_total"),
        )
    )


# ---------------------------------------------------------------------------
# Zero-copy SHALLOW CLONE audit (storage/txlog.py:clone): clone the
# source at v1, then commit DIVERGENT appends to both sides. The
# output pins the three clone laws driver-side: (1) the clone reads
# source@v1 ∪ clone-local rows, (2) the source never sees the clone's
# append, (3) the clone's live set still REFERENCES the source's v1
# files (shared_files — zero bytes copied at clone time) plus only
# its own commit's files (clone_local_files). File counts are pinned
# by repartition(k) before each commit, so the layout is
# deterministic in any environment; the oracle recomputes rows/sums
# with set algebra over `orders` and carries the file counts as the
# construction constants 2+3 shared / 2 local. Scale shape: cloning
# costs ONE metadata write regardless of table size (a 100-TB source
# clones in milliseconds); both snapshot aggregates are single-pass
# map-side-combinable scans.
# ---------------------------------------------------------------------------
@query(
    "txlog_clone_stats",
    oracle="""
    WITH a AS (SELECT CAST(o_totalprice AS DECIMAL(12,2)) AS p
               FROM orders WHERE o_orderkey % 10 = 0),
    b AS (SELECT CAST(o_totalprice AS DECIMAL(12,2)) AS p
          FROM orders WHERE o_orderkey % 10 = 1),
    c AS (SELECT CAST(o_totalprice AS DECIMAL(12,2)) AS p
          FROM orders WHERE o_orderkey % 10 = 2),
    d AS (SELECT CAST(o_totalprice AS DECIMAL(12,2)) AS p
          FROM orders WHERE o_orderkey % 10 = 3)
    SELECT
      (SELECT COUNT(*) FROM a) + (SELECT COUNT(*) FROM b)
        + (SELECT COUNT(*) FROM c) AS src_rows,
      (SELECT COUNT(*) FROM a) + (SELECT COUNT(*) FROM b)
        + (SELECT COUNT(*) FROM d) AS clone_rows,
      CAST((SELECT SUM(p) FROM a) + (SELECT SUM(p) FROM b)
        + (SELECT SUM(p) FROM c) AS DOUBLE) AS src_total,
      CAST((SELECT SUM(p) FROM a) + (SELECT SUM(p) FROM b)
        + (SELECT SUM(p) FROM d) AS DOUBLE) AS clone_total,
      CAST(5 AS BIGINT) AS shared_files,
      CAST(2 AS BIGINT) AS clone_local_files
    """,
)
def txlog_clone_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from cdk_dynamodb_cdc_spark.storage.txlog import TxTable, clone

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", _dec("o_totalprice").alias("p")
    )

    def part(k: int, n_files: int) -> DataFrame:
        return (
            orders.filter(F.col("o_orderkey") % 10 == k)
            .select("p")
            .repartition(n_files)
        )

    src = TxTable(spark, tempfile.mkdtemp(prefix="txlog_src_"))
    src.commit(part(0, 2))                 # v0: 2 files
    src.commit(part(1, 3))                 # v1: +3 files
    dst = clone(src, tempfile.mkdtemp(prefix="txlog_cl_"))
    src.commit(part(2, 1))                 # src v2 — clone must NOT see
    dst.commit(part(3, 2))                 # clone v1 — src must NOT see
    live = dst.manifest(dst.latest_version())["live"]
    # manifest paths may carry a filesystem scheme (file:/...) — match
    # on the unique source directory substring, not a raw prefix
    shared = sum(1 for f in live if src.path in f)
    s = src.snapshot().agg(
        F.count(F.lit(1)).alias("src_rows"),
        F.sum("p").cast("double").alias("src_total"),
    )
    c = dst.snapshot().agg(
        F.count(F.lit(1)).alias("clone_rows"),
        F.sum("p").cast("double").alias("clone_total"),
    )
    return s.crossJoin(c).select(
        "src_rows",
        "clone_rows",
        "src_total",
        "clone_total",
        F.lit(shared).cast("long").alias("shared_files"),
        F.lit(len(live) - shared).cast("long").alias("clone_local_files"),
    )


# ---------------------------------------------------------------------------
# Personalized PageRank / random-walk-with-restart (operators/
# graph.py:pagerank_fixed_point(seed_node=...)): the recommender-
# system proximity measure — the ENTIRE teleport mass restarts at one
# seed node (the lexicographically-least event type, a deterministic
# choice), so ranks measure closeness to the seed in the behavioral
# transition graph rather than global centrality. Same fixed-point
# discipline and plan shape as event_type_pagerank (schema-bounded
# graph persisted once; src-keyed join + dst-keyed aggregate per
# round); the oracle unrolls the seeded recursion.
# ---------------------------------------------------------------------------
def _ppr_oracle() -> str:
    head = """
    WITH seq AS (
      SELECT event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), edges AS (
      SELECT event_type AS src, nxt AS dst, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ), deg AS (
      SELECT src, CAST(SUM(cnt) AS BIGINT) AS tot FROM edges GROUP BY src
    ), e AS (
      SELECT edges.src, edges.dst, edges.cnt, deg.tot
      FROM edges JOIN deg USING (src)
    ), nodes AS (
      SELECT DISTINCT event_type AS node FROM events
    ), sd AS (SELECT MIN(event_type) AS seed FROM events),
    r0 AS (
      SELECT node,
             CASE WHEN node = (SELECT seed FROM sd)
                  THEN 1000000000000 ELSE 0 END AS r
      FROM nodes
    )"""
    rounds = []
    for k in range(1, 5):
        rounds.append(f""",
    r{k} AS (
      SELECT nd.node,
             CASE WHEN nd.node = (SELECT seed FROM sd)
                  THEN 150000000000 ELSE 0 END
             + (85 * COALESCE(c.s, 0)) // 100 AS r
      FROM nodes nd
      LEFT JOIN (SELECT e.dst AS node, SUM((r.r * e.cnt) // e.tot) AS s
                 FROM e JOIN r{k - 1} r ON r.node = e.src
                 GROUP BY e.dst) c
        ON c.node = nd.node
    )""")
    tail = """
    SELECT node AS event_type, CAST(r AS BIGINT) AS rank_scaled,
           CAST(r AS DOUBLE) / 1e12 AS rank
    FROM r4"""
    return head + "".join(rounds) + tail


@query("event_type_ppr", oracle=_ppr_oracle())
def event_type_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.graph import (
        pagerank_fixed_point,
    )

    ev = load_table(spark, sf_dir, "events")
    seed = ev.agg(F.min("event_type")).collect()[0][0]  # 1-value action
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    edges = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt"))
    rank = pagerank_fixed_point(edges, iters=4, seed_node=seed)
    return rank.select(
        F.col("node").alias("event_type"),
        F.col("r").alias("rank_scaled"),
        (F.col("r").cast("double") / F.lit(1e12)).alias("rank"),
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov test between the value distributions
# of the two (lexicographically) first event types — the
# distribution-shift / drift detector run between snapshots of a
# feature. Values are binned onto the fixed 100-bin grid over
# [0, 500) (the value_histogram domain; binned ECDFs make the
# statistic's support schema-bounded instead of corpus-sized — the
# same reason the histogram family bins), and D = max |ECDF_a -
# ECDF_b| is computed EXACTLY by cross-multiplication:
# D_num = max |cum_a * n_b - cum_b * n_a| over the grid, an integer;
# the alpha=0.05 decision is the integer comparison
# 1e6 * D_num^2 >= 1844164 * (n_a + n_b) * n_a * n_b (c = 1.358),
# evaluated in DECIMAL(38,0)/HUGEINT — no float enters the verdict.
# Scale shape: one (type, bin) aggregate (map-side combinable,
# 200-row output), cumulative windows over the bounded grid, one
# 1-row reduce.
# ---------------------------------------------------------------------------
@query(
    "ks_value_distribution_shift",
    oracle="""
    WITH picks AS (
      SELECT event_type,
             ROW_NUMBER() OVER (ORDER BY event_type) AS rk
      FROM (SELECT DISTINCT event_type FROM events)
      ORDER BY event_type LIMIT 2
    ), binned AS (
      SELECT p.rk,
             LEAST(CAST(FLOOR(e.value / 5.0) AS BIGINT), 99) AS bin
      FROM events e JOIN picks p ON p.event_type = e.event_type
    ), cnt AS (
      SELECT rk, bin, CAST(COUNT(*) AS BIGINT) AS n
      FROM binned GROUP BY rk, bin
    ), grid AS (
      SELECT r.rk, g.bin, COALESCE(c.n, 0) AS n
      FROM (SELECT unnest(range(0, 100)) AS bin) g
      CROSS JOIN (SELECT 1 AS rk UNION ALL SELECT 2) r
      LEFT JOIN cnt c ON c.rk = r.rk AND c.bin = g.bin
    ), cum AS (
      SELECT rk, bin,
             SUM(n) OVER (PARTITION BY rk ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(n) OVER (PARTITION BY rk) AS tot
      FROM grid
    ), joined AS (
      SELECT a.bin, a.cum AS ca, b.cum AS cb, a.tot AS na, b.tot AS nb
      FROM cum a JOIN cum b ON b.bin = a.bin AND a.rk = 1 AND b.rk = 2
    ), d AS (
      SELECT MAX(ABS(ca * nb - cb * na)) AS d_num,
             MAX(na) AS na, MAX(nb) AS nb
      FROM joined
    )
    SELECT (SELECT event_type FROM picks WHERE rk = 1) AS type_a,
           (SELECT event_type FROM picks WHERE rk = 2) AS type_b,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(d_num AS BIGINT) AS d_num,
           CAST((d_num * 1000000) // (na * nb) AS BIGINT) AS d_ppm,
           CAST(d_num AS DOUBLE) / (CAST(na AS DOUBLE)
                                    * CAST(nb AS DOUBLE)) AS ks_stat,
           1000000 * CAST(d_num AS HUGEINT) * d_num
             >= 1844164 * CAST(na + nb AS HUGEINT) * na * nb
             AS reject_05
    FROM d
    """,
)
def ks_value_distribution_shift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wrk = Window.orderBy("event_type")
    picks = (
        ev.select("event_type")
        .distinct()
        .orderBy("event_type")
        .limit(2)
        .select("event_type", F.row_number().over(wrk).alias("rk"))
    )
    binned = ev.join(F.broadcast(picks), "event_type").select(
        "rk",
        F.least(
            F.floor(F.col("value") / 5.0).cast("long"), F.lit(99)
        ).alias("bin"),
    )
    cnt = binned.groupBy("rk", "bin").agg(F.count(F.lit(1)).alias("n"))
    grid = (
        spark.range(100)
        .select(F.col("id").alias("bin"))
        .crossJoin(spark.range(1, 3).select(F.col("id").alias("rk")))
        .join(cnt, ["rk", "bin"], "left")
        .select("rk", "bin", F.coalesce("n", F.lit(0)).alias("n"))
    )
    wcum = (
        Window.partitionBy("rk")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("rk")
    cum = grid.select(
        "rk",
        "bin",
        F.sum("n").over(wcum).alias("cum"),
        F.sum("n").over(wtot).alias("tot"),
    )
    a = cum.filter(F.col("rk") == 1).select(
        "bin", F.col("cum").alias("ca"), F.col("tot").alias("na")
    )
    b = cum.filter(F.col("rk") == 2).select(
        "bin", F.col("cum").alias("cb"), F.col("tot").alias("nb")
    )
    d = (
        a.join(b, "bin")
        .agg(
            F.max(F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))).alias("d_num"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
    )
    names = picks.groupBy().pivot("rk", [1, 2]).agg(
        F.first("event_type")
    ).select(F.col("1").alias("type_a"), F.col("2").alias("type_b"))
    lhs = (
        F.lit(1000000).cast("decimal(38,0)")
        * F.col("d_num")
        * F.col("d_num")
    )
    rhs = (
        F.lit(1844164).cast("decimal(38,0)")
        * (F.col("na") + F.col("nb"))
        * F.col("na")
        * F.col("nb")
    )
    return d.crossJoin(F.broadcast(names)).select(
        "type_a",
        "type_b",
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "d_num",
        F.expr("(d_num * 1000000) div (na * nb)").alias("d_ppm"),
        (
            F.col("d_num").cast("double")
            / (F.col("na").cast("double") * F.col("nb").cast("double"))
        ).alias("ks_stat"),
        (lhs >= rhs).alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend estimation of daily revenue: the median of
# all pairwise slopes — the standard outlier-resistant alternative to
# OLS (ols_price_on_quantity's sibling). Slopes are EXACT RATIONALS
# (num = cents difference, den = day difference); the median is
# selected under the total order (double value, num, den) — the
# double is one correctly-rounded division of two exact integers, so
# both engines order identically, and the integer tiebreak settles
# equal-double neighbors. Scale shape: the pair join is DAYS-squared
# (a calendar-bounded ~30x30, never corpus-sized — same argument as
# daily_revenue_acf); the corpus-scale work is one map-side-
# combinable daily aggregate.
# ---------------------------------------------------------------------------
@query(
    "theil_sen_revenue_trend",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS y
      FROM events GROUP BY day
    ), slopes AS (
      SELECT b.y - a.y AS num,
             date_diff('day', a.day, b.day) AS den
      FROM daily a JOIN daily b ON b.day > a.day
    ), ranked AS (
      SELECT num, den,
             ROW_NUMBER() OVER (
               ORDER BY CAST(num AS DOUBLE) / den, num, den) AS rn,
             COUNT(*) OVER () AS np
      FROM slopes
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           CAST(np AS BIGINT) AS n_pairs,
           CAST(num AS BIGINT) AS slope_num,
           CAST(den AS BIGINT) AS slope_den,
           CAST(num AS DOUBLE) / den AS slope_cents_per_day
    FROM ranked WHERE rn = (np + 1) // 2
    """,
)
def theil_sen_revenue_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("y")
    )
    a = daily.select(
        F.col("day").alias("da"), F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("day").alias("db"), F.col("y").alias("yb")
    )
    slopes = a.join(b, F.col("db") > F.col("da")).select(
        (F.col("yb") - F.col("ya")).alias("num"),
        F.datediff("db", "da").cast("long").alias("den"),
    )
    wr = Window.orderBy(
        F.col("num").cast("double") / F.col("den"), "num", "den"
    )  # days^2-sized series: the unpartitioned window is bounded
    ranked = slopes.select(
        "num",
        "den",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy()
        ).alias("np"),
    )
    nd = daily.agg(F.count(F.lit(1)).alias("n_days"))
    return (
        ranked.filter(F.col("rn") == F.expr("(np + 1) div 2"))
        .crossJoin(F.broadcast(nd))
        .select(
            "n_days",
            F.col("np").alias("n_pairs"),
            F.col("num").alias("slope_num"),
            F.col("den").alias("slope_den"),
            (F.col("num").cast("double") / F.col("den")).alias(
                "slope_cents_per_day"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Sequence-pattern matching over sessions — the MATCH_RECOGNIZE /
# funnel-regex analogue: each gap-based session (sessionize_events
# cuts) is rendered as its ordered event-initial string ('vvcp' =
# view view click purchase; the five event types have distinct
# initials) and matched against a fixed pattern table of behavioral
# regexes. Determinism: the per-session string is built by
# sort_array over (ts, event_id) — never collect_list order — and
# regex semantics are unanchored-search in both engines. Scale shape:
# sessionization windows partition by user; per-session strings are
# session-bounded; the pattern table is a constant broadcast, so
# matching is a linear scan x 4 regexes; output is pattern-sized.
# ---------------------------------------------------------------------------
_SESSION_PATTERNS = [
    ("direct_purchase", "^v+p"),
    ("click_funnel", "v+c+[a-z]*p"),
    ("error_retry", "e[a-z]*e"),
    ("bounce", "^v$"),
]


@query(
    "session_pattern_match_counts",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                       > 1800000000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END
               AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_session) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM gaps
    ), strs AS (
      SELECT user_id, session_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS s
      FROM sess GROUP BY user_id, session_id
    ), pats AS (
      SELECT * FROM (VALUES
        {', '.join(f"('{n}', '{p}')" for n, p in _SESSION_PATTERNS)}
      ) AS t(pattern_name, pat)
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM strs)
    SELECT p.pattern_name,
           CAST(COALESCE(m.c, 0) AS BIGINT) AS n_sessions,
           CAST((COALESCE(m.c, 0) * 1000000) // t.n AS BIGINT)
             AS share_ppm
    FROM pats p
    LEFT JOIN (SELECT pattern_name, COUNT(*) AS c
               FROM strs JOIN pats ON regexp_matches(s, pat)
               GROUP BY pattern_name) m
      ON m.pattern_name = p.pattern_name
    CROSS JOIN tot t
    """,
)
def session_pattern_match_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = _epoch_us(F.col("ts")) - _epoch_us(F.lag("ts").over(w))
    new_session = F.when(
        gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    wsum = Window.partitionBy("user_id").orderBy(
        "ts", "event_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    sess = ev.withColumn("new_session", new_session).withColumn(
        "session_id", F.sum("new_session").over(wsum)
    )
    strs = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "ts",
                        "event_id",
                        F.substring("event_type", 1, 1).alias("ch"),
                    )
                )
            ).alias("evs")
        )
        .select(
            F.aggregate(
                "evs",
                F.lit(""),
                lambda acc, x: F.concat(acc, x["ch"]),
            ).alias("s")
        )
    )
    pats = spark.createDataFrame(
        _SESSION_PATTERNS, "pattern_name string, pat string"
    )
    matched = (
        strs.crossJoin(F.broadcast(pats))
        .filter(F.expr("s rlike pat"))
        .groupBy("pattern_name")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = strs.agg(F.count(F.lit(1)).alias("n"))
    return (
        pats.join(matched, "pattern_name", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "pattern_name",
            F.coalesce("c", F.lit(0)).alias("n_sessions"),
            F.expr("(coalesce(c, 0) * 1000000) div n").alias(
                "share_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Multi-format source/sink roundtrip: the same orders slice is
# written to CSV (header), JSON-lines, and parquet with Spark's
# writers, read back through the corresponding READERS under an
# explicit schema, and aggregated — all three rows must carry
# identical counts and decimal totals, which pins the text-format
# type paths (timestamp <-> ISO string, DECIMAL <-> quoted number)
# that silently corrupt when a reader infers doubles. The oracle is
# the same slice straight from `orders`, three times. Scale shape:
# writes/reads are whole-stage parallel per format; aggregation is
# map-side-partial decimal sums; nothing driver-side but the tmp dir
# name.
# ---------------------------------------------------------------------------
@query(
    "source_format_roundtrip",
    oracle="""
    WITH s AS (
      SELECT o_orderkey, o_orderdate,
             CAST(o_totalprice AS DECIMAL(12,2)) AS p
      FROM orders WHERE o_orderkey % 7 = 0
    ), agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(p) AS DOUBLE) AS total_price,
             CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS n_dates
      FROM s
    )
    SELECT fmt, n_rows, total_price, n_dates
    FROM (VALUES ('csv'), ('json'), ('parquet')) AS f(fmt)
    CROSS JOIN agg
    """,
)
def source_format_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    s = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            "o_orderdate",
            _dec("o_totalprice").alias("p"),
        )
    )
    base = tempfile.mkdtemp(prefix="fmt_rt_")
    schema = "o_orderkey bigint, o_orderdate timestamp, p decimal(12,2)"
    s.write.mode("overwrite").option("header", True).csv(f"{base}/csv")
    s.write.mode("overwrite").json(f"{base}/json")
    s.write.mode("overwrite").parquet(f"{base}/parquet")
    readers = {
        "csv": spark.read.schema(schema).option("header", True).csv(
            f"{base}/csv"
        ),
        "json": spark.read.schema(schema).json(f"{base}/json"),
        "parquet": spark.read.schema(schema).parquet(f"{base}/parquet"),
    }
    out = None
    for fmt, df in readers.items():
        row = df.agg(
            F.lit(fmt).alias("fmt"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("p").cast("double").alias("total_price"),
            F.countDistinct("o_orderdate").alias("n_dates"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# TIME-DECAY multi-touch attribution — the third member of the
# attribution family (last-touch, linear, now exponential decay):
# each non-purchase touch in a converting journey earns weight
# 2^(20 - age_days) (1-day half-life, age capped at 20 days so
# weights stay integer powers of two), and the journey's 1e6 ppm of
# credit is apportioned proportionally with EXACT integer arithmetic:
# floor(1e6 * w / W) per touch plus largest-remainder distribution
# (remainders ranked (frac desc, pos desc) — recency wins ties), so
# per-type credit provably sums to 1e6 x conversions. Shape: the
# linear lane's two user-keyed windows + one journey-keyed join,
# plus one remainder-ranking window per journey; all shuffles are
# user/journey-keyed and map-side combinable.
# ---------------------------------------------------------------------------
@query(
    "attribution_time_decay",
    oracle="""
    WITH j AS (
      SELECT user_id, event_type, event_id, ts,
             COALESCE(SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS journey
      FROM events
    ),
    conv AS (
      SELECT user_id, journey, MIN(CAST(ts AS DATE)) AS conv_day
      FROM j WHERE event_type = 'purchase'
      GROUP BY user_id, journey
    ),
    t AS (
      SELECT x.user_id, x.journey, x.event_type,
             ROW_NUMBER() OVER (PARTITION BY x.user_id, x.journey
                                ORDER BY x.ts, x.event_id) AS pos,
             CAST(POWER(2, 20 - LEAST(
               date_diff('day', CAST(x.ts AS DATE), c.conv_day), 20))
               AS BIGINT) AS w
      FROM j x JOIN conv c
        ON c.user_id = x.user_id AND c.journey = x.journey
      WHERE x.event_type <> 'purchase'
    ),
    ww AS (
      SELECT user_id, journey, event_type, pos, w,
             SUM(w) OVER (PARTITION BY user_id, journey) AS tw
      FROM t
    ),
    shares AS (
      SELECT user_id, journey, event_type, pos,
             (1000000 * w) // tw AS base,
             (1000000 * w) % tw AS frac
      FROM ww
    ),
    topped AS (
      SELECT event_type, base,
             CASE WHEN ROW_NUMBER() OVER (
                    PARTITION BY user_id, journey
                    ORDER BY frac DESC, pos DESC)
                  <= 1000000 - SUM(base) OVER (
                    PARTITION BY user_id, journey)
                  THEN 1 ELSE 0 END AS extra
      FROM shares
    )
    SELECT event_type AS attributed_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(base + extra) AS BIGINT) AS credit_ppm
    FROM topped GROUP BY event_type
    """,
)
def attribution_time_decay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w_prior = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    j = ev.select(
        "user_id",
        "event_type",
        "event_id",
        "ts",
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(w_prior),
            F.lit(0),
        ).alias("journey"),
    )
    conv = (
        j.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "journey")
        .agg(F.min(F.col("ts").cast("date")).alias("conv_day"))
    )
    wj = Window.partitionBy("user_id", "journey").orderBy(
        "ts", "event_id"
    )
    age = F.least(
        F.datediff("conv_day", F.col("ts").cast("date")), F.lit(20)
    )
    t = (
        j.filter(F.col("event_type") != "purchase")
        .join(conv, ["user_id", "journey"])
        .select(
            "user_id",
            "journey",
            "event_type",
            F.row_number().over(wj).alias("pos"),
            age.alias("age"),
        )
        .withColumn(
            "w", F.expr("shiftleft(cast(1 as bigint), 20 - age)")
        )
        .drop("age")
    )
    wn = Window.partitionBy("user_id", "journey")
    ww = t.withColumn("tw", F.sum("w").over(wn))
    shares = ww.select(
        "user_id",
        "journey",
        "event_type",
        "pos",
        F.expr("(1000000 * w) div tw").alias("base"),
        F.pmod(F.lit(1000000) * F.col("w"), F.col("tw")).alias("frac"),
    )
    wrem = Window.partitionBy("user_id", "journey").orderBy(
        F.col("frac").desc(), F.col("pos").desc()
    )
    topped = shares.select(
        "event_type",
        "base",
        F.when(
            F.row_number().over(wrem)
            <= F.lit(1000000) - F.sum("base").over(wn),
            1,
        )
        .otherwise(0)
        .alias("extra"),
    )
    return topped.groupBy(
        F.col("event_type").alias("attributed_type")
    ).agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum(F.col("base") + F.col("extra")).alias("credit_ppm"),
    )


# ---------------------------------------------------------------------------
# Item-item collaborative filtering ("customers who bought X also
# bought Y"): cosine similarity on order co-occurrence —
# sim(a,b) = co(a,b) / sqrt(n_a * n_b) — with the per-probe top-5
# ranked EXACTLY by the integer key (co^2 * 1e12) div (n_a * n_b)
# (squaring removes the sqrt; cross-multiplied division keeps the
# order engine-exact), partkey tiebreak. Probes are a deterministic
# 1/199 sample of parts so the OUTPUT stays bounded while the
# similarity model is computed over the full corpus. Shape: the
# co-order pair aggregate is the basket_brand_pairs shape (per-order
# fan-out bounded by basket size squared); the per-probe top-5 is a
# rank-filter window that Spark executes as WindowGroupLimit (partial
# per-partition top-k before the shuffle).
# ---------------------------------------------------------------------------
@query(
    "part_item_cf_topk",
    oracle="""
    WITH it AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    deg AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n
      FROM it GROUP BY l_partkey
    ), co AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             CAST(COUNT(*) AS BIGINT) AS co
      FROM it a JOIN it b
        ON a.l_orderkey = b.l_orderkey
       AND a.l_partkey <> b.l_partkey
      GROUP BY pa, pb
    ), scored AS (
      SELECT co.pa, co.pb, co.co,
             (co.co * co.co * 1000000000000)
               // (da.n * db.n) AS score_scaled
      FROM co
      JOIN deg da ON da.l_partkey = co.pa
      JOIN deg db ON db.l_partkey = co.pb
      WHERE co.pa % 199 = 0
    )
    SELECT pa AS part, pb AS neighbor, co AS n_coorders,
           CAST(score_scaled AS BIGINT) AS score_scaled
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY pa
              ORDER BY score_scaled DESC, pb) AS rk
          FROM scored) t
    WHERE rk <= 5
    """,
)
def part_item_cf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    it = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    deg = it.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    a = it.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa")
    )
    b = it.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb")
    )
    co = (
        a.join(b, "ok")
        .filter(F.col("pa") != F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("pa") % 199 == 0)
    )
    scored = (
        co.join(
            deg.select(
                F.col("l_partkey").alias("pa"), F.col("n").alias("na")
            ),
            "pa",
        )
        .join(
            deg.select(
                F.col("l_partkey").alias("pb"), F.col("n").alias("nb")
            ),
            "pb",
        )
        .withColumn(
            "score_scaled",
            F.expr("(co * co * 1000000000000) div (na * nb)"),
        )
    )
    wr = Window.partitionBy("pa").orderBy(
        F.col("score_scaled").desc(), "pb"
    )
    return (
        scored.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 5)
        .select(
            F.col("pa").alias("part"),
            F.col("pb").alias("neighbor"),
            F.col("co").alias("n_coorders"),
            "score_scaled",
        )
    )


# ---------------------------------------------------------------------------
# Hierarchical change-point detection by BINARY SEGMENTATION over the
# daily revenue series — the multi-change-point extension of the
# CUSUM single-shift test: level 1 finds the split t* maximizing the
# scaled CUSUM deviation |n*S_t - t*S_n| (all integer cents — the
# cross-multiplied form of |S_t/t-ish drift|, min-t tiebreak), then
# recurses once into each half, yielding up to three change points.
# Everything is exact integer arithmetic over the days-sized series
# (the corpus-scale work is one map-side-combinable daily aggregate);
# the oracle replays both levels with QUALIFY argmax selections.
# ---------------------------------------------------------------------------
@query(
    "revenue_binary_segmentation",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS y
      FROM events GROUP BY day
    ), idx AS (
      SELECT day, y, ROW_NUMBER() OVER (ORDER BY day) AS t,
             SUM(y) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
             COUNT(*) OVER () AS n,
             SUM(y) OVER () AS stot
      FROM daily
    ), l1 AS (
      SELECT t AS cp1, day AS cp1_day,
             ABS(n * s - t * stot) AS d1
      FROM idx WHERE t < n
      QUALIFY ROW_NUMBER() OVER (
        ORDER BY ABS(n * s - t * stot) DESC, t) = 1
    ), seg AS (
      SELECT i.t, i.day, i.s, i.y,
             CASE WHEN i.t <= l.cp1 THEN 0 ELSE 1 END AS side,
             l.cp1
      FROM idx i CROSS JOIN l1 l
    ), segstat AS (
      SELECT t, day, side,
             SUM(y) OVER (PARTITION BY side ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ss,
             ROW_NUMBER() OVER (PARTITION BY side ORDER BY t) AS tt,
             COUNT(*) OVER (PARTITION BY side) AS nn,
             SUM(y) OVER (PARTITION BY side) AS sstot
      FROM seg
    ), l2 AS (
      SELECT side, tt, day,
             ABS(nn * ss - tt * sstot) AS d
      FROM segstat WHERE tt < nn
      QUALIFY ROW_NUMBER() OVER (PARTITION BY side
        ORDER BY ABS(nn * ss - tt * sstot) DESC, tt) = 1
    )
    SELECT * FROM (
      SELECT 1 AS level, 0 AS side, cp1_day AS change_day,
             CAST(d1 AS BIGINT) AS deviation
      FROM l1
      UNION ALL
      SELECT 2, side, day, CAST(d AS BIGINT) FROM l2
    )
    """,
)
def revenue_binary_segmentation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("y")
    )
    # days-sized series: the unpartitioned windows are bounded
    wo = Window.orderBy("day")
    wcum = wo.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    idx = daily.select(
        "day",
        "y",
        F.row_number().over(wo).alias("t"),
        F.sum("y").over(wcum).alias("s"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("y").over(wall).alias("stot"),
    )
    dev = F.abs(F.col("n") * F.col("s") - F.col("t") * F.col("stot"))
    wd1 = Window.orderBy(dev.desc(), "t")
    l1 = (
        idx.filter(F.col("t") < F.col("n"))
        .withColumn("rk", F.row_number().over(wd1))
        .filter(F.col("rk") == 1)
        .select(
            F.col("t").alias("cp1"),
            F.col("day").alias("cp1_day"),
            dev.alias("d1"),
        )
    )
    seg = idx.crossJoin(F.broadcast(l1)).select(
        "t",
        "day",
        "y",
        F.when(F.col("t") <= F.col("cp1"), 0).otherwise(1).alias("side"),
    )
    ws = Window.partitionBy("side").orderBy("t")
    wscum = ws.rowsBetween(Window.unboundedPreceding, 0)
    wsall = Window.partitionBy("side")
    segstat = seg.select(
        "day",
        "side",
        F.sum("y").over(wscum).alias("ss"),
        F.row_number().over(ws).alias("tt"),
        F.count(F.lit(1)).over(wsall).alias("nn"),
        F.sum("y").over(wsall).alias("sstot"),
    )
    dev2 = F.abs(
        F.col("nn") * F.col("ss") - F.col("tt") * F.col("sstot")
    )
    wd2 = Window.partitionBy("side").orderBy(dev2.desc(), "tt")
    l2 = (
        segstat.filter(F.col("tt") < F.col("nn"))
        .withColumn("rk", F.row_number().over(wd2))
        .filter(F.col("rk") == 1)
        .select(
            F.lit(2).alias("level"),
            "side",
            F.col("day").alias("change_day"),
            dev2.alias("deviation"),
        )
    )
    top = l1.select(
        F.lit(1).alias("level"),
        F.lit(0).alias("side"),
        F.col("cp1_day").alias("change_day"),
        F.col("d1").alias("deviation"),
    )
    return top.unionByName(l2)


# ---------------------------------------------------------------------------
# Distribution sketch (functions/sketches.py: sample_sketch /
# sample_quantile_targets): bottom-k-by-hash uniform row sample over
# lineitem prices, quantile picks by exact integer rank arithmetic on
# the sample, then the CONTRACT — one full-scan conditional count pins
# each estimate's TRUE rank within 5% of the target q (DKW at k=2048
# puts the per-quantile failure probability below 1e-4, and the hash
# sample is fixed, so the booleans are stable facts of the corpus).
# The oracle replays the sample (same md5 bottom-k), the picks, and
# the true ranks — estimates AND contract hash-identically. The
# reference has no aggregation surface at all; this is the one-pass
# mergeable lane beside the exact two-pass operator
# (operators/quantiles.py).
# ---------------------------------------------------------------------------
@query(
    "sampled_quantile_contract",
    oracle="""
    WITH smp AS (
      SELECT ('0x' || substr(md5('qsk:' || CAST(l_orderkey AS VARCHAR)
               || '|' || CAST(l_linenumber AS VARCHAR) || '|'),
               1, 15))::BIGINT AS h,
             l_extendedprice AS v
      FROM lineitem WHERE l_extendedprice IS NOT NULL
      ORDER BY h, v LIMIT 2048
    ),
    m AS (SELECT COUNT(*) AS m FROM smp),
    ranked AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v, h) AS rn
               FROM smp),
    tq AS (SELECT * FROM (VALUES
             ('p25', 1, 4, 250000), ('p50', 1, 2, 500000),
             ('p90', 9, 10, 900000), ('p99', 99, 100, 990000))
           AS t(q, num, den, q_ppm)),
    pick AS (
      SELECT tq.q, tq.q_ppm, r.v AS est_value,
             CAST((r.rn * 1000000) // m.m AS BIGINT) AS est_rank_ppm
      FROM tq, m, ranked r
      WHERE r.rn = GREATEST(1, (tq.num * m.m + tq.den - 1) // tq.den)
    ),
    n AS (SELECT COUNT(l_extendedprice) AS n FROM lineitem),
    tr AS (
      SELECT p.q, p.q_ppm, p.est_value, p.est_rank_ppm,
             SUM(CASE WHEN l.l_extendedprice <= p.est_value
                      THEN 1 ELSE 0 END) AS trk
      FROM lineitem l CROSS JOIN pick p
      GROUP BY p.q, p.q_ppm, p.est_value, p.est_rank_ppm
    )
    SELECT tr.q,
           CAST(tr.est_value AS DOUBLE) AS est_value,
           tr.est_rank_ppm,
           CAST((tr.trk * 1000000) // n.n AS BIGINT) AS true_rank_ppm,
           (abs(CAST((tr.trk * 1000000) // n.n AS BIGINT) - tr.q_ppm)
              <= 50000) AS within_5pct
    FROM tr, n
    """,
)
def sampled_quantile_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cdk_dynamodb_cdc_spark.functions.sketches import (
        sample_quantile_targets,
        sample_sketch,
    )

    li = load_table(spark, sf_dir, "lineitem")
    sk = sample_sketch(
        li, "l_extendedprice", ["l_orderkey", "l_linenumber"]
    )
    qdf = F.broadcast(
        spark.createDataFrame(
            [
                ("p25", 250000),
                ("p50", 500000),
                ("p90", 900000),
                ("p99", 990000),
            ],
            "q string, q_ppm long",
        )
    )
    est = sample_quantile_targets(
        sk,
        [("p25", 1, 4), ("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)],
    )
    n = li.agg(F.count("l_extendedprice").alias("n"))
    truth = (
        li.select("l_extendedprice")
        .crossJoin(F.broadcast(est))
        .groupBy("q", "est_value", "est_rank_ppm")
        .agg(
            F.sum(
                F.when(
                    F.col("l_extendedprice") <= F.col("est_value"), 1
                ).otherwise(0)
            ).alias("trk")
        )
    )
    return (
        truth.crossJoin(F.broadcast(n))
        .join(qdf, "q")
        .select(
            "q",
            F.col("est_value").cast("double").alias("est_value"),
            "est_rank_ppm",
            F.expr("(trk * CAST(1000000 AS BIGINT)) DIV n")
            .cast("long")
            .alias("true_rank_ppm"),
            (
                F.abs(
                    F.expr("(trk * CAST(1000000 AS BIGINT)) DIV n")
                    - F.col("q_ppm")
                )
                <= F.lit(50000)
            ).alias("within_5pct"),
        )
    )


# ---------------------------------------------------------------------------
# Sequential pattern mining (ordered event pairs WITH GAPS): which
# event type is followed — anywhere later in the same session, not
# just adjacently — by which. The gap semantics distinguish this from
# session_path_trigrams (contiguous n-grams) and from the Apriori
# itemsets (unordered): it is the support count of the length-2
# sequential patterns of GSP/PrefixSpan. Per session only the first
# 12 events contribute (bounded prefix => <= 66 pairs per session,
# generated JVM-side from the sorted struct array — no join, no
# Python); support is counted once per session (array_distinct). The
# oracle states the quadratic definition as a rn<rn self-join; the
# Spark plan never runs that join — the green hash certifies the
# array-fold equivalent. Reference: forwards events unexamined
# (dynamo-stream-handler.ts:168-177); pattern semantics are the §2C
# analytics extension.
# ---------------------------------------------------------------------------
@query(
    "session_sequence_pairs",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                       > 1800000000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END
               AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_session) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM gaps
    ), pref AS (
      SELECT * FROM (
        SELECT user_id, session_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                  ORDER BY ts, event_id) AS rn
        FROM sess)
      WHERE rn <= 12
    ),
    tot AS (SELECT COUNT(*) AS n FROM
            (SELECT DISTINCT user_id, session_id FROM pref)),
    pairs AS (
      SELECT DISTINCT e1.user_id, e1.session_id,
             e1.event_type AS a, e2.event_type AS b
      FROM pref e1 JOIN pref e2
        ON e1.user_id = e2.user_id
       AND e1.session_id = e2.session_id
       AND e1.rn < e2.rn
    ),
    sup AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS support
            FROM pairs GROUP BY a, b)
    SELECT a, b, support,
           CAST((support * 1000000) // t.n AS BIGINT) AS share_ppm
    FROM sup, tot t
    ORDER BY support DESC, a, b LIMIT 15
    """,
)
def session_sequence_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = _epoch_us(F.col("ts")) - _epoch_us(F.lag("ts").over(w))
    new_session = F.when(
        gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, 0)
    sess = ev.withColumn(
        "session_id", F.sum(new_session).over(wsum)
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id", "session_id").orderBy(
            "ts", "event_id"
        )
    )
    pref = sess.withColumn("rn", rn).filter(F.col("rn") <= 12)
    arr = pref.groupBy("user_id", "session_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct("rn", F.col("event_type").alias("t"))
            )
        ).alias("evs")
    )
    pairs = F.expr(
        "array_distinct(flatten(transform(evs, (x, i) -> "
        "transform(slice(evs, i + 2, size(evs)), y -> "
        "struct(x.t AS a, y.t AS b)))))"
    )
    sup = (
        arr.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("support"))
    )
    tot = arr.agg(F.count(F.lit(1)).alias("n"))
    return (
        sup.crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            "support",
            F.expr("(support * CAST(1000000 AS BIGINT)) DIV n")
            .cast("long")
            .alias("share_ppm"),
        )
        .orderBy(F.desc("support"), "a", "b")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# k-means (llm/vectors.py:kmeans_int): Lloyd's loop as a registered,
# driver-verified operator — 3 fixed iterations, md5-seeded init,
# exact integer assignment and floor-div centroid updates, so the
# oracle can replay the ENTIRE training trajectory as unrolled CTEs
# (same discipline as the fixed-point PageRank/HITS/k-core oracles:
# equality holds at any SF by construction, not by float luck). The
# output pins cluster memberships (sizes), the exact within-cluster
# squared-distance objective, and a centroid checksum — i.e. the
# loop's full state, not just a summary.
# ---------------------------------------------------------------------------
def _kmeans_oracle(k: int, iters: int, dim: int, scale: int) -> str:
    rng = f"range(1, {dim + 1})"
    ctes = [
        f"""xq AS (
      SELECT vec_id, list_transform(embedding,
               v -> CAST(floor(v::DOUBLE * {scale}) AS BIGINT)) AS x
      FROM embeddings)""",
        f"""init AS (
      SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) AS cluster, x AS c
      FROM (SELECT vec_id, x,
                   ('0x' || substr(md5('km:' ||
                      CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h
            FROM xq ORDER BY h, vec_id LIMIT {k}))""",
    ]
    cent = "init"
    for t in range(iters):
        ctes.append(
            f"""asg{t} AS (
      SELECT vec_id, x, cluster, d2 FROM (
        SELECT vec_id, x, cluster, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cluster) AS rk
        FROM (SELECT q.vec_id, q.x, c.cluster,
                     list_sum(list_transform({rng},
                       i -> (q.x[i] - c.c[i]) * (q.x[i] - c.c[i])))
                       AS d2
              FROM xq q, {cent} c))
      WHERE rk = 1)"""
        )
        if t < iters - 1:
            ctes.append(
                f"""u{t} AS (
      SELECT cluster, MAX(cnt) AS n, list(sd ORDER BY i) AS sx
      FROM (SELECT cluster, i, SUM(x[i]) AS sd, COUNT(*) AS cnt
            FROM asg{t}, {rng} AS t(i) GROUP BY cluster, i)
      GROUP BY cluster)"""
            )
            ctes.append(
                f"""cent{t + 1} AS (
      SELECT p.cluster,
             CASE WHEN u.n IS NULL THEN p.c
                  ELSE list_transform({rng},
                    i -> CAST(floor(u.sx[i]::DOUBLE / u.n) AS BIGINT))
             END AS c
      FROM {cent} p LEFT JOIN u{t} u USING (cluster))"""
            )
            cent = f"cent{t + 1}"
    return f"""
    WITH {", ".join(ctes)}
    SELECT c.cluster,
           CAST(COALESCE(r.n_docs, 0) AS BIGINT) AS n_docs,
           CAST(COALESCE(r.wss, 0) AS DOUBLE) AS wss,
           CAST(list_sum(c.c) AS BIGINT) AS checksum
    FROM {cent} c LEFT JOIN (
      SELECT cluster, COUNT(*) AS n_docs,
             SUM(CAST(d2 AS DECIMAL(38,0))) AS wss
      FROM asg{iters - 1} GROUP BY cluster) r USING (cluster)
    """


@query("kmeans_doc_clusters", oracle=_kmeans_oracle(8, 3, 64, 1_000_000))
def kmeans_doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return llm_vectors.kmeans_int(emb, k=8, iters=3, dim=64)


# ---------------------------------------------------------------------------
# Functional-dependency discovery (data profiling, TANE/Metanome
# family): for each candidate X -> Y over orders, the exact g3 error —
# the minimum number of rows to delete for the FD to hold, i.e.
# n - sum_x max_y |rows with X=x, Y=y|. One (X, Y) count aggregate and
# one per-X argmax per candidate, both map-side combinable; candidates
# are schema-bounded (a profiler enumerates column pairs, never data).
# Exact integers end-to-end; `holds` is g3 = 0. The discovered set on
# this corpus is non-vacuous in both directions: o_orderkey -> others
# hold (it is the key), the reverses fail.
# ---------------------------------------------------------------------------
_FD_CANDIDATES = [
    ("o_orderkey", "o_custkey"),
    ("o_orderkey", "o_orderstatus"),
    ("o_custkey", "o_orderpriority"),
    ("o_custkey", "o_orderstatus"),
    ("o_orderpriority", "o_orderstatus"),
    ("o_totalprice", "o_custkey"),
]


def _fd_oracle() -> str:
    parts = []
    for x, y in _FD_CANDIDATES:
        parts.append(f"""
    SELECT '{x}' AS lhs, '{y}' AS rhs,
           CAST((SELECT COUNT(*) FROM orders) -
                (SELECT SUM(mx) FROM (
                   SELECT MAX(c) AS mx FROM (
                     SELECT {x}, {y}, COUNT(*) AS c FROM orders
                     GROUP BY {x}, {y})
                   GROUP BY {x})) AS BIGINT) AS g3_error""")
    return (
        "SELECT lhs, rhs, g3_error, (g3_error = 0) AS holds FROM ("
        + " UNION ALL ".join(parts)
        + ")"
    )


@query("fd_discovery_profile", oracle=_fd_oracle())
def fd_discovery_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cols = sorted({c for pair in _FD_CANDIDATES for c in pair})
    # ALL candidate pair-counts plus the grand total from ONE scan:
    # grouping sets emits every (X, Y) slice and () in a single
    # map-side-combined pass (the HBOS histogram trick, here over
    # profiling candidates); grouping_id tags which candidate each
    # row belongs to. Checkpointed because six per-candidate argmax
    # consumers would otherwise each re-expand the scan subtree.
    sets = [[x, y] for x, y in _FD_CANDIDATES] + [[]]
    pairc = (
        orders.groupingSets(sets, *cols)
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.grouping_id().alias("gid"),
        )
        .localCheckpoint(eager=True)
    )

    def gid_of(keep: set[str]) -> int:
        g = 0
        for c in cols:
            g = (g << 1) | (0 if c in keep else 1)
        return g

    n = (
        pairc.filter(F.col("gid") == gid_of(set()))
        .select(F.col("c").alias("n"))
    )
    outs = []
    for x, y in _FD_CANDIDATES:
        kept = (
            pairc.filter(F.col("gid") == gid_of({x, y}))
            .groupBy(x)
            .agg(F.max("c").alias("mx"))
            .agg(F.sum("mx").alias("kept"))
        )
        outs.append(
            n.crossJoin(kept).select(
                F.lit(x).alias("lhs"),
                F.lit(y).alias("rhs"),
                (F.col("n") - F.col("kept")).alias("g3_error"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select(
        "lhs",
        "rhs",
        "g3_error",
        (F.col("g3_error") == 0).alias("holds"),
    )


# ---------------------------------------------------------------------------
# Inclusion-dependency discovery (the cross-table half of profiling,
# next to the FD operator): for candidate column pairs A.x ⊆ B.y,
# the exact number of DISTINCT values of A.x absent from B.y (0 =
# the IND holds — a foreign-key candidate). Each candidate is one
# distinct-project per side plus a left-anti join on the value — at
# scale the distinct sides are NDV-sized, and the anti join is the
# canonical "referential integrity scan" shape. Both verdicts are
# non-vacuous on this corpus: the FK directions hold, and
# orders.o_orderkey ⊆ lineitem.l_orderkey fails (orders with no
# lineitems exist at every SF).
# ---------------------------------------------------------------------------
_IND_CANDIDATES = [
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_custkey", "orders", "o_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def _ind_oracle() -> str:
    parts = []
    for ta, ca, tb, cb in _IND_CANDIDATES:
        parts.append(f"""
    SELECT '{ta}.{ca}' AS lhs, '{tb}.{cb}' AS rhs,
           CAST((SELECT COUNT(*) FROM
                  (SELECT DISTINCT {ca} AS v FROM {ta}
                   WHERE {ca} IS NOT NULL)
                 WHERE v NOT IN (SELECT {cb} FROM {tb}
                                 WHERE {cb} IS NOT NULL))
                AS BIGINT) AS n_unmatched""")
    return (
        "SELECT lhs, rhs, n_unmatched, (n_unmatched = 0) AS holds"
        " FROM (" + " UNION ALL ".join(parts) + ")"
    )


@query("ind_discovery_profile", oracle=_ind_oracle())
def ind_discovery_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One melted scan per table instead of one distinct-project + anti
    # join per candidate (the r7 plan audit counted 12 scans / 24
    # shuffles for the per-candidate shape): each table's candidate
    # columns stack into a ('table.col', v) frame in a single pass,
    # the union dedups once, and ALL six containment checks run as ONE
    # grouped anti join keyed on (candidate id, value). Scale shape:
    # the deduped frame is NDV-sized per column; the anti join
    # hash-partitions on (cid, v) so no candidate's values ever
    # colocate with another's.
    by_table: dict[str, list[str]] = {}
    for ta, ca, tb, cb in _IND_CANDIDATES:
        by_table.setdefault(ta, []).append(ca)
        by_table.setdefault(tb, []).append(cb)
    melted = []
    _INTEGRAL = {"tinyint", "smallint", "int", "bigint"}
    for t, tcols in sorted(by_table.items()):
        cs = sorted(set(tcols))
        tdf = load_table(spark, sf_dir, t)
        # BIGINT melt is only lossless for integral candidates; a
        # non-numeric column would cast to NULL, drop out of the
        # containment count, and silently report holds=true. Fail
        # LOUDLY at build time instead (a STRING melt would be
        # type-agnostic but measured ~2x slower on the 6M-value
        # frame — wider shuffle rows for zero benefit while every
        # candidate is a key column).
        types = dict(tdf.dtypes)
        bad = [c for c in cs if types.get(c) not in _INTEGRAL]
        if bad:
            raise TypeError(
                f"IND candidates on {t} must be integral for the "
                f"BIGINT melt; got {[(c, types.get(c)) for c in bad]}"
            )
        stack_args = ", ".join(
            f"'{t}.{c}', CAST({c} AS BIGINT)" for c in cs
        )
        melted.append(
            tdf.selectExpr(
                f"stack({len(cs)}, {stack_args}) AS (k, v)"
            )
        )
    vals = melted[0]
    for m in melted[1:]:
        vals = vals.unionByName(m)
    vals = (
        vals.filter(F.col("v").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)  # L and R below each reuse it
    )
    cands = spark.createDataFrame(
        [
            (i, f"{ta}.{ca}", f"{tb}.{cb}")
            for i, (ta, ca, tb, cb) in enumerate(_IND_CANDIDATES)
        ],
        "cid int, lhs string, rhs string",
    )
    lhs_vals = vals.join(
        F.broadcast(cands), vals["k"] == cands["lhs"]
    ).select("cid", "v")
    rhs_vals = vals.join(
        F.broadcast(cands), vals["k"] == cands["rhs"]
    ).select("cid", "v")
    unmatched = (
        lhs_vals.join(rhs_vals, ["cid", "v"], "left_anti")
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_unmatched"))
    )
    return (
        F.broadcast(cands)
        .join(unmatched, "cid", "left")
        .select(
            "lhs",
            "rhs",
            F.coalesce("n_unmatched", F.lit(0).cast("long")).alias(
                "n_unmatched"
            ),
            (F.coalesce("n_unmatched", F.lit(0)) == 0).alias("holds"),
        )
    )


# ---------------------------------------------------------------------------
# Recommender EVALUATION harness (the missing half of part_item_cf_topk):
# temporal holdout — train the item-item CF on orders BEFORE 1997,
# recommend top-5 neighbors per probe part, then score each
# recommendation against the HELD-OUT year: a hit is a recommended
# pair bought by the same CUSTOMER in 1997+ (user-basket validation
# — order-level co-occurrence is too sparse to be a signal). Exact integers
# end-to-end (hit_ppm by integer division); the oracle replays split,
# training arithmetic, ranking, and validation. The train/test join
# keys are the same co-order lanes as the CF itself — evaluation
# costs one extra distinct-pair semi join, probe-bounded output.
# ---------------------------------------------------------------------------
@query(
    "cf_holdout_hit_rate",
    oracle="""
    WITH lo AS (
      SELECT l.l_orderkey, l.l_partkey, o.o_orderdate, o.o_custkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    train AS (SELECT DISTINCT l_orderkey, l_partkey FROM lo
              WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
    test AS (SELECT DISTINCT o_custkey, l_partkey FROM lo
             WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'),
    deg AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n
            FROM train GROUP BY l_partkey),
    co AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             CAST(COUNT(*) AS BIGINT) AS co
      FROM train a JOIN train b
        ON a.l_orderkey = b.l_orderkey
       AND a.l_partkey <> b.l_partkey
      GROUP BY pa, pb
    ),
    recs AS (
      SELECT pa, pb FROM (
        SELECT co.pa, co.pb,
               ROW_NUMBER() OVER (PARTITION BY co.pa
                 ORDER BY (co.co * co.co * 1000000000000)
                          // (da.n * db.n) DESC, co.pb) AS rk
        FROM co
        JOIN deg da ON da.l_partkey = co.pa
        JOIN deg db ON db.l_partkey = co.pb
        WHERE co.pa % 199 = 0) t
      WHERE rk <= 5
    ),
    test_pairs AS (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM test a JOIN test b
        ON a.o_custkey = b.o_custkey
       AND a.l_partkey <> b.l_partkey
    ),
    hits AS (
      SELECT r.pa, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM recs r JOIN test_pairs t
        ON r.pa = t.pa AND r.pb = t.pb
      GROUP BY r.pa
    )
    SELECT r.pa AS part,
           CAST(COUNT(*) AS BIGINT) AS n_recs,
           CAST(COALESCE(MAX(h.n_hits), 0) AS BIGINT) AS n_hits,
           CAST((COALESCE(MAX(h.n_hits), 0) * 1000000) // COUNT(*)
                AS BIGINT) AS hit_ppm
    FROM recs r LEFT JOIN hits h ON h.pa = r.pa
    GROUP BY r.pa
    """,
)
def cf_holdout_hit_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    cut = "1997-01-01 00:00:00"
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_custkey"
    )
    lo = li.join(
        ords, li["l_orderkey"] == ords["o_orderkey"]
    ).select("l_orderkey", "l_partkey", "o_orderdate", "o_custkey")
    # train feeds the degree table AND both pair sides; test feeds
    # both validation-pair sides — materialize each once so the
    # lineitem⋈orders join runs once, not five times.
    train = (
        lo.filter(F.col("o_orderdate") < F.lit(cut).cast("timestamp"))
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=True)
    )
    test = (
        lo.filter(F.col("o_orderdate") >= F.lit(cut).cast("timestamp"))
        .select("o_custkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=True)
    )

    # The probe set is pa % 199 == 0 — pushing that predicate onto
    # the LEFT side of both pair joins prunes ~99.5% of pair rows
    # BEFORE the shuffle instead of after the co-occurrence agg
    # (identical result: pa is a join-side column, the filter
    # commutes with the join and the groupBy).
    probe = F.col("pa") % 199 == 0

    def pairs(it, key):
        a = it.select(
            F.col(key).alias("k"), F.col("l_partkey").alias("pa")
        ).filter(probe)
        b = it.select(
            F.col(key).alias("k"), F.col("l_partkey").alias("pb")
        )
        return a.join(b, "k").filter(F.col("pa") != F.col("pb"))

    deg = train.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    co = (
        pairs(train, "l_orderkey")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("co"))
    )
    scored = (
        co.join(
            deg.select(F.col("l_partkey").alias("pa"), F.col("n").alias("na")),
            "pa",
        )
        .join(
            deg.select(F.col("l_partkey").alias("pb"), F.col("n").alias("nb")),
            "pb",
        )
        .withColumn(
            "score_scaled",
            F.expr("(co * co * 1000000000000) div (na * nb)"),
        )
    )
    wr = Window.partitionBy("pa").orderBy(
        F.col("score_scaled").desc(), "pb"
    )
    recs = (
        scored.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 5)
        .select("pa", "pb")
        .localCheckpoint(eager=True)  # read by hits AND the report
    )
    # Validation pairs are only consumed by the semi join against
    # recs, whose pa is always a probe part — the same % 199 pushdown
    # applies to the held-out side.
    test_pairs = pairs(test, "o_custkey").select("pa", "pb").distinct()
    hits = (
        recs.join(test_pairs, ["pa", "pb"], "left_semi")
        .groupBy("pa")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        recs.groupBy("pa")
        .agg(F.count(F.lit(1)).alias("n_recs"))
        .join(hits, "pa", "left")
        .select(
            F.col("pa").alias("part"),
            "n_recs",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.expr(
                "(coalesce(n_hits, 0) * CAST(1000000 AS BIGINT))"
                " DIV n_recs"
            ).alias("hit_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Skew toolkit, driver-verified (operators/colocate.py): event_type is
# the corpus's pathological hot key (a handful of values over the
# whole fact table — the shape that makes one shuffle partition a
# straggler at 1000 executors). `salted_join` spreads each hot key
# over n_salt deterministic shards (xxhash64 of the row, never
# rand(): stage retries must re-produce the partitioning) while the
# small side replicates n_salt times; the salt column never escapes,
# so the ORACLE is the plain equi join — the green hash certifies the
# rewrite is semantics-preserving on real data, which is the whole
# point of a skew mitigation.
# ---------------------------------------------------------------------------
@query(
    "salted_join_hot_keys",
    oracle="""
    WITH dim AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS type_total
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(d.type_total) AS BIGINT) AS type_total,
           CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
             AS sum_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
)
def salted_join_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.colocate import salted_join

    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy(F.col("event_type").alias("et")).agg(
        F.count(F.lit(1)).alias("type_total")
    )
    joined = salted_join(
        ev,
        dim,
        skewed_key="event_type",
        other_key="et",
        n_salt=8,
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("type_total").alias("type_total"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Skew diagnostic (operators/colocate.py:key_skew_profile): per-key
# row counts and table share for the join-strategy decision
# (broadcast vs AQE vs salted_join). One map-side-combinable
# aggregation; share is a final-projection double over two exact
# integers. Registered so the diagnostic itself is driver-verified.
# ---------------------------------------------------------------------------
@query(
    "event_key_skew_profile",
    oracle="""
    SELECT event_type, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_rows AS DOUBLE) /
             (SELECT COUNT(*) FROM events) AS share
    FROM (SELECT event_type, COUNT(*) AS n_rows
          FROM events GROUP BY event_type)
    ORDER BY n_rows DESC, event_type LIMIT 10
    """,
)
def event_key_skew_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.colocate import (
        key_skew_profile,
    )

    ev = load_table(spark, sf_dir, "events")
    return key_skew_profile(ev, "event_type", top=10)


# ---------------------------------------------------------------------------
# Per-group distribution sketch (functions/sketches.py:
# sample_sketch_grouped): the bottom-k-by-hash sample built WITHIN
# each l_returnflag group by one WindowGroupLimit pass (rank <= k
# becomes a per-partition partial limit — no group ever materializes
# past k rows per partition), per-group quantile picks by exact
# integer rank, and the same 5% true-rank contract per (group,
# quantile). This is the one-pass profile-a-measure-by-tenant lane;
# the oracle replays sample, picks, and true ranks per group.
# ---------------------------------------------------------------------------
@query(
    "returnflag_sample_quantiles",
    oracle="""
    WITH base AS (
      SELECT l_returnflag AS flag, l_extendedprice AS v,
             ('0x' || substr(md5('qsg:' || CAST(l_orderkey AS VARCHAR)
               || '|' || CAST(l_linenumber AS VARCHAR) || '|'),
               1, 15))::BIGINT AS h
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ),
    smp AS (
      SELECT flag, v, h FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY flag
                                     ORDER BY h, v) AS rn
        FROM base) WHERE rn <= 2048
    ),
    m AS (SELECT flag, COUNT(*) AS m FROM smp GROUP BY flag),
    ranked AS (
      SELECT flag, v,
             ROW_NUMBER() OVER (PARTITION BY flag
                                ORDER BY v, h) AS rn
      FROM smp
    ),
    tq AS (SELECT * FROM (VALUES
             ('p50', 1, 2, 500000), ('p90', 9, 10, 900000))
           AS t(q, num, den, q_ppm)),
    pick AS (
      SELECT m.flag, tq.q, tq.q_ppm, r.v AS est_value,
             CAST((r.rn * 1000000) // m.m AS BIGINT) AS est_rank_ppm
      FROM m CROSS JOIN tq
      JOIN ranked r
        ON r.flag = m.flag
       AND r.rn = GREATEST(1, (tq.num * m.m + tq.den - 1) // tq.den)
    ),
    n AS (SELECT l_returnflag AS flag, COUNT(l_extendedprice) AS n
          FROM lineitem GROUP BY l_returnflag),
    tr AS (
      SELECT p.flag, p.q, p.q_ppm, p.est_value, p.est_rank_ppm,
             SUM(CASE WHEN l.l_extendedprice <= p.est_value
                      THEN 1 ELSE 0 END) AS trk
      FROM lineitem l JOIN pick p ON l.l_returnflag = p.flag
      GROUP BY p.flag, p.q, p.q_ppm, p.est_value, p.est_rank_ppm
    )
    SELECT tr.flag, tr.q,
           CAST(tr.est_value AS DOUBLE) AS est_value,
           tr.est_rank_ppm,
           CAST((tr.trk * 1000000) // n.n AS BIGINT) AS true_rank_ppm,
           (abs(CAST((tr.trk * 1000000) // n.n AS BIGINT) - tr.q_ppm)
              <= 50000) AS within_5pct
    FROM tr JOIN n ON n.flag = tr.flag
    """,
)
def returnflag_sample_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cdk_dynamodb_cdc_spark.functions.sketches import (
        sample_quantile_targets_grouped,
        sample_sketch_grouped,
    )

    li = load_table(spark, sf_dir, "lineitem")
    sk = sample_sketch_grouped(
        li.select(
            F.col("l_returnflag").alias("flag"),
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
        ),
        "l_extendedprice",
        ["l_orderkey", "l_linenumber"],
        ["flag"],
        salt="qsg",
    )
    est = sample_quantile_targets_grouped(
        sk, ["flag"], [("p50", 1, 2), ("p90", 9, 10)]
    )
    qdf = F.broadcast(
        spark.createDataFrame(
            [("p50", 500000), ("p90", 900000)], "q string, q_ppm long"
        )
    )
    n = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count("l_extendedprice").alias("n")
    )
    truth = (
        li.select("l_returnflag", "l_extendedprice")
        .join(
            F.broadcast(est),
            F.col("l_returnflag") == F.col("flag"),
        )
        .groupBy("flag", "q", "est_value", "est_rank_ppm")
        .agg(
            F.sum(
                F.when(
                    F.col("l_extendedprice") <= F.col("est_value"), 1
                ).otherwise(0)
            ).alias("trk")
        )
    )
    return (
        truth.join(F.broadcast(n), "flag")
        .join(qdf, "q")
        .select(
            "flag",
            "q",
            F.col("est_value").cast("double").alias("est_value"),
            "est_rank_ppm",
            F.expr("(trk * CAST(1000000 AS BIGINT)) DIV n")
            .cast("long")
            .alias("true_rank_ppm"),
            (
                F.abs(
                    F.expr("(trk * CAST(1000000 AS BIGINT)) DIV n")
                    - F.col("q_ppm")
                )
                <= F.lit(50000)
            ).alias("within_5pct"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted shortest paths (operators/graph.py:sssp_bounded): the
# weighted companion of the BFS operator — min-plus Bellman–Ford
# bounded to 4 relaxation rounds over the co-order 10-NN graph (each
# node keeps its 10 cheapest out-edges, weight 1000000 DIV co-order
# count, so strong ties = short edges; kNN neighborhoods are
# asymmetric, hence the directed lane) from part 1. The kNN prune
# bounds every relaxation round to 10x the frontier — the raw
# co-order graph relaxes millions of offers per round, the kNN graph
# thousands; the WindowGroupLimit rank filter is the only extra pass.
# The Spark side runs the DELTA frontier (each round relaxes only
# nodes whose distance improved); the oracle unrolls FULL Bellman–
# Ford rounds — the green hash is the proof the delta optimization is
# result-invariant. Exact integer path weights; output is the top-15
# nearest parts plus the reached count.
# ---------------------------------------------------------------------------
@query(
    "part_coorder_sssp",
    oracle="""
    -- MATERIALIZED throughout: every round CTE is referenced twice by
    -- the next one, so inlining re-evaluates the co-order join 2^rounds
    -- times (the 68 GB sf1 spill in round 10); one evaluation per
    -- round is the same recipe as curate_corpus_dispositions.
    WITH it AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    co AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM it a JOIN it b
        ON a.l_orderkey = b.l_orderkey
       AND a.l_partkey < b.l_partkey
      GROUP BY u, v
    ),
    dadj AS (
      SELECT u AS src, v AS dst, 1000000 // c AS w FROM co
      UNION ALL
      SELECT v AS src, u AS dst, 1000000 // c AS w FROM co
    ),
    adj AS MATERIALIZED (
      SELECT src, dst, w FROM (
        SELECT src, dst, w,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY w, dst) AS rk
        FROM dadj) WHERE rk <= 10
    ),
    d0 AS MATERIALIZED (
           SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
           FROM adj WHERE src = 1),
    d1 AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
             SELECT node, dist FROM d0
             UNION ALL
             SELECT e.dst AS node, d.dist + e.w AS dist
             FROM d0 d JOIN adj e ON e.src = d.node) GROUP BY node),
    d2 AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
             SELECT node, dist FROM d1
             UNION ALL
             SELECT e.dst AS node, d.dist + e.w AS dist
             FROM d1 d JOIN adj e ON e.src = d.node) GROUP BY node),
    d3 AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
             SELECT node, dist FROM d2
             UNION ALL
             SELECT e.dst AS node, d.dist + e.w AS dist
             FROM d2 d JOIN adj e ON e.src = d.node) GROUP BY node),
    d4 AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
             SELECT node, dist FROM d3
             UNION ALL
             SELECT e.dst AS node, d.dist + e.w AS dist
             FROM d3 d JOIN adj e ON e.src = d.node) GROUP BY node),
    nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_reached FROM d4)
    SELECT node, dist, nr.n_reached
    FROM (SELECT node, dist,
                 ROW_NUMBER() OVER (ORDER BY dist, node) AS rk
          FROM d4) t, nr
    WHERE rk <= 15
    """,
)
def part_coorder_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.operators.graph import sssp_bounded

    grouped = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .filter(F.size("ps") >= 2)
    )
    pairs = F.expr(
        "flatten(transform(ps, (x, i) -> "
        "transform(slice(ps, i + 2, size(ps)), y -> "
        "struct(x AS u, y AS v))))"
    )
    edges = (
        grouped.select(F.explode(pairs).alias("e"))
        .groupBy(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select("u", "v", F.expr("1000000 DIV c").alias("w"))
    )
    dadj = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("u").alias("src"),
                    F.col("v").alias("dst"),
                    F.col("w"),
                ),
                F.struct(
                    F.col("v").alias("src"),
                    F.col("u").alias("dst"),
                    F.col("w"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.w")
    wk = Window.partitionBy("src").orderBy("w", "dst")
    knn = (
        dadj.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= 10)
        .select("src", "dst", "w")
    )
    dist = sssp_bounded(
        knn,
        source=1,
        rounds=4,
        u_col="src",
        v_col="dst",
        directed=True,
    )
    nr = dist.agg(F.count(F.lit(1)).alias("n_reached"))
    return (
        dist.orderBy("dist", "node")
        .limit(15)
        .crossJoin(F.broadcast(nr))
        .select("node", "dist", "n_reached")
    )


# ---------------------------------------------------------------------------
# Exact ROC-AUC (llm/evaluate.py:auc_exact): how well the integer
# quality composite (n_stop*100 + capped token count — the
# budget_select score) discriminates labeled-English documents,
# computed by the tie-corrected Mann-Whitney rank-sum identity. The
# corpus collapses to one row per distinct score in a single
# map-side-combinable agg; the ordering window runs over that
# values-sized frame, never over documents. Output is the exact
# rational (auc_num/auc_den) plus truncated ppm, so the driver's hash
# verifies every tie group's mid-rank.
# ---------------------------------------------------------------------------
@query(
    "quality_score_auc",
    oracle=f"""
    WITH t AS (
      SELECT CAST(len(list_filter(string_split(text, ' '),
                                  w -> w IN ({_STOP_LIST_SQL}))) * 100
                  + least(len(string_split(text, ' ')), 80)
                  AS BIGINT) AS s,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents
    ),
    byv AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(pos) AS BIGINT) AS pos_cnt
      FROM t GROUP BY s
    ),
    cum AS (
      SELECT s, cnt, pos_cnt,
             COALESCE(SUM(cnt) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS before
      FROM byv
    ),
    a AS (
      SELECT CAST(SUM(pos_cnt) AS BIGINT) AS n_pos,
             CAST(SUM(cnt - pos_cnt) AS BIGINT) AS n_neg,
             CAST(SUM(pos_cnt * (2 * before + cnt + 1)) AS BIGINT) AS r2
      FROM cum
    )
    SELECT n_pos, n_neg,
           CAST(r2 - n_pos * (n_pos + 1) AS BIGINT) AS auc_num,
           CAST(2 * n_pos * n_neg AS BIGINT) AS auc_den,
           CASE WHEN n_pos * n_neg = 0 THEN NULL
                ELSE CAST((1000000 * (r2 - n_pos * (n_pos + 1)))
                          // (2 * n_pos * n_neg) AS BIGINT)
           END AS auc_ppm
    FROM a
    """,
)
def quality_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm.evaluate import auc_exact

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    n_stop = llm_text._hits(toks, llm_text.EN_STOPWORDS)
    scored = docs.select(
        (n_stop * 100 + F.least(n_tokens, F.lit(80)))
        .cast("long")
        .alias("score"),
        (F.col("lang") == "en").cast("int").alias("pos"),
    )
    return auc_exact(scored)


# ---------------------------------------------------------------------------
# Classifier evaluation (llm/evaluate.py:confusion_metrics): per-class
# precision/recall/F1 plus overall accuracy and Cohen's kappa for the
# heuristic language labeler against the corpus labels, every metric
# an exact integer rational in truncated ppm (kappa, which can be
# negative, ships as its exact num/den pair). One corpus scan builds
# the k x k confusion matrix; every join after that is over the class
# set, and the overall row is broadcast onto the per-class rows.
# ---------------------------------------------------------------------------
@query(
    "lang_id_eval_metrics",
    oracle=f"""
    WITH conf AS (
      SELECT lang AS actual, {llm_text.duck_lang_id('text')} AS predicted,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY actual, predicted
    ),
    rows_ AS (SELECT actual AS cls, SUM(n) AS row_n FROM conf GROUP BY cls),
    cols_ AS (SELECT predicted AS cls, SUM(n) AS col_n FROM conf GROUP BY cls),
    tps AS (SELECT actual AS cls, SUM(n) AS tp FROM conf
            WHERE actual = predicted GROUP BY cls),
    pc AS (
      SELECT COALESCE(r.cls, c.cls) AS cls,
             COALESCE(r.row_n, 0) AS row_n,
             COALESCE(c.col_n, 0) AS col_n,
             COALESCE(t.tp, 0) AS tp
      FROM rows_ r
      FULL OUTER JOIN cols_ c ON r.cls = c.cls
      LEFT JOIN tps t ON COALESCE(r.cls, c.cls) = t.cls
    ),
    tot AS (
      SELECT SUM(row_n) AS n_total, SUM(tp) AS trace,
             SUM(row_n * col_n) AS pe
      FROM pc
    )
    SELECT pc.cls,
           CAST(pc.tp AS BIGINT) AS tp,
           CAST(col_n - tp AS BIGINT) AS fp,
           CAST(row_n - tp AS BIGINT) AS fn,
           CASE WHEN col_n = 0 THEN NULL
                ELSE CAST((1000000 * tp) // col_n AS BIGINT)
           END AS precision_ppm,
           CASE WHEN row_n = 0 THEN NULL
                ELSE CAST((1000000 * tp) // row_n AS BIGINT)
           END AS recall_ppm,
           CASE WHEN col_n + row_n = 0 THEN NULL
                ELSE CAST((2000000 * tp) // (col_n + row_n) AS BIGINT)
           END AS f1_ppm,
           CAST(tot.n_total AS BIGINT) AS n_total,
           CAST(tot.trace AS BIGINT) AS trace,
           CAST(tot.n_total * tot.trace - tot.pe AS BIGINT) AS kappa_num,
           CAST(tot.n_total * tot.n_total - tot.pe AS BIGINT) AS kappa_den,
           CASE WHEN tot.n_total = 0 THEN NULL
                ELSE CAST((1000000 * tot.trace) // tot.n_total AS BIGINT)
           END AS accuracy_ppm
    FROM pc, tot
    """,
)
def lang_id_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm.evaluate import confusion_metrics

    docs = load_table(spark, sf_dir, "documents")
    conf = (
        docs.select(
            F.col("lang").alias("actual"),
            llm_text.lang_id(F.col("text")).alias("predicted"),
        )
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return confusion_metrics(conf)


# ---------------------------------------------------------------------------
# Association rules over the brand baskets: every directed rule
# A -> B with its support, confidence = n_ab/n_a and lift =
# N*n_ab/(n_a*n_b), both as exact truncated-ppm integers (64-bit DIV;
# 1e6*N*n_ab fits long through sf1000). The (order, brand) projection
# bounds fan-out exactly like basket_brand_pairs; the per-brand counts
# and the basket total are brand-cardinality-sized broadcasts onto the
# pair counts, so the only corpus-sized shuffles are the two
# distinct/count aggregations. Top 20 by lift with full tiebreak.
# ---------------------------------------------------------------------------
@query(
    "brand_rule_lift",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l_orderkey, p_brand AS brand
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    tot AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM ob),
    bc AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_b FROM ob GROUP BY brand),
    pr AS (
      SELECT a.brand AS x, b.brand AS y, CAST(COUNT(*) AS BIGINT) AS n_xy
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.brand < b.brand
      GROUP BY x, y
    ),
    dir_ AS (
      SELECT x AS antecedent, y AS consequent, n_xy FROM pr
      UNION ALL
      SELECT y AS antecedent, x AS consequent, n_xy FROM pr
    ),
    r AS (
      SELECT d.antecedent, d.consequent, d.n_xy AS n_both,
             ba.n_b AS n_ante, bb.n_b AS n_cons,
             CAST((1000000 * d.n_xy) // ba.n_b AS BIGINT) AS conf_ppm,
             CAST((1000000 * tot.n * d.n_xy) // (ba.n_b * bb.n_b)
                  AS BIGINT) AS lift_ppm
      FROM dir_ d
      JOIN bc ba ON ba.brand = d.antecedent
      JOIN bc bb ON bb.brand = d.consequent
      CROSS JOIN tot
      WHERE d.n_xy >= 2
    )
    SELECT * FROM r
    ORDER BY lift_ppm DESC, antecedent, consequent
    LIMIT 20
    """,
)
def brand_rule_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # ob feeds the basket total, the per-brand counts, AND both sides
    # of the pair self-join — one eager checkpoint instead of five
    # scan+join recomputations (plan-audit finding)
    ob = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select("l_orderkey", F.col("p_brand").alias("brand"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    tot = ob.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n")
    )
    bc = ob.groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_b")
    )
    a, b = ob.alias("a"), ob.alias("b")
    pr = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("x"), F.col("b.brand").alias("y")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_xy"))
        .localCheckpoint(eager=True)  # read twice by the two rule directions
    )
    directed = pr.select(
        F.col("x").alias("antecedent"),
        F.col("y").alias("consequent"),
        "n_xy",
    ).unionByName(
        pr.select(
            F.col("y").alias("antecedent"),
            F.col("x").alias("consequent"),
            "n_xy",
        )
    )
    rules = (
        directed.filter(F.col("n_xy") >= 2)
        .join(
            F.broadcast(
                bc.select(
                    F.col("brand").alias("antecedent"),
                    F.col("n_b").alias("n_ante"),
                )
            ),
            "antecedent",
        )
        .join(
            F.broadcast(
                bc.select(
                    F.col("brand").alias("consequent"),
                    F.col("n_b").alias("n_cons"),
                )
            ),
            "consequent",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "antecedent",
            "consequent",
            F.col("n_xy").alias("n_both"),
            "n_ante",
            "n_cons",
            F.expr("(1000000 * n_xy) DIV n_ante").alias("conf_ppm"),
            F.expr(
                "(1000000 * n * n_xy) DIV (n_ante * n_cons)"
            ).alias("lift_ppm"),
        )
    )
    return rules.orderBy(
        F.col("lift_ppm").desc(), "antecedent", "consequent"
    ).limit(20)


# ---------------------------------------------------------------------------
# Exact DBSCAN (llm/vectors.py:dbscan_2d) on the integer-quantized 2-d
# embedding projection (floor(dim*1000) — float->double cast then
# exact IEEE scale, so both engines derive identical integer coords).
# The engine runs grid-blocked candidate generation + star-CC cluster
# labeling + the deterministic min-cluster border rule; the oracle is
# the all-pairs eps-join (still brute force) plus min-label rounds
# with pointer jumping over core-core edges (replacing the r10
# transitive-closure recursion, which enumerates Theta(component^2)
# reach pairs and is intractable on sf1's single ~20k-node dense
# component) — so the green hash proves the 3x3 cell block finds
# every eps-pair and the O(log n) CC equals the label-propagation
# fixpoint. eps=30 milliunits, minPts=5 (core = 4 other points in
# the closed ball): at sf0.01 that yields a core/border/noise mix,
# not one blob.
# ---------------------------------------------------------------------------
_DBSCAN_LP_ROUNDS = 16


def _dbscan_lp_rounds_sql() -> str:
    """Min-label pointer-jumping rounds over the core-core edge table
    ``ce`` seeded from ``l0``. Each round keeps per node the MIN of
    its own label, its neighbors' labels, and the label OF its label
    (the jump — labels are core node ids, so they are always keys of
    the same round table); covered distance roughly doubles per
    round. All MATERIALIZED: each round is referenced three times by
    the next, and inlining would re-evaluate the chain 3^rounds
    times (the r10 spill class)."""
    rounds = []
    for i in range(1, _DBSCAN_LP_ROUNDS + 1):
        p = i - 1
        rounds.append(f"""
    l{i} AS MATERIALIZED (
      SELECT node, MIN(lbl) AS lbl FROM (
        SELECT node, lbl FROM l{p}
        UNION ALL
        SELECT e.a AS node, l.lbl FROM ce e JOIN l{p} l ON l.node = e.b
        UNION ALL
        SELECT x.node, y.lbl FROM l{p} x JOIN l{p} y ON y.node = x.lbl
      ) GROUP BY node)""")
    return ",".join(rounds)


@query(
    "embedding_dbscan_2d",
    oracle=f"""
    WITH c AS MATERIALIZED (
      SELECT vec_id,
             CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT) AS x,
             CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT) AS y
      FROM embeddings
    ),
    -- MATERIALIZED: nb feeds cnt, ce, AND border, and ce feeds every
    -- iteration of the recursive closure — without it DuckDB inlines
    -- the quadratic neighbor join into each reference (the sf1
    -- capacity blow-up class from round 10); one evaluation apiece.
    nb AS MATERIALIZED (
      SELECT a.vec_id AS a, b.vec_id AS b
      FROM c a JOIN c b
        ON a.vec_id != b.vec_id
       AND (a.x - b.x) * (a.x - b.x)
           + (a.y - b.y) * (a.y - b.y) <= 900
    ),
    cnt AS MATERIALIZED (
      SELECT c.vec_id,
             COALESCE(t.n, 0) AS n_nbrs
      FROM c LEFT JOIN (
        SELECT a, CAST(COUNT(*) AS BIGINT) AS n FROM nb GROUP BY a
      ) t ON t.a = c.vec_id
    ),
    core AS MATERIALIZED (SELECT vec_id FROM cnt WHERE n_nbrs >= 4),
    ce AS MATERIALIZED (
      SELECT nb.a, nb.b FROM nb
      JOIN core ca ON ca.vec_id = nb.a
      JOIN core cb ON cb.vec_id = nb.b
    ),
    -- Min-label rounds with POINTER JUMPING instead of the r10
    -- transitive-closure recursion: at sf1's 10x point density the
    -- neighbor graph is one ~20k-node component (measured avg degree
    -- 282), so enumerating reach pairs is Th(component^2) ~ 4e8 rows
    -- x ~34 closure rounds — structurally intractable in any engine.
    -- Each round below takes min(self, neighbors' labels, label of
    -- own label); the jump term doubles covered distance per round,
    -- so {_DBSCAN_LP_ROUNDS} rounds cover ~2^{_DBSCAN_LP_ROUNDS}
    -- hops >> any component diameter in the unit box at eps=30.
    -- Non-convergence cannot pass silently: an unconverged label
    -- differs from the engine's fixpoint and fails the value hash.
    l0 AS MATERIALIZED (SELECT vec_id AS node, vec_id AS lbl FROM core),
    {_dbscan_lp_rounds_sql()},
    cl AS MATERIALIZED (
      SELECT node AS vec_id, lbl AS cluster
      FROM l{_DBSCAN_LP_ROUNDS}
    ),
    border AS (
      SELECT nb.a AS vec_id, MIN(cl.cluster) AS cluster
      FROM nb
      JOIN cl ON cl.vec_id = nb.b
      WHERE nb.a NOT IN (SELECT vec_id FROM core)
      GROUP BY nb.a
    )
    SELECT cnt.vec_id, cnt.n_nbrs,
           CASE WHEN cl.vec_id IS NOT NULL THEN 'core'
                WHEN border.vec_id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           CAST(COALESCE(cl.cluster, border.cluster) AS BIGINT) AS cluster
    FROM cnt
    LEFT JOIN cl ON cl.vec_id = cnt.vec_id
    LEFT JOIN border ON border.vec_id = cnt.vec_id
    """,
)
def embedding_dbscan_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm.vectors import dbscan_2d

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("vec_id"),
        F.floor(
            F.element_at("embedding", 1).cast("double") * 1000
        ).alias("x"),
        F.floor(
            F.element_at("embedding", 2).cast("double") * 1000
        ).alias("y"),
    )
    return dbscan_2d(pts, id_col="vec_id", eps=30, min_pts=5)


# ---------------------------------------------------------------------------
# Join-size estimation (functions/sketches.py:cms_join_size): predict
# the l_partkey SELF-join size (= Σ_key cnt², the F2 skew diagnostic
# you want BEFORE submitting a quadratic-per-key join) from a 4x256
# CMS, next to the exact answer and the deterministic no-underestimate
# contract. The sketch build is the corpus's only full pass (map-side
# combinable); the estimate itself is a 1024-cell inner product. The
# oracle rebuilds the identical md5 cells, so the estimate matches
# bit-exactly, and overest_ppm pins how loose the bound actually is.
# ---------------------------------------------------------------------------
@query(
    "cms_selfjoin_size",
    oracle="""
    WITH keys AS (SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem),
    seeds AS (SELECT unnest(range(4)) AS seed),
    cells AS (
      SELECT seed,
             ('0x' || substr(md5('cms-' || CAST(seed AS VARCHAR)
                                 || ':' || k), 1, 15))::BIGINT % 256
               AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM keys, seeds GROUP BY seed, bucket
    ),
    ip AS (SELECT seed, SUM(c * c) AS ip FROM cells GROUP BY seed),
    est AS (SELECT CAST(MIN(ip) AS BIGINT) AS est_join_size FROM ip),
    tru AS (
      SELECT CAST(SUM(n * n) AS BIGINT) AS true_join_size
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM keys GROUP BY k)
    )
    SELECT tru.true_join_size, est.est_join_size,
           est.est_join_size >= tru.true_join_size AS no_underestimate,
           CAST((1000000 * (est.est_join_size - tru.true_join_size))
                // tru.true_join_size AS BIGINT) AS overest_ppm
    FROM tru, est
    """,
)
def cms_selfjoin_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.functions.sketches import (
        cms_cells,
        cms_join_size,
    )

    keys = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("string").alias("k")
    )
    cells = cms_cells(keys, "k").localCheckpoint(eager=True)
    est = cms_join_size(cells, cells)
    true = keys.groupBy("k").agg(F.count(F.lit(1)).alias("n")).agg(
        F.sum(F.col("n") * F.col("n")).cast("long").alias("true_join_size")
    )
    return (
        true.crossJoin(F.broadcast(est))
        .withColumn(
            "no_underestimate",
            F.col("est_join_size") >= F.col("true_join_size"),
        )
        .withColumn(
            "overest_ppm",
            F.expr(
                "(1000000 * (est_join_size - true_join_size))"
                " DIV true_join_size"
            ),
        )
    )


# ---------------------------------------------------------------------------
# SQL surface: RECURSIVE CTE (Spark 4's WITH RECURSIVE) — the SAME
# text runs verbatim on spark.sql and DuckDB. Bounded path counting
# from 'signup' over the session transition graph (edges = adjacent
# event pairs per user with support >= 25, fully tiebroken LEAD):
# UNION ALL recursion with an explicit depth guard, the terminating
# form that's safe on a cyclic graph. The recursion runs over the
# EDGE LIST (event-type-cardinality-sized, broadcastable), never the
# corpus — events are touched exactly once to build the edges.
# ---------------------------------------------------------------------------
_RECURSIVE_CTE_TEXT = """
    WITH RECURSIVE nxt AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ),
    edges AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
      FROM nxt
      WHERE dst IS NOT NULL AND src <> dst
      GROUP BY src, dst
      HAVING COUNT(*) >= 25
    ),
    paths(node, depth) AS (
      SELECT 'signup', 0
      UNION ALL
      SELECT e.dst, p.depth + 1
      FROM paths p JOIN edges e ON e.src = p.node
      WHERE p.depth < 3
    )
    SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_paths,
           CAST(COUNT(DISTINCT node) AS BIGINT) AS n_nodes
    FROM paths GROUP BY depth
"""


@query("sql_surface_recursive_cte", oracle=_RECURSIVE_CTE_TEXT)
def sql_surface_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.sources.tables import register_tables

    register_tables(spark, sf_dir, ["events"])
    return spark.sql(_RECURSIVE_CTE_TEXT)


# ---------------------------------------------------------------------------
# Difference-in-differences: the classic 2x2 causal contrast (hashed
# treatment arm x before/after the Jan-16 cutoff) on event value, all
# in exact integer cents — cell means are truncated micro-cent
# integers ((1e6*sum_cents) DIV n), and the DiD estimate composes the
# four truncated means identically in both engines. One scan, one
# 4-cell aggregate, the contrast broadcast back onto the cells.
# ---------------------------------------------------------------------------
@query(
    "did_value_contrast",
    oracle="""
    WITH cells AS (
      SELECT CASE WHEN user_id % 2 = 1 THEN 'treat' ELSE 'control' END AS grp,
             CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN 'pre' ELSE 'post' END AS period,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS sum_cents
      FROM events GROUP BY grp, period
    ),
    m AS (
      SELECT grp, period, n, sum_cents,
             (1000000 * sum_cents) // n AS mean_microcents
      FROM cells
    ),
    d AS (
      SELECT CAST(
               SUM(CASE WHEN grp = 'treat' AND period = 'post'
                        THEN mean_microcents ELSE 0 END)
             - SUM(CASE WHEN grp = 'treat' AND period = 'pre'
                        THEN mean_microcents ELSE 0 END)
             - SUM(CASE WHEN grp = 'control' AND period = 'post'
                        THEN mean_microcents ELSE 0 END)
             + SUM(CASE WHEN grp = 'control' AND period = 'pre'
                        THEN mean_microcents ELSE 0 END)
             AS BIGINT) AS did_microcents
      FROM m
    )
    SELECT m.grp, m.period, m.n, m.sum_cents,
           CAST(m.mean_microcents AS BIGINT) AS mean_microcents,
           d.did_microcents
    FROM m, d
    """,
)
def did_value_contrast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            F.when(F.col("user_id") % 2 == 1, "treat")
            .otherwise("control")
            .alias("grp"),
            F.when(
                F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp_ntz"),
                "pre",
            )
            .otherwise("post")
            .alias("period"),
            (F.col("value").cast("decimal(18,2)") * 100).alias("cents"),
        )
        .groupBy("grp", "period")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .withColumn(
            "mean_microcents",
            F.expr("(1000000 * sum_cents) DIV n"),
        )
        .localCheckpoint(eager=True)  # 4 rows; feeds the contrast AND output
    )
    sign = F.when(
        (F.col("grp") == "treat") & (F.col("period") == "post"), 1
    ).when(
        (F.col("grp") == "treat") & (F.col("period") == "pre"), -1
    ).when(
        (F.col("grp") == "control") & (F.col("period") == "post"), -1
    ).otherwise(1)
    did = cells.agg(
        F.sum(sign * F.col("mean_microcents"))
        .cast("long")
        .alias("did_microcents")
    )
    return cells.crossJoin(F.broadcast(did))


# ---------------------------------------------------------------------------
# Forecast backtesting: seasonal-naive (same weekday last week)
# day-ahead revenue forecasts over the held-out back half of the
# window, scored by per-day absolute-percentage error and the overall
# MAPE — every number an exact integer (cents, truncated ppm), so the
# whole backtest harness is hash-verified. The corpus collapses to
# the days-sized series in one aggregation; the lag-7 join and the
# MAPE fold run on days.
# ---------------------------------------------------------------------------
@query(
    "forecast_backtest_mape",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS rev_cents
      FROM events GROUP BY day
    ),
    j AS (
      SELECT a.day, a.rev_cents, f.rev_cents AS forecast_cents
      FROM daily a JOIN daily f ON f.day = a.day - 7
      WHERE a.day >= DATE '2024-01-16'
    ),
    e AS (
      SELECT day, rev_cents, forecast_cents,
             (1000000 * abs(rev_cents - forecast_cents)) // rev_cents
               AS ape_ppm
      FROM j
    ),
    o AS (
      SELECT CAST(SUM(ape_ppm) // COUNT(*) AS BIGINT) AS mape_ppm FROM e
    )
    SELECT e.day, e.rev_cents, e.forecast_cents,
           CAST(e.ape_ppm AS BIGINT) AS ape_ppm, o.mape_ppm
    FROM e, o
    """,
)
def forecast_backtest_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("rev_cents")
    ).localCheckpoint(eager=True)  # days-sized; both join sides reuse it
    fc = daily.select(
        F.date_add(F.col("day"), 7).alias("day"),
        F.col("rev_cents").alias("forecast_cents"),
    )
    scored = (
        daily.join(fc, "day")
        .filter(F.col("day") >= F.lit("2024-01-16").cast("date"))
        .withColumn(
            "ape_ppm",
            F.expr(
                "(1000000 * abs(rev_cents - forecast_cents))"
                " DIV rev_cents"
            ),
        )
        .localCheckpoint(eager=True)  # test-days-sized; MAPE + output
    )
    mape = scored.agg(
        F.expr("sum(ape_ppm) DIV count(*)").cast("long").alias("mape_ppm")
    )
    return scored.crossJoin(F.broadcast(mape)).select(
        "day", "rev_cents", "forecast_cents", "ape_ppm", "mape_ppm"
    )


# ---------------------------------------------------------------------------
# Uncertainty at scale: the Poisson bootstrap (the one-pass bootstrap
# for massive data — each row contributes an independent Poisson(1)
# weight per replicate, so resampling never materializes a resample).
# 64 replicates of the mean order total, every weight derived from a
# 60-bit md5 of (replicate, orderkey) mapped through the Poisson(1)
# CDF quantized to 2^-20 (the integer thresholds below are the same
# literals in both engines — the randomness IS the hash, replayable
# anywhere). Replicate means are exact integer microcents; the 95%
# interval is the 2nd/63rd order statistic of the 64 replicate means.
# Shape: ONE corpus scan; the 64-way explode partial-aggregates
# map-side down to 64 rows before the only shuffle, the order
# statistics run over those 64 rows. At 100 TB this is exactly the
# production recipe for "mean with error bars" — no second pass, no
# resample materialization, no RNG state.
# ---------------------------------------------------------------------------
_BOOT_T = [385749, 771499, 964373, 1028665, 1044738, 1047952, 1048488]
_BOOT_B = 64


def _boot_w_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_BOOT_T)
    )
    return f"(CASE {cases} ELSE 7 END)"


@query(
    "poisson_bootstrap_ci",
    oracle=f"""
    WITH x AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    reps AS (
      SELECT b.b,
             CAST((1000000::HUGEINT * SUM(w.w * x.cents))
                  // NULLIF(SUM(w.w), 0) AS BIGINT) AS rep_x1e6
      FROM x
      CROSS JOIN (SELECT UNNEST(range({_BOOT_B})) AS b) b,
      LATERAL (SELECT {_boot_w_sql(
          "(('0x' || substr(md5('boot-' || CAST(b.b AS VARCHAR) || ':' "
          "|| CAST(x.o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 1048576)"
      )} AS w) w
      GROUP BY b.b
    ),
    ranked AS (
      SELECT rep_x1e6,
             ROW_NUMBER() OVER (ORDER BY rep_x1e6, b) AS rn
      FROM reps
    ),
    pt AS (
      SELECT CAST((1000000::HUGEINT * SUM(cents)) // COUNT(*) AS BIGINT)
               AS point_x1e6
      FROM x
    )
    SELECT CAST({_BOOT_B} AS BIGINT) AS n_boot,
           pt.point_x1e6,
           (SELECT rep_x1e6 FROM ranked WHERE rn = 2)  AS lo_x1e6,
           (SELECT rep_x1e6 FROM ranked WHERE rn = {_BOOT_B - 1})
             AS hi_x1e6
    FROM pt
    """,
)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdk_dynamodb_cdc_spark.llm.text import token_hash60

    x = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    u = token_hash60(
        F.concat(
            F.lit("boot-"),
            F.col("b").cast("string"),
            F.lit(":"),
            F.col("o_orderkey").cast("string"),
        )
    ) % 1048576
    w = F.when(u < _BOOT_T[0], 0)
    for k, t in enumerate(_BOOT_T[1:], start=1):
        w = w.when(u < t, k)
    w = w.otherwise(7)
    reps = (
        x.select(
            "o_orderkey",
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias(
                "b"
            ),
        )
        .select("b", (w.cast("long") * F.col("cents")).alias("wx"), w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum("wx").alias("sum_wx"),
            F.sum("w").alias("sum_w"),
        )
        .withColumn(
            "rep_x1e6",
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * sum_wx)"
                " DIV nullif(sum_w, 0) AS BIGINT)"
            ),
        )
    )
    # 64 rows — the unpartitioned window is replicate-sized, never
    # corpus-sized
    ranked = reps.withColumn(
        "rn", F.row_number().over(Window.orderBy("rep_x1e6", "b"))
    ).localCheckpoint(eager=True)
    lo = ranked.filter(F.col("rn") == 2).select(
        F.col("rep_x1e6").alias("lo_x1e6")
    )
    hi = ranked.filter(F.col("rn") == _BOOT_B - 1).select(
        F.col("rep_x1e6").alias("hi_x1e6")
    )
    pt = x.agg(
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * sum(cents))"
            " DIV count(*) AS BIGINT)"
        ).alias("point_x1e6")
    )
    return (
        pt.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            F.lit(_BOOT_B).cast("long").alias("n_boot"),
            "point_x1e6",
            "lo_x1e6",
            "hi_x1e6",
        )
    )


# ---------------------------------------------------------------------------
# Bag-of-words all-pairs cosine (llm/text.py:sparse_cosine_topk): the
# inverted-index twin of the embedding-cosine lane — postings for
# terms with df <= 50 self-join term-wise (pair work bounded by
# sum(df^2), never corpus^2), integer dot products and norms, score =
# floor(cos^2 x 10^12) in DECIMAL division. Top-20 pairs overall.
# ---------------------------------------------------------------------------
@query(
    "sparse_cosine_pairs",
    oracle="""
    WITH postings AS (
      SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
            FROM documents)
      GROUP BY term, doc_id
    ),
    kept AS (
      SELECT p.term, p.doc_id, p.tf
      FROM postings p
      JOIN (SELECT term FROM postings GROUP BY term
            HAVING COUNT(*) <= 50) d USING (term)
    ),
    norms AS (
      SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS norm2
      FROM kept GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
      FROM kept a JOIN kept b
        ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    )
    SELECT d.doc_a, d.doc_b, d.dot,
           CAST((d.dot::HUGEINT * d.dot * 1000000000000)
                // (na.norm2::HUGEINT * nb.norm2) AS BIGINT) AS cos2_ppt
    FROM dots d
    JOIN norms na ON na.doc_id = d.doc_a
    JOIN norms nb ON nb.doc_id = d.doc_b
    ORDER BY cos2_ppt DESC, d.doc_a, d.doc_b
    LIMIT 20
    """,
)
def sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return llm_text.sparse_cosine_topk(docs, max_df=50, top_k=20)


# ---------------------------------------------------------------------------
# Bloom file skipping on the transactional table
# (storage/txlog.py:scan_point): four arrival-ordered commits whose
# files each span the whole key space — range stats prune NOTHING on
# a point lookup there — then attach_blooms + a bloom-pruned IN scan.
# The oracle pins the row contract (pruning may only cut files, never
# rows — same contract as scan()); the files-read bound is pinned by
# tests/test_txlog.py::test_bloom_point_lookup_prunes_files.
# ---------------------------------------------------------------------------
@query(
    "txlog_bloom_lookup",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             AS cents
    FROM orders
    WHERE o_orderkey IN (1, 2, 3, 4, 5, 6, 7, 32, 999999999)
    ORDER BY o_orderkey
    """,
)
def txlog_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from cdk_dynamodb_cdc_spark.storage.txlog import (
        TxTable,
        attach_blooms,
        scan_point,
    )

    probes = [1, 2, 3, 4, 5, 6, 7, 32, 999999999]
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    t = TxTable(spark, tempfile.mkdtemp(prefix="txlog_bloom_"))
    for r in range(4):
        t.commit(
            orders.filter(F.col("o_orderkey") % 4 == r).coalesce(1)
        )
    attach_blooms(t, ["o_orderkey"])
    df, files_read, files_total = scan_point(
        t, "o_orderkey", probes
    )
    assert files_total == 4 and files_read <= files_total
    return df.select("o_orderkey", "cents").orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# Categorical association profiling: Cramér's V for every pair of
# lineitem's categorical columns, ALL from one grouping-sets scan
# (pair cells + single-column margins + the grand total in a single
# map-side-combined pass — the fd_discovery trick applied to
# chi-square). Empty cells contribute their expected mass (rt*ct/n),
# so the statistic is the full chi-square, not an observed-cells
# approximation. Integer contract: per-cell term =
# floor((o*n - rt*ct)^2 * 1e6 / (n*rt*ct)) summed in DECIMAL(38,0);
# V^2 in ppm = chi2_ppm div (min(k_a,k_b) - 1). Everything after the
# scan is category-cardinality-sized.
# ---------------------------------------------------------------------------
_CRAMER_COLS = ["l_linenumber", "l_linestatus", "l_returnflag"]
_CRAMER_PAIRS = [
    ("l_linenumber", "l_linestatus"),
    ("l_linenumber", "l_returnflag"),
    ("l_linestatus", "l_returnflag"),
]


def _cramer_oracle() -> str:
    ctes, selects = [], []
    for a, b in _CRAMER_PAIRS:
        s = f"{a[2:]}_{b[2:]}"
        ctes.append(f"""
    cells_{s} AS (SELECT {a} AS va, {b} AS vb,
                         CAST(COUNT(*) AS BIGINT) AS o
                  FROM lineitem GROUP BY va, vb),
    ma_{s} AS (SELECT {a} AS va, CAST(COUNT(*) AS BIGINT) AS rt
               FROM lineitem GROUP BY va),
    mb_{s} AS (SELECT {b} AS vb, CAST(COUNT(*) AS BIGINT) AS ct
               FROM lineitem GROUP BY vb),
    t_{s} AS (
      SELECT SUM(((COALESCE(c.o, 0)::HUGEINT * nn.n - m.rt::HUGEINT * x.ct)
                  * (COALESCE(c.o, 0)::HUGEINT * nn.n - m.rt::HUGEINT * x.ct)
                  * 1000000)
                 // (nn.n::HUGEINT * m.rt * x.ct)) AS chi2_ppm
      FROM ma_{s} m CROSS JOIN mb_{s} x CROSS JOIN nn
      LEFT JOIN cells_{s} c ON c.va = m.va AND c.vb = x.vb
    ),
    k_{s} AS (SELECT (SELECT COUNT(*) FROM ma_{s}) AS ka,
                     (SELECT COUNT(*) FROM mb_{s}) AS kb)""")
        selects.append(f"""
    SELECT '{a}' AS col_a, '{b}' AS col_b, nn.n,
           CAST(t.chi2_ppm AS BIGINT) AS chi2_ppm,
           CAST(t.chi2_ppm // (LEAST(k.ka, k.kb) - 1) AS BIGINT)
             AS v2_ppm
    FROM nn, t_{s} t, k_{s} k""")
    return (
        "WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem),"
        + ",".join(ctes)
        + " SELECT * FROM ("
        + " UNION ALL ".join(selects)
        + ") ORDER BY col_a, col_b"
    )


@query("cramers_v_matrix", oracle=_cramer_oracle())
def cramers_v_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cols = _CRAMER_COLS
    sets = (
        [[a, b] for a, b in _CRAMER_PAIRS]
        + [[c] for c in cols]
        + [[]]
    )
    g = (
        li.groupingSets(sets, *cols)
        .agg(F.count(F.lit(1)).alias("c"), F.grouping_id().alias("gid"))
        .localCheckpoint(eager=True)  # category-cardinality-sized
    )

    def gid_of(keep: set[str]) -> int:
        gg = 0
        for c in cols:
            gg = (gg << 1) | (0 if c in keep else 1)
        return gg

    n = g.filter(F.col("gid") == gid_of(set())).select(
        F.col("c").alias("n")
    )
    outs = []
    for a, b in _CRAMER_PAIRS:
        cells = g.filter(F.col("gid") == gid_of({a, b})).select(
            F.col(a).alias("va"), F.col(b).alias("vb"),
            F.col("c").alias("o"),
        )
        ma = g.filter(F.col("gid") == gid_of({a})).select(
            F.col(a).alias("va"), F.col("c").alias("rt")
        )
        mb = g.filter(F.col("gid") == gid_of({b})).select(
            F.col(b).alias("vb"), F.col("c").alias("ct")
        )
        full = (
            ma.crossJoin(mb)
            .join(cells, ["va", "vb"], "left")
            .withColumn("o", F.coalesce("o", F.lit(0)))
            .crossJoin(F.broadcast(n))
        )
        chi2 = full.agg(
            F.sum(
                F.expr(
                    "CAST(((CAST(o AS DECIMAL(38,0)) * n - CAST(rt AS"
                    " DECIMAL(38,0)) * ct) * (CAST(o AS DECIMAL(38,0))"
                    " * n - CAST(rt AS DECIMAL(38,0)) * ct) * 1000000)"
                    " DIV (CAST(n AS DECIMAL(38,0)) * rt * ct)"
                    " AS BIGINT)"
                )
            ).alias("chi2_ppm")
        )
        ka = ma.agg(F.count(F.lit(1)).alias("ka"))
        kb = mb.agg(F.count(F.lit(1)).alias("kb"))
        outs.append(
            n.crossJoin(F.broadcast(chi2))
            .crossJoin(F.broadcast(ka))
            .crossJoin(F.broadcast(kb))
            .select(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                "n",
                "chi2_ppm",
                F.expr(
                    "CAST(chi2_ppm DIV (least(ka, kb) - 1) AS BIGINT)"
                ).alias("v2_ppm"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("col_a", "col_b")


# ---------------------------------------------------------------------------
# Robust location estimation: exact 5%-trimmed mean of the order
# total, two-pass value-distribution discipline (the same shape as
# lineitem_price_quantiles_twopass): the corpus collapses to the
# distinct-value distribution in one map-side-combined aggregation;
# the cumulative window and the trim arithmetic run over VALUES, not
# rows. Boundary values are partially included with exact integer
# clamps, so the result is the true order-statistics trimmed mean —
# no interpolation, no float rank arithmetic.
# ---------------------------------------------------------------------------
@query(
    "trimmed_mean_order_total",
    oracle="""
    WITH v AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders GROUP BY cents
    ),
    c AS (
      SELECT cents, cnt,
             SUM(cnt) OVER (ORDER BY cents
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
      FROM v
    ),
    nn AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                  CAST(SUM(cnt) * 5 // 100 AS BIGINT) AS k
           FROM v),
    inc AS (
      SELECT c.cents,
             GREATEST(0::BIGINT,
                      LEAST(c.cum, nn.n - nn.k)
                      - GREATEST(c.cum - c.cnt, nn.k)) AS take
      FROM c, nn
    )
    SELECT nn.n, nn.k AS k_cut,
           CAST(nn.n - 2 * nn.k AS BIGINT) AS trimmed_n,
           CAST((1000000::HUGEINT * (SELECT SUM(take * cents) FROM inc))
                // (nn.n - 2 * nn.k) AS BIGINT) AS trimmed_x1e6,
           (SELECT CAST((1000000::HUGEINT * SUM(cnt * cents))
                        // SUM(cnt) AS BIGINT) FROM v) AS mean_x1e6
    FROM nn
    """,
)
def trimmed_mean_order_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)  # values-sized; 3 consumers
    )
    # two-level bucketed cumulative (see _bucketed_cumsum): distinct
    # order TOTALS approach order cardinality (unlike the cents price
    # domain MW/KS fold over), so a flat unpartitioned window here
    # would become a single-task straggler at 100x
    c = _bucketed_cumsum(
        v, value_col="cents", weight_col="cnt", out_col="cum",
        inclusive=True,
    ).withColumn("cum", F.col("cum").cast("long"))
    nn = v.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.expr("CAST(sum(cnt) * 5 DIV 100 AS BIGINT)").alias("k"),
    )
    inc = c.crossJoin(F.broadcast(nn)).select(
        "cents",
        F.expr(
            "GREATEST(CAST(0 AS BIGINT),"
            " LEAST(cum, n - k) - GREATEST(cum - cnt, k))"
        ).alias("take"),
    )
    tsum = inc.agg(
        F.sum(F.col("take") * F.col("cents")).alias("tsum")
    )
    msum = v.agg(
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * sum(cnt * cents))"
            " DIV sum(cnt) AS BIGINT)"
        ).alias("mean_x1e6")
    )
    return (
        nn.crossJoin(F.broadcast(tsum))
        .crossJoin(F.broadcast(msum))
        .select(
            "n",
            F.col("k").alias("k_cut"),
            F.expr("CAST(n - 2 * k AS BIGINT)").alias("trimmed_n"),
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * tsum)"
                " DIV (n - 2 * k) AS BIGINT)"
            ).alias("trimmed_x1e6"),
            "mean_x1e6",
        )
    )


# ---------------------------------------------------------------------------
# Merge-on-read DELETE (storage/txlog.py:delete_where): two appends,
# then two deletion-vector deletes — no data file is rewritten; the
# reader subtracts row positions via the parquet _metadata anti-join.
# Output: per-bucket surviving totals read through snapshot(), which
# the oracle reproduces with the equivalent plain-SQL predicate —
# pinning that the DV read path equals filter semantics exactly.
# tests/test_txlog.py::test_deletion_vectors_merge_on_read pins the
# storage contract (files untouched, consolidation, restore/optimize
# /vacuum interplay).
# ---------------------------------------------------------------------------
@query(
    "txlog_delete_vector_state",
    oracle="""
    SELECT o_orderkey % 8 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                AS BIGINT) AS cents
    FROM orders
    WHERE NOT (o_orderkey % 8 = 5)
      AND NOT (o_orderkey % 100 < 7 AND o_orderkey % 8 <> 5)
    GROUP BY bucket ORDER BY bucket
    """,
)
def txlog_delete_vector_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from cdk_dynamodb_cdc_spark.storage.txlog import (
        TxTable,
        delete_where,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 8).alias("bucket"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    t = TxTable(spark, tempfile.mkdtemp(prefix="txlog_dv_"))
    t.commit(orders.filter(F.col("o_orderkey") % 2 == 0).coalesce(2))
    t.commit(orders.filter(F.col("o_orderkey") % 2 == 1).coalesce(2))
    v1 = delete_where(t, "bucket = 5")
    v2 = delete_where(t, "o_orderkey % 100 < 7")
    assert v1 is not None and v2 is not None
    # merge-on-read: both deletes left the live set untouched
    m = t.manifest(t.latest_version())
    assert sorted(m["live"]) == sorted(t.manifest(1)["live"])
    return (
        t.snapshot()
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Binary-signature ANN (llm/vectors.py:sign_hamming_topk): 32-bit
# SimHash sign signatures + popcount(XOR) ranking — the cheapest
# member of the quantization family (SQ8 -> PQ -> sign bits). The
# oracle recomputes the signatures from the SAME hyperplane literals
# (repr round-trip, the near_dup_embedding_pairs discipline) and
# replays the ranking with bit_count(xor(...)), so bits, distances,
# and the (hamming, cand_id) tiebreak all pin bit-exactly. Scale
# shape: signatures are 8 bytes/vector (the 100-TB corpus compresses
# ~256x), probes broadcast, and scoring is one whole-stage-codegen
# XOR+POPCOUNT scan — no shuffle.
# ---------------------------------------------------------------------------
def _hamming_oracle(n_planes: int = 32, n_probes: int = 8,
                    k: int = 5) -> str:
    from cdk_dynamodb_cdc_spark.llm.vectors import _hyperplanes

    terms = []
    for p, plane in enumerate(_hyperplanes(64, n_planes)):
        lits = ", ".join(repr(float(x)) for x in plane)
        terms.append(
            f"(CASE WHEN list_sum(list_transform(range(1, "
            f"len(embedding) + 1),"
            f" i -> embedding[i]::DOUBLE * ([{lits}])[i])) >= 0"
            f" THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
        )
    sig = " + ".join(terms)
    return f"""
    WITH s AS (
      SELECT vec_id, {sig} AS sig FROM embeddings
    ), p AS (SELECT * FROM s WHERE vec_id < {n_probes})
    SELECT probe_id, cand_id, hamming, rk FROM (
      SELECT p.vec_id AS probe_id, s.vec_id AS cand_id,
             CAST(bit_count(xor(p.sig, s.sig)) AS INT) AS hamming,
             ROW_NUMBER() OVER (PARTITION BY p.vec_id
               ORDER BY bit_count(xor(p.sig, s.sig)), s.vec_id) AS rk
      FROM p JOIN s ON s.vec_id <> p.vec_id) t
    WHERE rk <= {k}
    """


@query("embedding_hamming_topk", oracle=_hamming_oracle())
def embedding_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return llm_vectors.sign_hamming_topk(
        emb, list(range(8)), dim=64, n_planes=32, k=5
    ).withColumn("hamming", F.col("hamming").cast("int"))


# ---------------------------------------------------------------------------
# Exact multiple linear regression (OLS, closed form): daily revenue
# (cents) on (day index, weekend flag) via the normal equations
# solved with Cramer's rule — ALL determinant arithmetic is exact
# integer (Spark DECIMAL(38,0) / DuckDB HUGEINT evaluating the SAME
# expression text), coefficients floored to ppm by the exactly-
# divisible identity, and R^2 composed from the exact integers by an
# identical IEEE double expression — so a 3-parameter regression
# hashes bit-identically with no iterative solver and no libm in the
# fitted path. Completes the trend family: Theil-Sen (robust slope),
# Holt/Holt-Winters (recursive smoothing), and now the textbook
# closed-form fit. Scale shape: ONE map-side-combinable daily
# aggregate, then a calendar-bounded window; the normal-equation
# solve is O(1) regardless of corpus size (this is why closed-form
# OLS on low-dim features is the 100-TB regression tool of choice —
# sums are the only thing that touches the data).
# ---------------------------------------------------------------------------
_OLS_DET_SQL = {
    "det": "(nn*(s11*s22 - s12*s12) - sx1*(sx1*s22 - s12*sx2)"
           " + sx2*(sx1*s12 - s11*sx2))",
    "det0": "(sy*(s11*s22 - s12*s12) - sx1*(s1y*s22 - s12*s2y)"
            " + sx2*(s1y*s12 - s11*s2y))",
    "det1": "(nn*(s1y*s22 - s12*s2y) - sy*(sx1*s22 - s12*sx2)"
            " + sx2*(sx1*s2y - s1y*sx2))",
    "det2": "(nn*(s11*s2y - s12*s1y) - sx1*(sx1*s2y - s1y*sx2)"
            " + sy*(sx1*s12 - s11*sx2))",
}


def _ols_oracle() -> str:
    d = _OLS_DET_SQL
    ppm = {
        c: f"(1000000 * {c} * sg)" for c in ("det0", "det1", "det2")
    }
    fdiv = {
        c: f"CAST(({n} - ((({n}) % den) + den) % den) // den AS BIGINT)"
        for c, n in ppm.items()
    }
    return f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
      FROM events GROUP BY day
    ), idx AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS HUGEINT) AS x1,
             CAST(CASE WHEN isodow(day) >= 6 THEN 1 ELSE 0 END
                  AS HUGEINT) AS x2,
             CAST(y AS HUGEINT) AS y
      FROM daily
    ), sums AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS nn,
             SUM(x1) AS sx1, SUM(x2) AS sx2,
             SUM(x1*x1) AS s11, SUM(x1*x2) AS s12, SUM(x2*x2) AS s22,
             SUM(y) AS sy, SUM(x1*y) AS s1y, SUM(x2*y) AS s2y,
             SUM(y*y) AS syy
      FROM idx
    ), dets AS (
      SELECT nn, sy, s1y, s2y, syy,
             {d['det']} AS det, {d['det0']} AS det0,
             {d['det1']} AS det1, {d['det2']} AS det2
      FROM sums
    ), nrm AS (
      SELECT *, CASE WHEN det < 0 THEN -1 ELSE 1 END AS sg,
             det * (CASE WHEN det < 0 THEN -1 ELSE 1 END) AS den
      FROM dets
    )
    SELECT CAST(nn AS INT) AS n_days,
           {fdiv['det0']} AS b0_ppm,
           {fdiv['det1']} AS b1_ppm,
           {fdiv['det2']} AS b2_ppm,
           -- VARCHAR-routed HUGEINT->DOUBLE (see _duck_dec_double):
           -- determinants and SSE cross 2^53 well inside the tested
           -- scale range
           1.0 - (CAST(CAST(syy*det - (det0*sy + det1*s1y + det2*s2y)
                            AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(det AS VARCHAR) AS DOUBLE))
                 * (CAST(nn AS DOUBLE)
                    / CAST(CAST(nn*syy - sy*sy AS VARCHAR)
                           AS DOUBLE)) AS r2
    FROM nrm
    """


@query("ols_daily_revenue", oracle=_ols_oracle())
def ols_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("y")
    )
    wd = Window.orderBy("day")  # calendar-bounded series
    d38 = "decimal(38,0)"
    idx = daily.select(
        F.row_number().over(wd).cast(d38).alias("x1"),
        F.when(F.weekday("day") >= 5, F.lit(1))
        .otherwise(F.lit(0))
        .cast(d38)
        .alias("x2"),
        F.col("y").cast(d38).alias("y"),
    )
    sums = idx.agg(
        F.count(F.lit(1)).cast(d38).alias("nn"),
        F.sum("x1").cast(d38).alias("sx1"),
        F.sum("x2").cast(d38).alias("sx2"),
        F.sum(F.col("x1") * F.col("x1")).cast(d38).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast(d38).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast(d38).alias("s22"),
        F.sum("y").cast(d38).alias("sy"),
        F.sum(F.col("x1") * F.col("y")).cast(d38).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast(d38).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).cast(d38).alias("syy"),
    )
    d = _OLS_DET_SQL
    dets = sums.select(
        "nn", "sy", "s1y", "s2y", "syy",
        *[F.expr(d[c]).alias(c) for c in ("det", "det0", "det1", "det2")],
    )
    nrm = dets.select(
        "*",
        F.when(F.col("det") < 0, F.lit(-1))
        .otherwise(F.lit(1))
        .cast(d38)
        .alias("sg"),
    ).withColumn("den", F.col("det") * F.col("sg"))

    def fdiv_ppm(c: str):
        n = f"(1000000 * {c} * sg)"
        # `div` truncates; the pmod subtraction makes the (positive-
        # denominator) numerator exactly divisible, so trunc == floor
        return F.expr(
            f"CAST(({n} - ((({n}) % den) + den) % den) div den"
            f" AS BIGINT)"
        )

    return nrm.select(
        F.col("nn").cast("int").alias("n_days"),
        fdiv_ppm("det0").alias("b0_ppm"),
        fdiv_ppm("det1").alias("b1_ppm"),
        fdiv_ppm("det2").alias("b2_ppm"),
        F.expr(
            "1.0 - (CAST(syy*det - (det0*sy + det1*s1y + det2*s2y)"
            " AS DOUBLE)"
            " / CAST(det AS DOUBLE))"
            " * (CAST(nn AS DOUBLE)"
            " / CAST(nn*syy - sy*sy AS DOUBLE))"
        ).alias("r2"),
    )


def _bucketed_cumsum(
    vals: DataFrame,
    *,
    value_col: str,
    weight_col: str,
    out_col: str,
    inclusive: bool,
    bucket_shift: int = 24,
) -> DataFrame:
    """Cumulative weight positions over a distinct-value frame WITHOUT
    an unpartitioned value-level window — the two-level discipline of
    operators/quantiles.py as a reusable composition.

    Level 1: a coarse order-preserving bucket (``value div 2^shift``)
    gets per-bucket weight totals, and ONE cumulative window runs over
    the bucket histogram (bucket count tracks the VALUE RANGE / 2^24,
    never the value cardinality — hundreds of rows where a flat window
    would see millions). Level 2: within-bucket cumulative windows are
    PARTITIONED BY bucket, so they parallelize across the cluster; the
    global position is bucket offset + within-bucket position. Values
    and results are bit-identical to the flat window (pure integer
    regrouping), which is what keeps the DuckDB oracles unchanged.
    """
    d38 = "decimal(38,0)"
    end = 0 if inclusive else -1
    bucketed = vals.withColumn(
        "__b", F.expr(f"{value_col} div {1 << bucket_shift}")
    )
    w_boff = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, -1
    )  # bucket-histogram-sized frame (range / 2^shift rows)
    boff = (
        bucketed.groupBy("__b")
        .agg(F.sum(weight_col).alias("__bc"))
        .withColumn(
            "__off",
            F.coalesce(
                F.sum("__bc").over(w_boff), F.lit(0).cast(d38)
            ),
        )
        .select("__b", "__off")
    )
    w_in = Window.partitionBy("__b").orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, end
    )
    return (
        bucketed.withColumn(
            "__p_in",
            F.coalesce(
                F.sum(weight_col).over(w_in), F.lit(0).cast(d38)
            ),
        )
        .join(F.broadcast(boff), "__b")
        .withColumn(
            out_col, (F.col("__off") + F.col("__p_in")).cast(d38)
        )
        .drop("__b", "__off", "__p_in")
    )


# ---------------------------------------------------------------------------
# Gini coefficient of per-customer order spend — the inequality /
# concentration statistic next to the spend-decile profile. Exact
# integer contract: G_ppm = floor(1e6 * (2*S1 - (n+1)*Sx) / (n*Sx))
# with S1 = sum(rank * spend) computed over DISTINCT SPEND VALUES
# (for a run of c equal values x starting after cumulative position
# P, sum(rank*x) = x*(c*P + c*(c+1)/2) — rank-sum is permutation-
# invariant within ties, so no row-level ordering is ever needed).
# Scale shape: one customer-keyed aggregate, then the cumulative
# positions run as the BUCKETED two-level discipline of
# operators/quantiles.py — unlike Mann-Whitney/KS (whose distinct
# frame is bounded by the cents PRICE DOMAIN), distinct per-customer
# spend SUMS approach customer cardinality, so a flat unpartitioned
# window would become a single-task straggler at 100×. Level 1: a
# coarse order-preserving bucket (x div 2^24, ~$170k stripes — bucket
# count tracks the spend RANGE, a few hundred at sf1, never customer
# count) gets per-bucket totals and a bucket-count-sized cumulative
# window; level 2: within-bucket cumulative windows PARTITIONED BY
# bucket run fully parallel, and P = bucket offset + within-bucket
# position. S1 reaches ~1e19 at sf1 so sums run in
# DECIMAL(38,0)/HUGEINT. The DuckDB oracle keeps the flat window —
# single-node, same numbers by construction.
# ---------------------------------------------------------------------------
@query(
    "customer_spend_gini",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100
                  AS BIGINT) AS x
      FROM orders GROUP BY o_custkey
    ), vals AS (
      SELECT x, CAST(COUNT(*) AS HUGEINT) AS c FROM spend GROUP BY x
    ), cum AS (
      SELECT x, c,
             COALESCE(SUM(c) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS p
      FROM vals
    ), agg AS (
      SELECT SUM(c) AS nn, SUM(CAST(x AS HUGEINT) * c) AS sx,
             SUM(CAST(x AS HUGEINT) * (2*c*p + c*(c+1))) AS two_s1
      FROM cum
    )
    SELECT CAST(nn AS BIGINT) AS n_customers,
           CAST(sx AS BIGINT) AS total_cents,
           CAST((num - ((num % den) + den) % den) // den AS BIGINT)
             AS gini_ppm
    FROM (SELECT nn, sx,
                 1000000 * (two_s1 - (nn + 1) * sx) AS num,
                 nn * sx AS den
          FROM agg) t
    """,
)
def customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        (F.sum(_dec("o_totalprice")) * 100).cast("long").alias("x")
    )
    d38 = "decimal(38,0)"
    vals = spend.groupBy("x").agg(
        F.count(F.lit(1)).cast(d38).alias("c")
    )
    cum = _bucketed_cumsum(
        vals, value_col="x", weight_col="c", out_col="p",
        inclusive=False,
    )
    agg = cum.agg(
        F.sum("c").cast(d38).alias("nn"),
        F.sum(F.col("x").cast(d38) * F.col("c")).cast(d38).alias("sx"),
        F.sum(
            F.col("x").cast(d38)
            * (2 * F.col("c") * F.col("p") + F.col("c") * (F.col("c") + 1))
        )
        .cast(d38)
        .alias("two_s1"),
    )
    return agg.select(
        "nn", "sx",
        (F.lit(1000000).cast(d38)
         * (F.col("two_s1") - (F.col("nn") + 1) * F.col("sx")))
        .alias("num"),
        (F.col("nn") * F.col("sx")).alias("den"),
    ).select(
        F.col("nn").cast("long").alias("n_customers"),
        F.col("sx").cast("long").alias("total_cents"),
        F.expr(
            "CAST((num - ((num % den) + den) % den) div den AS BIGINT)"
        ).alias("gini_ppm"),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U (Wilcoxon rank-sum) test — the nonparametric
# two-sample shift test beside the KS statistic: are 'purchase'
# values stochastically larger than 'click' values? U is EXACT
# INTEGER: cents-quantized values group into a distinct-value frame
# with per-group counts, and 2*U1 = sum over values of
# c1*(2*C2_less + c2) (doubling clears the half-credit ties term).
# The tie-corrected normal approximation's z composes from the exact
# integers with an identical IEEE double expression in both engines.
# Scale shape: one (type, cents) aggregate, then everything is
# values-sized (same discipline as ks_value_distribution_shift);
# no row-level ranking is ever materialized. The flat unpartitioned
# cumulative window here is safe BECAUSE the frame is bounded by the
# cents PRICE DOMAIN (events.value < 500 -> <= 50k distinct cents at
# any corpus size — a domain constant, not a cardinality); folds
# whose distinct frame grows with the data (Gini's per-customer spend
# sums, the trimmed mean's order totals) use _bucketed_cumsum instead.
# ---------------------------------------------------------------------------
@query(
    "mann_whitney_value_shift",
    oracle="""
    WITH g AS (
      SELECT CAST(CAST(value AS DECIMAL(9,2)) * 100 AS BIGINT) AS v,
             CAST(COUNT(*) FILTER (event_type = 'purchase')
                  AS BIGINT) AS c1,
             CAST(COUNT(*) FILTER (event_type = 'click')
                  AS BIGINT) AS c2
      FROM events WHERE event_type IN ('purchase', 'click')
      GROUP BY v
    ), cum AS (
      SELECT v, c1, c2,
             COALESCE(SUM(c2) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS c2_less
      FROM g
    ), agg AS (
      SELECT SUM(c1) AS n1, SUM(c2) AS n2,
             SUM(c1 * (2 * c2_less + c2)) AS u1_x2,
             SUM((c1+c2)*(c1+c2)*(c1+c2) - (c1+c2)) AS tie_sum
      FROM cum
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(u1_x2 AS BIGINT) AS u1_x2,
           CAST(tie_sum AS BIGINT) AS tie_sum,
           -- VARCHAR-routed HUGEINT->DOUBLE (see spearman oracle):
           -- U and n1*n2 cross 2^53 near sf100
           CAST(CAST(u1_x2 - n1 * n2 AS VARCHAR) AS DOUBLE)
             / (2.0 * SQRT((CAST(CAST(n1 * n2 AS VARCHAR) AS DOUBLE)
                  * (CAST(n1 + n2 + 1 AS DOUBLE)
                     - CAST(CAST(tie_sum AS VARCHAR) AS DOUBLE)
                       / CAST(CAST((n1 + n2) * (n1 + n2 - 1)
                                   AS VARCHAR) AS DOUBLE)))
                 / 12.0)) AS z
    FROM agg
    """,
)
def mann_whitney_value_shift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    g = ev.groupBy(
        (F.col("value").cast("decimal(9,2)") * 100)
        .cast("long")
        .alias("v")
    ).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("c1"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("c2"),
    )
    wv = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )  # values-sized frame (distinct cents), never row-sized
    cum = g.withColumn(
        "c2_less", F.coalesce(F.sum("c2").over(wv), F.lit(0))
    )
    t = F.col("c1") + F.col("c2")
    agg = cum.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(F.col("c1") * (2 * F.col("c2_less") + F.col("c2"))).alias(
            "u1_x2"
        ),
        F.sum(t * t * t - t).alias("tie_sum"),
    )
    return agg.select(
        "n1",
        "n2",
        "u1_x2",
        "tie_sum",
        F.expr(
            "CAST(u1_x2 - n1 * n2 AS DOUBLE)"
            " / (2.0 * SQRT((CAST(n1 * n2 AS DOUBLE)"
            " * (CAST(n1 + n2 + 1 AS DOUBLE)"
            " - CAST(tie_sum AS DOUBLE)"
            " / CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE)))"
            " / 12.0)) "
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# Blocked entity resolution / fuzzy record linkage: candidate pairs
# from an equi-join on a BLOCKING KEY (first two tokens of p_name),
# scored with exact Levenshtein edit distance — the classic
# record-linkage shape (block -> compare -> rank) that every
# training-data pipeline runs to reconcile near-identical records
# across sources. Both engines implement the same Wagner-Fischer DP,
# so distances are integers that hash bit-exactly. Scale shape: the
# cross product only ever forms WITHIN blocks (pair work is
# sum(block^2), tunable by extending the key — token 3, soundex,
# length band — exactly like the MinHash band dial); the quadratic
# all-pairs join never appears. Top-20 closest pairs overall via
# TakeOrderedAndProject.
# ---------------------------------------------------------------------------
@query(
    "part_name_blocked_matches",
    oracle="""
    WITH keyed AS (
      SELECT p_partkey, p_name,
             string_split(p_name, ' ')[1] || ' ' ||
             string_split(p_name, ' ')[2] AS blk
      FROM part
    )
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM keyed a JOIN keyed b
      ON a.blk = b.blk AND a.p_partkey < b.p_partkey
    ORDER BY edit_dist, key_a, key_b
    LIMIT 20
    """,
)
def part_name_blocked_matches(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    toks = F.split(F.col("p_name"), " ")
    keyed = part.select(
        "p_partkey",
        "p_name",
        # F.concat (NOT concat_ws) to mirror the oracle's `||`: both
        # propagate NULL for a name with fewer than two tokens, so the
        # row drops out of blocking identically in both engines —
        # concat_ws would silently keep it keyed on token 1 alone.
        # F.get (not element_at) so a short token array yields NULL
        # under ANSI mode instead of INVALID_ARRAY_INDEX, matching
        # DuckDB's out-of-bounds list indexing.
        F.concat(
            F.get(toks, 0), F.lit(" "), F.get(toks, 1)
        ).alias("blk"),
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
            .cast("int")
            .alias("edit_dist"),
        )
        .orderBy("edit_dist", "key_a", "key_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Period-over-period reporting: monthly revenue with month-over-month
# and year-over-year deltas in exact signed ppm — the BI staple
# missing between the window (lag) and gap-fill lanes. YoY aligns by
# CALENDAR join (month = month - 12), not row offset, so missing
# months can never silently shift the comparison; deltas floor-divide
# via the signed pmod identity (numerators go negative on down
# months). Scale shape: one map-side-combinable monthly aggregate;
# everything after runs on the calendar-bounded months frame.
# ---------------------------------------------------------------------------
@query(
    "period_over_period_revenue",
    oracle="""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100
                  AS BIGINT) AS rev
      FROM orders GROUP BY month
    ), j AS (
      SELECT m.month, m.rev, pm.rev AS prev_rev, py.rev AS yoy_rev
      FROM monthly m
      LEFT JOIN monthly pm ON pm.month = m.month - INTERVAL 1 MONTH
      LEFT JOIN monthly py ON py.month = m.month - INTERVAL 12 MONTH
    )
    SELECT month, rev AS rev_cents,
           prev_rev AS prev_cents, yoy_rev AS yoy_cents,
           CASE WHEN prev_rev IS NULL THEN NULL ELSE
             (nm - ((nm % prev_rev) + prev_rev) % prev_rev) // prev_rev
           END AS mom_ppm,
           CASE WHEN yoy_rev IS NULL THEN NULL ELSE
             (ny - ((ny % yoy_rev) + yoy_rev) % yoy_rev) // yoy_rev
           END AS yoy_ppm
    FROM (SELECT *, 1000000 * (rev - prev_rev) AS nm,
                 1000000 * (rev - yoy_rev) AS ny
          FROM j) t
    """,
)
def period_over_period_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg((F.sum(_dec("o_totalprice")) * 100).cast("long").alias("rev"))
    m = monthly.alias("m")
    pm = monthly.select(
        F.add_months("month", 1).alias("month"),
        F.col("rev").alias("prev_rev"),
    ).alias("pm")
    py = monthly.select(
        F.add_months("month", 12).alias("month"),
        F.col("rev").alias("yoy_rev"),
    ).alias("py")
    j = m.join(pm, "month", "left").join(py, "month", "left")

    def sdiv(delta: str, den: str):
        n = f"(1000000 * (rev - {den}))"
        return F.expr(
            f"CASE WHEN {den} IS NULL THEN NULL ELSE "
            f"CAST(({n} - ((({n}) % {den}) + {den}) % {den})"
            f" div {den} AS BIGINT) END"
        ).alias(delta)

    return j.select(
        "month",
        F.col("rev").alias("rev_cents"),
        F.col("prev_rev").alias("prev_cents"),
        F.col("yoy_rev").alias("yoy_cents"),
        sdiv("mom_ppm", "prev_rev"),
        sdiv("yoy_ppm", "yoy_rev"),
    )


# ---------------------------------------------------------------------------
# Exact-moment Pearson correlation MATRIX over lineitem's numeric
# measures in ONE scan — the multivariate completion of
# corr_qty_price_exact_moments: quantities/prices/discounts/taxes
# quantize to integers, a single aggregate collects every first and
# second moment (p sums + p^2 cross sums, map-side combined), and
# each pairwise r composes from the EXACT integer moments through an
# identical IEEE double expression (n*Sxy - Sx*Sy over the sqrt of
# the variance product) in both engines. Scale shape: the matrix
# costs exactly one pass regardless of p — the schema-profiling
# counterpart of cramers_v_matrix for numeric columns.
# ---------------------------------------------------------------------------
_CORR_COLS = [
    ("qty", "CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)"),
    ("price",
     "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)"),
    ("disc",
     "CAST(CAST(l_discount AS DECIMAL(12,4)) * 10000 AS BIGINT)"),
    ("tax", "CAST(CAST(l_tax AS DECIMAL(12,4)) * 10000 AS BIGINT)"),
]


def _corr_matrix_oracle() -> str:
    moments = ["CAST(COUNT(*) AS HUGEINT) AS nn"]
    for a, expr in _CORR_COLS:
        moments.append(f"SUM(CAST({expr} AS HUGEINT)) AS s_{a}")
    pairs = []
    for i, (a, ea) in enumerate(_CORR_COLS):
        for b, eb in _CORR_COLS[i:]:
            moments.append(
                f"SUM(CAST({ea} AS HUGEINT) * CAST({eb} AS HUGEINT))"
                f" AS s_{a}_{b}"
            )
            if a != b:
                pairs.append((a, b))
    sel = []
    for a, b in pairs:
        sel.append(f"""
    SELECT '{a}' AS col_a, '{b}' AS col_b,
           -- VARCHAR-routed: direct HUGEINT->DOUBLE is not correctly
           -- rounded in DuckDB; these moments reach ~1e24
           CAST(CAST(nn * s_{a}_{b} - s_{a} * s_{b} AS VARCHAR)
                AS DOUBLE)
             / SQRT(CAST(CAST(nn * s_{a}_{a} - s_{a} * s_{a}
                              AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(nn * s_{b}_{b} - s_{b} * s_{b}
                                AS VARCHAR) AS DOUBLE))
             AS r FROM m""")
    return (
        "WITH m AS (SELECT " + ", ".join(moments) + " FROM lineitem) "
        + " UNION ALL ".join(sel)
    )


@query("lineitem_corr_matrix", oracle=_corr_matrix_oracle())
def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    d38 = "decimal(38,0)"
    base = li.select(
        *[F.expr(e).cast(d38).alias(a) for a, e in _CORR_COLS]
    )
    aggs = [F.count(F.lit(1)).cast(d38).alias("nn")]
    pairs = []
    for i, (a, _) in enumerate(_CORR_COLS):
        aggs.append(F.sum(a).cast(d38).alias(f"s_{a}"))
        for b, _ in _CORR_COLS[i:]:
            aggs.append(
                F.sum(F.col(a) * F.col(b)).cast(d38).alias(f"s_{a}_{b}")
            )
            if a != b:
                pairs.append((a, b))
    m = base.agg(*aggs).localCheckpoint(eager=True)  # one scan, p^2 readers
    outs = [
        m.select(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.expr(
                f"CAST(nn * s_{a}_{b} - s_{a} * s_{b} AS DOUBLE)"
                f" / SQRT(CAST(nn * s_{a}_{a} - s_{a} * s_{a}"
                f" AS DOUBLE)"
                f" * CAST(nn * s_{b}_{b} - s_{b} * s_{b} AS DOUBLE))"
            ).alias("r"),
        )
        for a, b in pairs
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# One-way ANOVA (F-test) of event value by event type — the k-group
# extension of the two-sample tests (z, Mann-Whitney U, KS, chi^2):
# does mean spend differ across event types? Sums of squares compose
# from EXACT integer cents moments: per group (n_g, s_g = sum cents,
# q_g = sum cents^2) aggregate map-side; SSB/SSW are integer-floored
# per group (floor(s_g^2 / n_g) via the exactly-divisible identity —
# all operands positive), so every summand is an exact integer and
# the group-sum is order-independent; F composes from the integers
# with one identical IEEE expression in both engines. Scale shape:
# one scan + a vocabulary-sized aggregate; q_g ~ N*cents^2 keeps the
# BIGINT outputs inside int64 to ~sf100 (the DECIMAL(38,0)/HUGEINT
# internals carry two orders past that — widen the OUTPUT scale
# before a >sf100 gate corpus).
# ---------------------------------------------------------------------------
@query(
    "anova_value_by_type",
    oracle="""
    WITH g AS (
      SELECT event_type,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(CAST(CAST(value AS DECIMAL(9,2)) * 100
                      AS BIGINT)) AS HUGEINT) AS s,
             CAST(SUM(CAST(CAST(value AS DECIMAL(9,2)) * 100
                           AS BIGINT)
                      * CAST(CAST(value AS DECIMAL(9,2)) * 100
                             AS BIGINT)) AS HUGEINT) AS q
      FROM events GROUP BY event_type
    ), tots AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             SUM(n) AS nn, SUM(s) AS ss, SUM(q) AS qq,
             SUM((s * s - ((s * s % n) + n) % n) // n) AS sb
      FROM g
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(nn AS BIGINT) AS n_total,
           CAST(sb - (ss * ss - ((ss * ss % nn) + nn) % nn) // nn
                AS BIGINT) AS ssb_cents2,
           CAST(qq - sb AS BIGINT) AS ssw_cents2,
           -- VARCHAR-routed HUGEINT->DOUBLE (see spearman oracle):
           -- SSB/SSW cross 2^53 near sf10
           CAST(CAST(sb - (ss * ss - ((ss * ss % nn) + nn) % nn) // nn
                     AS VARCHAR) AS DOUBLE)
             * CAST(nn - k AS DOUBLE)
             / (CAST(CAST(qq - sb AS VARCHAR) AS DOUBLE)
                * CAST(k - 1 AS DOUBLE))
             AS f_stat
    FROM tots
    """,
)
def anova_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d38 = "decimal(38,0)"
    cents = (F.col("value").cast("decimal(9,2)") * 100).cast("long")
    g = ev.select(
        "event_type", cents.alias("v")
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("v").cast(d38).alias("s"),
        F.sum(F.col("v").cast(d38) * F.col("v").cast(d38))
        .cast(d38)
        .alias("q"),
    )
    s2 = F.col("s") * F.col("s")
    per = g.select(
        "n",
        "s",
        "q",
        ((s2 - F.pmod(s2, F.col("n"))) / F.col("n"))
        .cast(d38)
        .alias("sb_g"),
    )
    tots = per.agg(
        F.count(F.lit(1)).cast(d38).alias("k"),
        F.sum("n").cast(d38).alias("nn"),
        F.sum("s").cast(d38).alias("ss"),
        F.sum("q").cast(d38).alias("qq"),
        F.sum("sb_g").cast(d38).alias("sb"),
    )
    ss2 = F.col("ss") * F.col("ss")
    grand = ((ss2 - F.pmod(ss2, F.col("nn"))) / F.col("nn")).cast(d38)
    return tots.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("nn").cast("long").alias("n_total"),
        (F.col("sb") - grand).cast("long").alias("ssb_cents2"),
        (F.col("qq") - F.col("sb")).cast("long").alias("ssw_cents2"),
        (
            (F.col("sb") - grand).cast("double")
            * (F.col("nn") - F.col("k")).cast("double")
            / (
                (F.col("qq") - F.col("sb")).cast("double")
                * (F.col("k") - 1).cast("double")
            )
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation between lineitem quantity and extended
# price — the nonparametric monotone-association statistic beside the
# exact-moments Pearson (corr_qty_price_exact_moments). Tie handling
# is the textbook AVERAGE RANK, kept integer by carrying 2*rank:
# for a value with count c after cumulative position P,
# 2*avg_rank = 2P + c + 1 — an exact BIGINT. Quantity ranks fold over
# a DOMAIN-BOUNDED frame (1..50 discrete quantities, flat window
# safe); extended-price ranks fold over a cardinality-sized distinct
# frame, so they run through _bucketed_cumsum (partitioned two-level
# cumulative, no global single-task window). Rows join back to their
# two rank columns (the quantity side broadcasts; the price side
# hash-joins on the value), Pearson moments accumulate in
# DECIMAL(38,0)/HUGEINT, and rho composes from exact integers with
# one identical IEEE expression. sum_rank2_qty = n*(n+1) is emitted
# as a self-check invariant.
# ---------------------------------------------------------------------------
@query(
    "spearman_qty_price",
    oracle="""
    WITH rows_ AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                  AS BIGINT) AS y
      FROM lineitem
    ), vx AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM rows_ GROUP BY x
    ), rx AS (
      SELECT x,
             2 * COALESCE(SUM(c) OVER (ORDER BY x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS r2x
      FROM vx
    ), vy AS (
      SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM rows_ GROUP BY y
    ), ry AS (
      SELECT y,
             2 * COALESCE(SUM(c) OVER (ORDER BY y
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS r2y
      FROM vy
    ), m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(r2x AS HUGEINT)) AS sx,
             SUM(CAST(r2y AS HUGEINT)) AS sy,
             SUM(CAST(r2x AS HUGEINT) * r2x) AS sxx,
             SUM(CAST(r2y AS HUGEINT) * r2y) AS syy,
             SUM(CAST(r2x AS HUGEINT) * r2y) AS sxy
      FROM rows_ r JOIN rx ON rx.x = r.x JOIN ry ON ry.y = r.y
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(sx AS BIGINT) AS sum_rank2_qty,
           -- VARCHAR-routed double casts: DuckDB's direct
           -- HUGEINT->DOUBLE is double-rounded (upper*2^64 + lower)
           -- and diverges from Spark's correctly-rounded decimal
           -- path by ulps once the integer exceeds 2^53 (caught by
           -- the sf0.1 robustness sweep); strtod is correctly
           -- rounded, so the string hop restores bit equality.
           CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
             / SQRT(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(n * syy - sy * sy AS VARCHAR)
                           AS DOUBLE)) AS rho
    FROM m
    """,
)
def spearman_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("y"),
    # the 2-long projection feeds THREE branches (vx, vy, and the
    # rank join-back); materialize it once (the cf_holdout pattern)
    # so the parquet scan + loader repartition run once, not three
    # times — measured ~1 s at sf0.1 (r14 optimization round)
    ).localCheckpoint(eager=True)
    d38 = "decimal(38,0)"
    vx = li.groupBy("x").agg(F.count(F.lit(1)).alias("c"))
    w_x = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, -1
    )  # quantity domain: <= 50 distinct rows, flat window safe
    rx = vx.select(
        "x",
        (
            2 * F.coalesce(F.sum("c").over(w_x), F.lit(0))
            + F.col("c")
            + 1
        ).alias("r2x"),
    )
    vy = li.groupBy("y").agg(F.count(F.lit(1)).cast(d38).alias("c"))
    ry = _bucketed_cumsum(
        vy, value_col="y", weight_col="c", out_col="p",
        inclusive=False,
    ).select(
        "y",
        (2 * F.col("p") + F.col("c") + 1).cast("long").alias("r2y"),
    )
    joined = li.join(F.broadcast(rx), "x").join(ry, "y")
    m = joined.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("r2x").cast(d38).alias("sx"),
        F.sum("r2y").cast(d38).alias("sy"),
        F.sum(F.col("r2x").cast(d38) * F.col("r2x")).cast(d38)
        .alias("sxx"),
        F.sum(F.col("r2y").cast(d38) * F.col("r2y")).cast(d38)
        .alias("syy"),
        F.sum(F.col("r2x").cast(d38) * F.col("r2y")).cast(d38)
        .alias("sxy"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("sx").cast("long").alias("sum_rank2_qty"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("double")
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                .cast("double")
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                .cast("double")
            )
        ).alias("rho"),
    )


# ---------------------------------------------------------------------------
# Two-cohort log-rank test over session survival — the inference
# companion to session_kaplan_meier: do even- and odd-numbered users'
# sessions have the same survival curve? Same sessionization and
# censoring rules; at each distinct duration with d > 0 deaths the
# expected cohort-A deaths E1 += d*n1/n and the hypergeometric
# variance V += d*n1*n2*(n-d)/(n^2*(n-1)) accumulate as FIXED-POINT
# 1e9 integers (each term floor-divided via the exactly-divisible
# identity; DECIMAL(38,0)/HUGEINT internals, BIGINT outputs), so O-E
# and V hash bit-exactly and z composes with one identical IEEE
# expression. NO recursion anywhere — the estimator is a pure
# windowed aggregate. Scale shape: user-keyed sessionization
# shuffles, then everything runs on the distinct-duration frame
# (bounded by max session minutes, same argument as KM); the at-risk
# windows are that bounded series.
# ---------------------------------------------------------------------------
@query(
    "logrank_cohort_survival",
    oracle="""
    WITH horizon AS (
      SELECT MAX(ts) AS hmax FROM events
    ), gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                       > 1800000000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END
               AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM gaps
    ), lab AS (
      SELECT user_id % 2 AS grp,
             (epoch_us(MAX(ts)) - epoch_us(MIN(ts)))
               // 60000000 AS t,
             CASE WHEN epoch_us(MAX(ts))
                       >= epoch_us(MAX(hmax)) - 3600000000
                  THEN 1 ELSE 0 END AS censored
      FROM sess CROSS JOIN horizon
      GROUP BY user_id, session_id
    ), risk AS (
      SELECT t,
             CAST(SUM(CASE WHEN grp = 0 AND censored = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             CAST(SUM(CASE WHEN grp = 0 AND censored = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN grp = 1 AND censored = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS d2,
             CAST(SUM(CASE WHEN grp = 1 AND censored = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM lab GROUP BY t
    ), tots AS (
      SELECT CAST(SUM(d1 + c1) AS BIGINT) AS na,
             CAST(SUM(d2 + c2) AS BIGINT) AS nb
      FROM risk
    ), atrisk AS (
      SELECT t, d1, d2,
             CAST(na - COALESCE(SUM(d1 + c1) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS BIGINT) AS n1,
             CAST(nb - COALESCE(SUM(d2 + c2) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS BIGINT) AS n2
      FROM risk CROSS JOIN tots
    ), terms AS (
      SELECT d1,
             (e0 - ((e0 % n) + n) % n) // n AS e1_t,
             CASE WHEN n > 1
                  THEN (v0 - ((v0 % vd) + vd) % vd) // vd
                  ELSE CAST(0 AS HUGEINT) END AS v_t
      FROM (
        SELECT d1, n1 + n2 AS n,
               1000000000::HUGEINT * (d1 + d2) * n1 AS e0,
               1000000000::HUGEINT * (d1 + d2) * n1 * n2
                 * (n1 + n2 - d1 - d2) AS v0,
               CAST(n1 + n2 AS HUGEINT) * (n1 + n2)
                 * (n1 + n2 - 1) AS vd
        FROM atrisk WHERE d1 + d2 > 0
      ) x
    )
    SELECT tots.na AS n_sessions_a, tots.nb AS n_sessions_b,
           agg.o1 AS deaths_a,
           CAST(agg.e1s AS BIGINT) AS expected_a_x1e9,
           CAST(agg.vs AS BIGINT) AS var_x1e9,
           -- VARCHAR-routed (see spearman oracle): O-E and V scale
           -- with deaths x 1e9 and cross 2^53 near sf100
           CAST(CAST(1000000000 * agg.o1 - agg.e1s AS VARCHAR)
                AS DOUBLE)
             / SQRT(CAST(CAST(agg.vs AS VARCHAR) AS DOUBLE) * 1e9)
             AS z
    FROM tots CROSS JOIN (
      SELECT CAST(SUM(d1) AS BIGINT) AS o1,
             SUM(e1_t) AS e1s, SUM(v_t) AS vs
      FROM terms
    ) agg
    """,
)
def logrank_cohort_survival(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d38 = "decimal(38,0)"
    horizon = ev.agg(_epoch_us(F.max("ts")).alias("hmax_us"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = _epoch_us(F.col("ts")) - _epoch_us(F.lag("ts").over(w))
    new_session = F.when(
        gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    wsum = Window.partitionBy("user_id").orderBy(
        "ts", "event_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    sess = ev.withColumn("new_session", new_session).withColumn(
        "session_id", F.sum("new_session").over(wsum)
    )
    lab = (
        sess.groupBy("user_id", "session_id")
        .agg(
            _epoch_us(F.min("ts")).alias("start_us"),
            _epoch_us(F.max("ts")).alias("end_us"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            F.pmod(F.col("user_id"), F.lit(2)).alias("grp"),
            F.expr("(end_us - start_us) div 60000000").alias("t"),
            F.when(
                F.col("end_us") >= F.col("hmax_us") - 3_600_000_000,
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("censored"),
        )
    )
    dead = 1 - F.col("censored")
    is_a = (F.col("grp") == 0).cast("long")
    risk = lab.groupBy("t").agg(
        F.sum(is_a * dead).alias("d1"),
        F.sum(is_a * F.col("censored")).alias("c1"),
        F.sum((1 - is_a) * dead).alias("d2"),
        F.sum((1 - is_a) * F.col("censored")).alias("c2"),
    ).localCheckpoint(
        eager=True
    )  # duration-bounded frame; stops tots+atrisk re-running the
    # whole sessionization pipeline (one events scan, not three)
    tots = risk.agg(
        F.sum(F.col("d1") + F.col("c1")).alias("na"),
        F.sum(F.col("d2") + F.col("c2")).alias("nb"),
    )
    w_prev = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )  # distinct-durations frame: bounded, same argument as KM
    atrisk = risk.crossJoin(F.broadcast(tots)).select(
        "d1",
        "d2",
        (
            F.col("na")
            - F.coalesce(
                F.sum(F.col("d1") + F.col("c1")).over(w_prev),
                F.lit(0),
            )
        ).alias("n1"),
        (
            F.col("nb")
            - F.coalesce(
                F.sum(F.col("d2") + F.col("c2")).over(w_prev),
                F.lit(0),
            )
        ).alias("n2"),
    ).filter(F.col("d1") + F.col("d2") > 0)
    n = (F.col("n1") + F.col("n2")).cast(d38)
    d = (F.col("d1") + F.col("d2")).cast(d38)
    e0 = F.lit(10**9).cast(d38) * d * F.col("n1").cast(d38)
    v0 = (
        F.lit(10**9).cast(d38)
        * d
        * F.col("n1").cast(d38)
        * F.col("n2").cast(d38)
        * (n - d)
    )
    vd = n * n * (n - 1)
    terms = atrisk.select(
        "d1",
        ((e0 - F.pmod(e0, n)) / n).cast(d38).alias("e1_t"),
        F.when(
            n > 1, ((v0 - F.pmod(v0, vd)) / vd).cast(d38)
        )
        .otherwise(F.lit(0).cast(d38))
        .alias("v_t"),
    )
    agg = terms.agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum("e1_t").cast(d38).alias("e1s"),
        F.sum("v_t").cast(d38).alias("vs"),
    )
    return tots.crossJoin(F.broadcast(agg)).select(
        F.col("na").alias("n_sessions_a"),
        F.col("nb").alias("n_sessions_b"),
        F.col("o1").alias("deaths_a"),
        F.col("e1s").cast("long").alias("expected_a_x1e9"),
        F.col("vs").cast("long").alias("var_x1e9"),
        (
            (
                F.lit(10**9).cast(d38) * F.col("o1") - F.col("e1s")
            ).cast("double")
            / F.sqrt(F.col("vs").cast("double") * F.lit(1e9))
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# Link prediction on the co-ordered-parts graph: common-neighbor and
# Jaccard scores for part pairs that are NOT yet edges — the classic
# graph-completion / recommendation primitive (Liben-Nowell & Kleinberg
# 2003) beside the triangle/k-core/community suite, and the same
# wedge-join shape triangle counting uses. Candidates come from
# 2-paths (u-w-v with u<v), existing edges are removed with an anti
# join, and jaccard_ppm = floor(1e6*cn / (deg_u + deg_v - cn)) is
# exact integer. Scale shape: the graph is first sparsified to each
# node's top-64 strongest co-order edges (w desc, id tiebreak — the
# k-NN graph construction; PART OF THE QUERY CONTRACT, the oracle
# applies the identical cap), so wedge work is bounded by 64*deg per
# node instead of deg^2 on a hot hub at 100x data; candidates then
# come from the >= 2 co-order weight prune the triangle operator
# also uses — never an all-pairs product. Top-20 via
# TakeOrderedAndProject with a full deterministic tiebreak.
# ---------------------------------------------------------------------------
@query(
    "part_link_prediction_topk",
    oracle="""
    WITH it AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM it a JOIN it b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY u, v HAVING COUNT(*) >= 2
    ),
    und_all AS (
      SELECT u, v, w FROM e UNION ALL SELECT v, u, w FROM e
    ),
    und AS (
      SELECT u, v FROM (
        SELECT u, v,
               ROW_NUMBER() OVER (PARTITION BY u
                                  ORDER BY w DESC, v) AS rk
        FROM und_all) r
      WHERE rk <= 64
    ),
    deg AS (
      SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d
      FROM und GROUP BY u
    ),
    cand AS (
      SELECT a.u AS x, b.v AS y, CAST(COUNT(*) AS BIGINT) AS cn
      FROM und a JOIN und b ON b.u = a.v AND a.u < b.v
      GROUP BY x, y
    ),
    nonedge AS (
      SELECT c.x, c.y, c.cn FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM e
                        WHERE e.u = c.x AND e.v = c.y)
    )
    SELECT n.x AS part_a, n.y AS part_b, n.cn AS common_neighbors,
           CAST((1000000 * n.cn) // (da.d + db.d - n.cn) AS BIGINT)
             AS jaccard_ppm
    FROM nonedge n
    JOIN deg da ON da.node = n.x
    JOIN deg db ON db.node = n.y
    ORDER BY common_neighbors DESC, jaccard_ppm DESC, part_a, part_b
    LIMIT 20
    """,
)
def part_link_prediction_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    it = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = it.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u")
    )
    b = it.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v")
    )
    e = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .localCheckpoint(eager=True)  # edge list: 4 consumers below
    )
    # Top-64 sparsification BEFORE the wedge join — part of the query
    # contract (the oracle applies the identical cap): each node keeps
    # its 64 strongest co-order edges (w desc, id tiebreak), the
    # standard k-NN graph sparsification, so the wedge stage is
    # bounded by 64*deg instead of deg^2 on a hot part at 100x data.
    # Compiles to WindowGroupLimit (rank-limit pushdown), same as
    # part_coorder_sssp's per-node prune.
    w_nbr = Window.partitionBy("u").orderBy(F.col("w").desc(), "v")
    und = (
        e.select("u", "v", "w")
        .unionByName(
            e.select(
                F.col("v").alias("u"), F.col("u").alias("v"), "w"
            )
        )
        .withColumn("rk", F.row_number().over(w_nbr))
        .filter(F.col("rk") <= 64)
        .select("u", "v")
    )
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    wa = und.select(F.col("u").alias("x"), F.col("v").alias("w"))
    wb = und.select(F.col("u").alias("w"), F.col("v").alias("y"))
    cand = (
        wa.join(wb, "w")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    nonedge = cand.join(
        e,
        (cand["x"] == e["u"]) & (cand["y"] == e["v"]),
        "left_anti",
    )
    da = deg.select(F.col("node").alias("x"), F.col("d").alias("dx"))
    db = deg.select(F.col("node").alias("y"), F.col("d").alias("dy"))
    return (
        nonedge.join(da, "x")
        .join(db, "y")
        .select(
            F.col("x").alias("part_a"),
            F.col("y").alias("part_b"),
            F.col("cn").alias("common_neighbors"),
            F.expr("CAST(1000000 * cn DIV (dx + dy - cn) AS BIGINT)")
            .alias("jaccard_ppm"),
        )
        .orderBy(
            F.col("common_neighbors").desc(),
            F.col("jaccard_ppm").desc(),
            "part_a",
            "part_b",
        )
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Feature hashing (the "hashing trick", Weinberger et al. 2009) —
# the large-scale categorical-feature prep step that maps an unbounded
# feature vocabulary into a fixed 2^k bucket space. Three part
# attributes melt into prefixed feature strings, hash with the
# engine's cross-engine md5 bucket (llm/text.py:token_hash60 — DuckDB
# derives identical assignments), and the report quantifies the
# collision cost a model would pay: bucket occupancy, colliding
# vocabulary share, and a chi-square uniformity score in exact ppm
# (S = sum over all m buckets of (m*load - T)^2 kept integer; empty
# buckets contribute (0 - T)^2 via the closed-form (m - used) * T^2
# term, no m-row table ever materialized). Scale shape: one melted
# scan, one vocabulary-sized aggregate, one bucket-sized aggregate —
# map-side-combinable end to end; the 100-TB corpus changes T, never
# the bucket frame.
# ---------------------------------------------------------------------------
@query(
    "feature_hashing_stats",
    oracle="""
    WITH feats AS (
      SELECT 'brand=' || p_brand AS feat FROM part
      UNION ALL SELECT 'type=' || p_type FROM part
      UNION ALL SELECT 'size=' || CAST(p_size AS VARCHAR) FROM part
    ), vocab AS (
      SELECT feat, CAST(COUNT(*) AS BIGINT) AS n,
             ('0x' || substr(md5(feat), 1, 15))::BIGINT % 128
               AS bucket
      FROM feats GROUP BY feat
    ), buckets AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_values,
             CAST(SUM(n) AS BIGINT) AS load
      FROM vocab GROUP BY bucket
    ), agg AS (
      SELECT CAST((SELECT COUNT(*) FROM vocab) AS BIGINT) AS n_vals,
             CAST(COUNT(*) AS BIGINT) AS used,
             CAST(MAX(n_values) AS BIGINT) AS max_vals,
             CAST(SUM(CASE WHEN n_values >= 2 THEN n_values
                           ELSE 0 END) AS BIGINT) AS colliding,
             CAST(SUM(load) AS BIGINT) AS t,
             SUM((128::HUGEINT * load - (SELECT SUM(load) FROM buckets))
                 * (128::HUGEINT * load
                    - (SELECT SUM(load) FROM buckets))) AS s_used
      FROM buckets
    )
    SELECT n_vals AS n_feature_values,
           used AS n_buckets_used,
           colliding AS n_colliding_values,
           max_vals AS max_bucket_values,
           t AS total_instances,
           CAST((num - ((num % den) + den) % den) // den AS BIGINT)
             AS chi2_ppm
    FROM (SELECT n_vals, used, colliding, max_vals, t,
                 1000000::HUGEINT
                   * (s_used + (128 - used)::HUGEINT * t * t) AS num,
                 128::HUGEINT * t AS den
          FROM agg) x
    """,
)
def feature_hashing_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    d38 = "decimal(38,0)"
    # one melted scan (stack), not a 3-branch union: the IND-profile
    # discipline — adding features must not add scans
    feats = part.selectExpr(
        "stack(3, 'brand=' || p_brand, 'type=' || p_type,"
        " 'size=' || CAST(p_size AS STRING)) AS feat"
    )
    vocab = (
        feats.groupBy("feat")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "bucket", llm_text.token_hash60(F.col("feat")) % 128
        )
        .localCheckpoint(eager=True)  # vocabulary-sized; 2 consumers
    )
    buckets = vocab.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.sum("n").alias("load"),
    )
    tot = buckets.agg(F.sum("load").cast(d38).alias("t"))
    agg = buckets.crossJoin(F.broadcast(tot)).agg(
        F.count(F.lit(1)).alias("used"),
        F.max("n_values").alias("max_vals"),
        F.sum(
            F.when(F.col("n_values") >= 2, F.col("n_values"))
            .otherwise(F.lit(0))
        ).alias("colliding"),
        F.max("t").alias("t"),
        F.sum(
            (F.lit(128).cast(d38) * F.col("load") - F.col("t"))
            * (F.lit(128).cast(d38) * F.col("load") - F.col("t"))
        ).cast(d38).alias("s_used"),
    )
    nvals = vocab.agg(F.count(F.lit(1)).alias("n_vals"))
    num = (
        F.lit(10**6).cast(d38)
        * (
            F.col("s_used")
            + (F.lit(128).cast(d38) - F.col("used"))
            * F.col("t")
            * F.col("t")
        )
    ).cast(d38)
    den = (F.lit(128).cast(d38) * F.col("t")).cast(d38)
    return agg.crossJoin(F.broadcast(nvals)).select(
        F.col("n_vals").alias("n_feature_values"),
        F.col("used").alias("n_buckets_used"),
        F.col("colliding").alias("n_colliding_values"),
        F.col("max_vals").alias("max_bucket_values"),
        F.col("t").cast("long").alias("total_instances"),
        ((num - F.pmod(num, den)) / den)
        .cast("long")
        .alias("chi2_ppm"),
    )


# ---------------------------------------------------------------------------
# Smoothed target encoding (m-estimate, Micci-Barreca 2001) of order
# priority against the order-total target — the leakage-aware
# categorical encoder feature pipelines use where one-hot would
# explode. enc_c = (sum_c + m * global_mean) / (n_c + m) with m = 100,
# cleared to one exact integer ratio: enc = (s_c*N + m*S) / (N*(n_c+m))
# in cents, emitted floor-scaled x100 via the exactly-divisible
# identity — deterministic in both engines, no float means anywhere.
# Scale shape: one map-side-combinable (priority) aggregate + a 1-row
# broadcast of the global sums; output is category-sized.
# ---------------------------------------------------------------------------
@query(
    "target_encode_priority",
    oracle="""
    WITH per AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100)
                  AS BIGINT) AS s
      FROM orders GROUP BY o_orderpriority
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(s) AS BIGINT) AS ss
      FROM per
    )
    SELECT o_orderpriority AS priority, n AS n_orders,
           s AS sum_cents,
           CAST((num - ((num % den) + den) % den) // den AS BIGINT)
             AS enc_cents_x100
    FROM (SELECT o_orderpriority, n, s,
                 100::HUGEINT * (s::HUGEINT * nn + 100 * ss) AS num,
                 nn::HUGEINT * (n + 100) AS den
          FROM per CROSS JOIN tot) x
    """,
)
def target_encode_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d38 = "decimal(38,0)"
    per = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(_dec("o_totalprice") * 100)).cast("long").alias("s"),
    )
    tot = per.agg(
        F.sum("n").cast(d38).alias("nn"),
        F.sum("s").cast(d38).alias("ss"),
    )
    num = (
        F.lit(100).cast(d38)
        * (
            F.col("s").cast(d38) * F.col("nn")
            + F.lit(100).cast(d38) * F.col("ss")
        )
    ).cast(d38)
    den = (F.col("nn") * (F.col("n") + 100).cast(d38)).cast(d38)
    return per.crossJoin(F.broadcast(tot)).select(
        F.col("o_orderpriority").alias("priority"),
        F.col("n").alias("n_orders"),
        F.col("s").alias("sum_cents"),
        ((num - F.pmod(num, den)) / den)
        .cast("long")
        .alias("enc_cents_x100"),
    )


# ---------------------------------------------------------------------------
# nDCG@10 retrieval evaluation over the BM25 ranking — the graded
# relevance metric beside the binary recall contracts the ANN lanes
# carry. Relevance = total query-term occurrences capped at 7 (a
# graded 1..7 label both engines derive identically; the cap is what
# keeps the label from just re-deriving the tf-dominated score, so
# nDCG < 1 is reachable and measured); the rank discount
# 1/log2(rank+1) is a
# LITERAL integer ppm table (hardcoded constants, so no runtime libm
# call whose last ulp could differ across platforms); DCG and the
# ideal DCG are exact integer dot products over the top-10 frame and
# ndcg_ppm is their floored ratio. Scale shape: the BM25 scorer's
# TakeOrderedAndProject hands over 10 rows; everything after is
# constant-size.
# ---------------------------------------------------------------------------
_NDCG_DISC_PPM = [
    1000000, 630929, 500000, 430676, 386852,
    356207, 333333, 315464, 301029, 289064,
]


@query(
    "bm25_ndcg_eval",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), w2 AS (SELECT * FROM words WHERE term <> ''),
    dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
      FROM w2 GROUP BY doc_id
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS total_len
      FROM dl
    ),
    tf AS (
      SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      FROM w2
      WHERE term IN ({", ".join(f"'{t}'" for t in _SEARCH_TERMS)})
      GROUP BY term, doc_id
    ),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
           FROM tf GROUP BY term),
    scored AS (
      SELECT doc_id,
             CAST((1000000::HUGEINT * (2*n_docs - 2*df + 1) * 44
                   * tf * total_len)
                  // ((2*df + 1)::HUGEINT
                      * (20::HUGEINT*tf*total_len
                         + 6::HUGEINT*total_len
                         + 18::HUGEINT*dl*n_docs)) AS BIGINT) AS s
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
      CROSS JOIN tot
    ),
    hits AS (
      SELECT doc_id, CAST(LEAST(SUM(tf), 7) AS BIGINT) AS gain
      FROM tf GROUP BY doc_id
    ),
    ranked AS (
      SELECT s.doc_id, h.gain,
             CAST(SUM(s.s) AS BIGINT) AS score_fp,
             ROW_NUMBER() OVER (ORDER BY SUM(s.s) DESC, s.doc_id)
               AS rnk
      FROM scored s JOIN hits h USING (doc_id)
      GROUP BY s.doc_id, h.gain
      ORDER BY score_fp DESC, doc_id LIMIT 10
    ),
    disc AS (
      SELECT * FROM (VALUES
        {", ".join(f"({i + 1}, {p})" for i, p in enumerate(_NDCG_DISC_PPM))}
      ) AS t(rnk, disc_ppm)
    ),
    ideal AS (
      SELECT gain,
             ROW_NUMBER() OVER (ORDER BY gain DESC, doc_id) AS rnk
      FROM ranked
    ),
    sums AS (
      SELECT (SELECT SUM(r.gain * d.disc_ppm)
              FROM ranked r JOIN disc d USING (rnk)) AS dcg,
             (SELECT SUM(i.gain * d.disc_ppm)
              FROM ideal i JOIN disc d USING (rnk)) AS idcg
    )
    SELECT CAST(dcg AS BIGINT) AS dcg_ppm,
           CAST(idcg AS BIGINT) AS idcg_ppm,
           CAST((1000000 * dcg
                 - ((1000000 * dcg % idcg) + idcg) % idcg)
                // idcg AS BIGINT) AS ndcg_ppm
    FROM sums
    """,
)
def bm25_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ranked = llm_text.bm25_topk(
        docs, _SEARCH_TERMS, top_k=10
    ).select("doc_id", "score_fp")
    toks = F.filter(
        F.split(F.col("text"), " "), lambda x: x != F.lit("")
    )
    def _hit_count(term: str):
        # factory, not a default-arg lambda: a 2-arg lambda makes
        # F.filter pass the ELEMENT INDEX as the second argument
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    hits = sum(_hit_count(t) for t in _SEARCH_TERMS)
    gains = docs.join(F.broadcast(ranked), "doc_id").select(
        "doc_id",
        "score_fp",
        F.least(hits.cast("long"), F.lit(7)).alias("gain"),
    )
    top = gains
    w_rank = Window.orderBy(F.col("score_fp").desc(), "doc_id")
    w_ideal = Window.orderBy(F.col("gain").desc(), "doc_id")
    ranked = top.withColumn(
        "rnk", F.row_number().over(w_rank)
    ).withColumn("irnk", F.row_number().over(w_ideal))
    disc = F.array(*[F.lit(p) for p in _NDCG_DISC_PPM])
    sums = ranked.agg(
        F.sum(
            F.col("gain") * F.element_at(disc, F.col("rnk"))
        ).alias("dcg"),
        F.sum(
            F.col("gain") * F.element_at(disc, F.col("irnk"))
        ).alias("idcg"),
    )
    num = F.lit(1000000).cast("long") * F.col("dcg")
    return sums.select(
        F.col("dcg").cast("long").alias("dcg_ppm"),
        F.col("idcg").cast("long").alias("idcg_ppm"),
        ((num - F.pmod(num, F.col("idcg"))) / F.col("idcg"))
        .cast("long")
        .alias("ndcg_ppm"),
    )


# ---------------------------------------------------------------------------
# Isotonic regression (PAVA) calibration curve — the monotone
# calibrator (Zadrozny & Elkan 2002; Robertson's minimax identity)
# that maps a raw score to a calibrated probability, fit here for
# P(lang = 'en' | document length bin). Instead of replaying the
# sequential pool-adjacent-violators merges (stateful, order-
# sensitive), BOTH engines compute the closed-form minimax
# characterization of the unique isotonic fit:
#     fitted(i) = min_{b >= i} max_{a <= i} mean(y over bins a..b)
# entirely in integers: interval means are exact fractions compared
# through one 1e12 fixed-point floor (ties collapse to the same
# output value, so the minimax is deterministic), and the result is
# emitted in ppm. Scale shape: one scan collapses the corpus to a
# DOMAIN-BOUNDED bin frame (<= 200 rows at any corpus size); the
# a<=i<=b triple frame is bins^3/6 ~ 1.3M tiny rows — constant work
# independent of corpus size, all joins broadcastable.
# ---------------------------------------------------------------------------
@query(
    "isotonic_quality_calibration",
    oracle="""
    WITH bins AS (
      SELECT LEAST(n_chars // 50, 199) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                  AS BIGINT) AS sy
      FROM documents GROUP BY bin
    ), pre AS (
      SELECT bin, n, sy,
             SUM(n) OVER w AS cn, SUM(sy) OVER w AS cs
      FROM bins
      WINDOW w AS (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), pairs AS (
      SELECT a.bin AS a, b.bin AS b,
             1000000000000 * (b.cs - a.cs + a.sy) AS num,
             b.cn - a.cn + a.n AS den
      FROM pre a JOIN pre b ON a.bin <= b.bin
    ), scaled AS (
      SELECT a, b,
             CAST((num - ((num % den) + den) % den) // den AS BIGINT)
               AS m
      FROM pairs
    ), inner_max AS (
      SELECT i.bin AS bin, s.b, MAX(s.m) AS mx
      FROM scaled s JOIN bins i ON s.a <= i.bin AND i.bin <= s.b
      GROUP BY i.bin, s.b
    ), fit AS (
      SELECT bin, MIN(mx) AS fitted_scaled FROM inner_max GROUP BY bin
    )
    SELECT CAST(bins.bin AS BIGINT) AS bin, bins.n AS n_docs,
           bins.sy AS n_positive,
           CAST(fit.fitted_scaled // 1000000 AS BIGINT) AS fitted_ppm
    FROM bins JOIN fit USING (bin)
    """,
)
def isotonic_quality_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bins = docs.groupBy(
        F.least(F.expr("n_chars div 50"), F.lit(199)).alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("lang") == "en").cast("long")).alias("sy"),
    ).localCheckpoint(eager=True)  # domain-bounded (<= 200 rows)
    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )  # bin-frame window: bounded by the 200-bin domain
    pre = bins.select(
        "bin", "n", "sy",
        F.sum("n").over(w).alias("cn"),
        F.sum("sy").over(w).alias("cs"),
    )
    a = pre.select(
        F.col("bin").alias("a"),
        F.col("cn").alias("cn_a"),
        F.col("cs").alias("cs_a"),
        F.col("n").alias("n_a"),
        F.col("sy").alias("sy_a"),
    )
    b = pre.select(
        F.col("bin").alias("b"),
        F.col("cn").alias("cn_b"),
        F.col("cs").alias("cs_b"),
    )
    # Fixed-point fold in decimal(38,0), like the sibling ANOVA/KM
    # folds: a LONG numerator (1e12 * cumulative doc count) overflows
    # int64 past ~9.2M documents, and a long/long division runs in
    # double, which misrounds exact quotients past 2^53 — the oracle
    # computes the same expression in int128, so both hazards are
    # Spark-side only. decimal keeps multiply, pmod, and the exact
    # division lossless at any corpus this engine targets; the
    # quotient itself is <= 1e12 (a mean in ppt), so the final BIGINT
    # cast never truncates.
    num = (
        F.lit(10**12).cast("decimal(13,0)")
        * (F.col("cs_b") - F.col("cs_a") + F.col("sy_a"))
        .cast("decimal(19,0)")
    )
    den = (
        (F.col("cn_b") - F.col("cn_a") + F.col("n_a")).cast("decimal(19,0)")
    )
    scaled = (
        a.join(b, F.col("a") <= F.col("b"))
        .select(
            "a",
            "b",
            ((num - F.pmod(num, den)) / den).cast("long").alias("m"),
        )
    )
    i = bins.select(F.col("bin").alias("i"))
    inner_max = (
        scaled.join(
            i, (F.col("a") <= F.col("i")) & (F.col("i") <= F.col("b"))
        )
        .groupBy("i", "b")
        .agg(F.max("m").alias("mx"))
    )
    fit = inner_max.groupBy("i").agg(F.min("mx").alias("fitted_scaled"))
    return (
        bins.join(fit, bins["bin"] == fit["i"])
        .select(
            F.col("bin").cast("long").alias("bin"),
            F.col("n").alias("n_docs"),
            F.col("sy").alias("n_positive"),
            F.expr("CAST(fitted_scaled div 1000000 AS BIGINT)")
            .alias("fitted_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Goodman-Kruskal lambda — the log-free association measure (PRE:
# proportional reduction in prediction error) between two categorical
# columns, complementing Cramer's V / chi-square with a DIRECTED
# score: how much better does knowing the ISO weekday predict the
# event type (and vice versa) than always guessing the mode? Unlike
# mutual information it is exact in integers (counts and one ppm
# floor division), so the hash contract is trivial. Scale shape: one
# scan collapses to the |dow| x |types| contingency table (bounded by
# the category product, never by rows); both lambdas read that one
# tiny frame.
# ---------------------------------------------------------------------------
@query(
    "gk_lambda_type_dow",
    oracle="""
    WITH ct AS (
      SELECT isodow(ts) AS dow, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY dow, event_type
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM ct
    ), row_max AS (          -- best guess of type within each dow
      SELECT CAST(SUM(mx) AS BIGINT) AS sum_row_max
      FROM (SELECT dow, MAX(n) AS mx FROM ct GROUP BY dow) t
    ), col_max AS (          -- best guess of dow within each type
      SELECT CAST(SUM(mx) AS BIGINT) AS sum_col_max
      FROM (SELECT event_type, MAX(n) AS mx FROM ct GROUP BY event_type) t
    ), marg_type AS (        -- modal type overall
      SELECT CAST(MAX(s) AS BIGINT) AS max_type
      FROM (SELECT event_type, SUM(n) AS s FROM ct GROUP BY event_type) t
    ), marg_dow AS (         -- modal dow overall
      SELECT CAST(MAX(s) AS BIGINT) AS max_dow
      FROM (SELECT dow, SUM(n) AS s FROM ct GROUP BY dow) t
    )
    SELECT n_total, sum_row_max, sum_col_max, max_type, max_dow,
           CAST((1000000 * (sum_row_max - max_type))
                // (n_total - max_type) AS BIGINT)
             AS lambda_type_given_dow_ppm,
           CAST((1000000 * (sum_col_max - max_dow))
                // (n_total - max_dow) AS BIGINT)
             AS lambda_dow_given_type_ppm
    FROM tot, row_max, col_max, marg_type, marg_dow
    """,
)
def gk_lambda_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ct = ev.groupBy(
        F.expr("extract(DAYOFWEEK_ISO FROM ts)").cast("long").alias("dow"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))
    ct = ct.localCheckpoint(eager=True)  # contingency table: 5 readers
    tot = ct.agg(F.sum("n").alias("n_total"))
    row_max = (
        ct.groupBy("dow").agg(F.max("n").alias("mx"))
        .agg(F.sum("mx").alias("sum_row_max"))
    )
    col_max = (
        ct.groupBy("event_type").agg(F.max("n").alias("mx"))
        .agg(F.sum("mx").alias("sum_col_max"))
    )
    marg_type = (
        ct.groupBy("event_type").agg(F.sum("n").alias("s"))
        .agg(F.max("s").alias("max_type"))
    )
    marg_dow = (
        ct.groupBy("dow").agg(F.sum("n").alias("s"))
        .agg(F.max("s").alias("max_dow"))
    )
    one = (
        tot.crossJoin(F.broadcast(row_max))
        .crossJoin(F.broadcast(col_max))
        .crossJoin(F.broadcast(marg_type))
        .crossJoin(F.broadcast(marg_dow))
    )
    lam_t = F.expr(
        "CAST((1000000 * (sum_row_max - max_type))"
        " div (n_total - max_type) AS BIGINT)"
    )
    lam_d = F.expr(
        "CAST((1000000 * (sum_col_max - max_dow))"
        " div (n_total - max_dow) AS BIGINT)"
    )
    return one.select(
        "n_total", "sum_row_max", "sum_col_max", "max_type", "max_dow",
        lam_t.alias("lambda_type_given_dow_ppm"),
        lam_d.alias("lambda_dow_given_type_ppm"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b rank correlation between quantity and price band —
# the concordance-based complement to Spearman (which this registry
# computes over the two-level bucketed cumsum) and Pearson. Both
# variables live on DOMAIN-BOUNDED grids (quantity 1..50, price band
# capped at 200), so the pair statistic folds exactly over the
# contingency CELLS: concordant/discordant mass is a cell-pair join
# bounded by |cells|^2 (a constant ~10k^2 regardless of corpus rows
# — never an n^2 row join), and tie corrections come from the
# marginals. C, D, and the tie terms are exact BIGINTs; tau_b is one
# IEEE composition (two single-rounded int->double conversions, one
# multiply, one correctly-rounded sqrt, one divide — bit-stable
# across engines, same contract as the log-rank z).
# ---------------------------------------------------------------------------
@query(
    "kendall_tau_qty_price",
    oracle="""
    WITH cells AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             LEAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                        AS BIGINT) // 100000, 199) AS y,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY x, y
    ), pairs AS (
      SELECT
        CAST(SUM(CASE WHEN b.y > a.y THEN a.n * b.n ELSE 0 END)
             AS BIGINT) AS nc,
        CAST(SUM(CASE WHEN b.y < a.y THEN a.n * b.n ELSE 0 END)
             AS BIGINT) AS nd
      FROM cells a JOIN cells b ON a.x < b.x
    ), margx AS (
      -- integer // division: s*(s-1) is always even, so //2 is exact
      -- at every SF; DuckDB's `/` returns DOUBLE, which rounds past
      -- 2^53 pairs and would diverge from the Spark `div` path
      SELECT CAST(SUM(s * (s - 1) // 2) AS BIGINT) AS tx
      FROM (SELECT x, SUM(n) AS s FROM cells GROUP BY x) t
    ), margy AS (
      SELECT CAST(SUM(s * (s - 1) // 2) AS BIGINT) AS ty
      FROM (SELECT y, SUM(n) AS s FROM cells GROUP BY y) t
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
             CAST(SUM(n) * (SUM(n) - 1) // 2 AS BIGINT) AS n0
      FROM cells
    )
    SELECT n_rows, nc, nd, tx AS tied_x, ty AS tied_y,
           CAST(CAST(nc - nd AS VARCHAR) AS DOUBLE)
             / sqrt(CAST(CAST(n0 - tx AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(n0 - ty AS VARCHAR) AS DOUBLE))
             AS tau_b
    FROM tot, pairs, margx, margy
    """,
)
def kendall_tau_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.groupBy(
            F.col("l_quantity").cast("long").alias("x"),
            F.least(
                F.expr(
                    "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100"
                    " AS BIGINT) div 100000"
                ),
                F.lit(199).cast("long"),
            ).alias("y"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)  # bounded cell frame: 4 readers
    )
    a = cells.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"),
        F.col("n").alias("na"),
    )
    b = cells.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"),
        F.col("n").alias("nb"),
    )
    pairs = a.join(b, F.col("xa") < F.col("xb")).agg(
        F.sum(
            F.when(F.col("yb") > F.col("ya"), F.col("na") * F.col("nb"))
            .otherwise(F.lit(0))
        ).alias("nc"),
        F.sum(
            F.when(F.col("yb") < F.col("ya"), F.col("na") * F.col("nb"))
            .otherwise(F.lit(0))
        ).alias("nd"),
    )
    margx = (
        cells.groupBy("x").agg(F.sum("n").alias("s"))
        .agg(F.sum(F.expr("s * (s - 1) div 2")).alias("tx"))
    )
    margy = (
        cells.groupBy("y").agg(F.sum("n").alias("s"))
        .agg(F.sum(F.expr("s * (s - 1) div 2")).alias("ty"))
    )
    tot = cells.agg(
        F.sum("n").alias("n_rows"),
        F.expr("CAST(SUM(n) * (SUM(n) - 1) div 2 AS BIGINT)").alias("n0"),
    )
    one = (
        tot.crossJoin(F.broadcast(pairs))
        .crossJoin(F.broadcast(margx))
        .crossJoin(F.broadcast(margy))
    )
    tau = (
        (F.col("nc") - F.col("nd")).cast("double")
        / F.sqrt(
            (F.col("n0") - F.col("tx")).cast("double")
            * (F.col("n0") - F.col("ty")).cast("double")
        )
    )
    return one.select(
        "n_rows", "nc", "nd",
        F.col("tx").alias("tied_x"),
        F.col("ty").alias("tied_y"),
        tau.alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# Calibration report for a scored classifier — per-confidence-bin
# reliability (the ECE decomposition) plus the Brier score, the two
# standard "is this model's probability honest" diagnostics that sit
# beside the isotonic calibrator and AUC in the eval family. The
# "model" is the deterministic length-based confidence the corpus
# tools already use (conf_ppm = min(n_chars,2000)/2000, exact in
# ppm); the label is lang='en'. Everything is exact integer
# arithmetic: per-bin sums of conf_ppm and labels are BIGINTs, the
# reliability gap is a ppm floor, and the per-bin Brier sum runs in
# decimal/int128 before one floor division (sibling pattern to the
# ANOVA/isotonic folds, immune to int64 overflow at any corpus).
# Scale shape: one scan folds map-side into <= 10 bins.
# ---------------------------------------------------------------------------
@query(
    "quality_brier_calibration",
    oracle="""
    WITH scored AS (
      SELECT LEAST(n_chars, 2000) * 500 AS conf_ppm,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ), binned AS (
      SELECT LEAST(conf_ppm // 100000, 9) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(conf_ppm) AS BIGINT) AS sum_conf,
             CAST(SUM(y) AS BIGINT) AS n_pos,
             SUM(CAST((conf_ppm - y * 1000000)
                      * (conf_ppm - y * 1000000) AS HUGEINT)) AS ssq
      FROM scored GROUP BY bin
    )
    SELECT CAST(bin AS BIGINT) AS bin, n_docs,
           CAST(sum_conf // n_docs AS BIGINT) AS mean_conf_ppm,
           CAST(1000000 * n_pos // n_docs AS BIGINT) AS pos_ppm,
           CAST(abs(sum_conf - 1000000 * n_pos) // n_docs AS BIGINT)
             AS gap_ppm,
           CAST(ssq // (CAST(n_docs AS HUGEINT) * 1000000) AS BIGINT)
             AS brier_x1e6
    FROM binned
    """,
)
def quality_brier_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    conf = F.least(F.col("n_chars"), F.lit(2000)) * 500
    y = (F.col("lang") == "en").cast("long")
    scored = docs.select(conf.alias("conf_ppm"), y.alias("y"))
    binned = scored.groupBy(
        F.least(F.expr("conf_ppm div 100000"), F.lit(9).cast("long"))
        .alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("conf_ppm").alias("sum_conf"),
        F.sum("y").alias("n_pos"),
        F.sum(
            (
                (F.col("conf_ppm") - F.col("y") * 1000000)
                * (F.col("conf_ppm") - F.col("y") * 1000000)
            ).cast("decimal(20,0)")
        ).alias("ssq"),  # decimal sum: per-term <= 1e12, immune to n
    )
    d = (F.col("n_docs") * 1000000).cast("decimal(20,0)")
    brier = (
        ((F.col("ssq") - F.pmod(F.col("ssq"), d)) / d).cast("long")
    )
    return binned.select(
        F.col("bin").cast("long").alias("bin"),
        "n_docs",
        F.expr("CAST(sum_conf div n_docs AS BIGINT)")
        .alias("mean_conf_ppm"),
        F.expr("CAST(1000000 * n_pos div n_docs AS BIGINT)")
        .alias("pos_ppm"),
        F.expr(
            "CAST(abs(sum_conf - 1000000 * n_pos) div n_docs AS BIGINT)"
        ).alias("gap_ppm"),
        brier.alias("brier_x1e6"),
    )


# ---------------------------------------------------------------------------
# Corpus drift via total variation distance — the log-free
# distribution-shift monitor (PSI/KL need logs, whose libm rounding
# is not bit-stable across engines; TVD = (1/2)*sum|p-q| is a pure
# rational, so it hashes exactly). Splits each language's corpus
# into two cohorts (even/odd doc_id — the deterministic stand-in for
# crawl A vs crawl B) and reports how far the unigram distributions
# moved: tvd_ppm = floor(1e6 * sum_t |n_a(t)*N_b - n_b(t)*N_a| /
# (2*N_a*N_b)), computed entirely in decimal/int128 (cross products
# reach N_a*N_b ~ 2.5e15 per term at sf0.1 — int64 is already unsafe
# there, the same hazard class the ANOVA fold documents). Scale
# shape: one exploded scan -> vocabulary-sized (lang, token)
# aggregate -> language-sized report; the cohort totals broadcast.
# ---------------------------------------------------------------------------
@query(
    "token_tvd_drift",
    oracle="""
    WITH tok AS (
      SELECT lang, doc_id % 2 AS h, unnest(string_split(text, ' ')) AS t
      FROM documents
    ), counts AS (
      SELECT lang, t,
             CAST(SUM(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS na,
             CAST(SUM(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS nb
      FROM tok GROUP BY lang, t
    ), tots AS (
      SELECT lang, CAST(SUM(na) AS BIGINT) AS ta,
             CAST(SUM(nb) AS BIGINT) AS tb,
             CAST(COUNT(*) AS BIGINT) AS vocab
      FROM counts GROUP BY lang
    ), sums AS (
      SELECT c.lang,
             SUM(abs(CAST(c.na AS HUGEINT) * t.tb
                     - CAST(c.nb AS HUGEINT) * t.ta)) AS s
      FROM counts c JOIN tots t USING (lang)
      GROUP BY c.lang
    )
    SELECT t.lang, t.ta AS n_tokens_a, t.tb AS n_tokens_b, t.vocab,
           CASE WHEN t.ta = 0 OR t.tb = 0 THEN 1000000
                ELSE CAST(1000000 * s.s
                          // (2 * CAST(t.ta AS HUGEINT) * t.tb)
                          AS BIGINT)
           END AS tvd_ppm
    FROM tots t JOIN sums s USING (lang)
    """,
)
def token_tvd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang",
        (F.col("doc_id") % 2).alias("h"),
        F.explode(F.split("text", " ")).alias("t"),
    )
    counts = tok.groupBy("lang", "t").agg(
        F.sum(F.when(F.col("h") == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("h") == 1, 1).otherwise(0)).alias("nb"),
    )
    tots = counts.groupBy("lang").agg(
        F.sum("na").alias("ta"),
        F.sum("nb").alias("tb"),
        F.count(F.lit(1)).alias("vocab"),
    )
    d38 = "decimal(38,0)"
    term = F.abs(
        F.col("na").cast(d38) * F.col("tb").cast(d38)
        - F.col("nb").cast(d38) * F.col("ta").cast(d38)
    )
    sums = (
        counts.join(F.broadcast(tots), "lang")
        .groupBy("lang")
        .agg(F.sum(term).alias("s"))
    )
    den = (F.lit(2).cast(d38) * F.col("ta").cast(d38)
           * F.col("tb").cast(d38))
    num = F.lit(1000000).cast(d38) * F.col("s")
    tvd = F.when(
        (F.col("ta") == 0) | (F.col("tb") == 0),
        F.lit(1000000).cast("long"),
    ).otherwise(((num - F.pmod(num, den)) / den).cast("long"))
    return (
        tots.join(sums, "lang")
        .select(
            "lang",
            F.col("ta").alias("n_tokens_a"),
            F.col("tb").alias("n_tokens_b"),
            "vocab",
            tvd.alias("tvd_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test on daily revenue — the nonparametric
# significance twin of the Theil-Sen slope this registry already
# fits (MK asks "is there a monotone trend at all", Theil-Sen asks
# "how steep"). S = sum over day pairs of sign(y_b - y_a) and the
# tie-corrected variance 18*Var = n(n-1)(2n+5) - sum t(t-1)(2t+5)
# are exact BIGINTs folded over the DAY frame (the same bounded
# days^2 pair join Theil-Sen uses — calendar-bounded, never
# rows^2); z is one IEEE composition (exact int->double conversions,
# one divide-by-18, one correctly-rounded sqrt, one divide).
# ---------------------------------------------------------------------------
@query(
    "mann_kendall_revenue_trend",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS y
      FROM events GROUP BY day
    ), s AS (
      SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
                           WHEN b.y < a.y THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat
      FROM daily a JOIN daily b ON b.day > a.day
    ), ties AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0)
                  AS BIGINT) AS tie_term
      FROM (SELECT y, COUNT(*) AS t FROM daily GROUP BY y
            HAVING COUNT(*) > 1) g
    ), n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily
    )
    SELECT n_days, s_stat,
           CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term
                AS BIGINT) AS var_x18,
           CASE
             WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
               / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5)
                           - tie_term AS DOUBLE) / 18.0)
             WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
               / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5)
                           - tie_term AS DOUBLE) / 18.0)
             ELSE 0.0
           END AS z
    FROM n, s, ties
    """,
)
def mann_kendall_revenue_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("y")
        )
        .localCheckpoint(eager=True)  # day frame: 3 readers
    )
    a = daily.select(F.col("day").alias("da"), F.col("y").alias("ya"))
    b = daily.select(F.col("day").alias("db"), F.col("y").alias("yb"))
    s = a.join(b, F.col("db") > F.col("da")).agg(
        F.sum(
            F.when(F.col("yb") > F.col("ya"), 1)
            .when(F.col("yb") < F.col("ya"), -1)
            .otherwise(0)
        ).alias("s_stat")
    )
    ties = (
        daily.groupBy("y").agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0).cast("long"),
            ).alias("tie_term")
        )
    )
    n = daily.agg(F.count(F.lit(1)).alias("n_days"))
    one = n.crossJoin(F.broadcast(s)).crossJoin(F.broadcast(ties))
    var_x18 = (
        F.col("n_days") * (F.col("n_days") - 1)
        * (2 * F.col("n_days") + 5)
        - F.col("tie_term")
    )
    sd = F.sqrt(var_x18.cast("double") / 18.0)
    z = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1).cast("double") / sd,
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1).cast("double") / sd,
        )
        .otherwise(F.lit(0.0))
    )
    return one.select(
        "n_days", "s_stat",
        var_x18.cast("long").alias("var_x18"),
        z.alias("z"),
    )


# ---------------------------------------------------------------------------
# Per-user inter-arrival burstiness (Goh & Barabasi 2008): B =
# (sigma - mu)/(sigma + mu) over the user's gap distribution — the
# event-cadence profiler that separates machine-regular actors
# (B -> -1) from bursty humans (B -> +1), beside the streak/
# diversity/skew per-user profilers. Gaps are exact integer seconds
# from the totally-ordered (ts, event_id) per-user sequence; the
# moment sums run in decimal (sum of gap^2 exceeds int64 for a user
# with ~10k two-year gaps); B is one IEEE composition using the
# n-scaled identity B = (sqrt(n*s2 - s1^2) - s1)/(sqrt(...) + s1),
# so only exact integers convert to double (VARCHAR-routed on the
# oracle side — the int128 double-rounding contract). Scale shape:
# one user-partitioned window + one user aggregate, co-partitioned
# on the same key; output is user-sized.
# ---------------------------------------------------------------------------
@query(
    "user_interarrival_burstiness",
    oracle=f"""
    WITH g AS (
      SELECT user_id,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER
                (PARTITION BY user_id ORDER BY ts, event_id))
               // 1000000 AS gap_s
      FROM events
    ), m AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_gaps,
             CAST(SUM(gap_s) AS BIGINT) AS s1,
             SUM(CAST(gap_s AS HUGEINT) * gap_s) AS s2
      FROM g WHERE gap_s IS NOT NULL
      GROUP BY user_id HAVING COUNT(*) >= 2
    )
    SELECT user_id, n_gaps,
           CAST(s1 // n_gaps AS BIGINT) AS mean_gap_s,
           (sqrt({_duck_dec_double('n_gaps * s2 - CAST(s1 AS HUGEINT) * s1')})
            - CAST(s1 AS DOUBLE))
           / (sqrt({_duck_dec_double('n_gaps * s2 - CAST(s1 AS HUGEINT) * s1')})
              + CAST(s1 AS DOUBLE)) AS burstiness
    FROM m
    """,
)
def user_interarrival_burstiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # epoch_us is strictly monotone in ts, so (ts_us, event_id) is
    # the same total order the oracle's (ts, event_id) gives.
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.expr(
        "CAST((ts_us - lag_us) div 1000000 AS BIGINT)"
    )
    g = (
        ev.select(
            "user_id",
            _epoch_us(F.col("ts")).alias("ts_us"),
            "event_id",
        )
        .withColumn("lag_us", F.lag("ts_us").over(w))
        .select("user_id", gap.alias("gap_s"))
        .filter(F.col("gap_s").isNotNull())
    )
    d38 = "decimal(38,0)"
    m = (
        g.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("gap_s").alias("s1"),
            F.sum(
                (F.col("gap_s") * F.col("gap_s")).cast("decimal(31,0)")
            ).alias("s2"),
        )
        .filter(F.col("n_gaps") >= 2)
    )
    vd = _dec_double(
        (
            F.col("n_gaps").cast(d38) * F.col("s2")
            - F.col("s1").cast(d38) * F.col("s1").cast(d38)
        ).cast(d38)
    )
    s1d = F.col("s1").cast("double")
    return m.select(
        "user_id",
        "n_gaps",
        F.expr("CAST(s1 div n_gaps AS BIGINT)").alias("mean_gap_s"),
        ((F.sqrt(vd) - s1d) / (F.sqrt(vd) + s1d)).alias("burstiness"),
    )


# ---------------------------------------------------------------------------
# Herfindahl–Hirschman concentration of customer revenue within each
# nation — the market-concentration statistic next to the Pareto and
# Gini lanes. Exactly rational: HHI = sum(share_i^2) =
# sum(r_i^2) / T^2 with r_i = per-customer spend cents and T = the
# nation total, emitted as floor-scaled ppm with the exactly-
# divisible identity (pmod subtraction), every step DECIMAL(38,0)/
# HUGEINT integer — no per-share float ever exists. Shape: one
# customer-keyed aggregate (map-side combinable), one nation-keyed
# fold over customer rows, nation dimension broadcast; output is
# nation-sized. At 100x the only growing stage is the two keyed
# aggregates — shares never materialize individually.
# ---------------------------------------------------------------------------
@query(
    "nation_revenue_hhi",
    oracle="""
    WITH r AS (
      SELECT c.c_custkey, c.c_nationkey,
             SUM(CAST(CAST(o.o_totalprice AS DECIMAL(9,2)) * 100
                      AS BIGINT)) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_nationkey
    ), agg AS (
      SELECT c_nationkey, COUNT(*) AS n_customers,
             SUM(CAST(cents AS HUGEINT)) AS t,
             SUM(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT))
               AS sq
      FROM r GROUP BY c_nationkey
    )
    SELECT n.n_name AS nation,
           CAST(n_customers AS BIGINT) AS n_customers,
           CAST(t AS BIGINT) AS total_cents,
           CAST((1000000 * sq
                 - ((1000000 * sq % (t * t)) + (t * t)) % (t * t))
                // (t * t) AS BIGINT) AS hhi_ppm
    FROM agg JOIN nation n ON agg.c_nationkey = n.n_nationkey
    """,
)
def nation_revenue_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d38 = "decimal(38,0)"
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    cents = (
        F.col("o_totalprice").cast("decimal(9,2)") * 100
    ).cast("long")
    r = (
        orders.join(
            cust.select("c_custkey", "c_nationkey"),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.sum(cents).alias("cents"))
    )
    agg = r.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("cents").cast(d38)).cast(d38).alias("t"),
        F.sum(F.col("cents").cast(d38) * F.col("cents").cast(d38))
        .cast(d38)
        .alias("sq"),
    )
    t2 = F.col("t") * F.col("t")
    num = (F.lit(1000000).cast(d38) * F.col("sq")).cast(d38)
    return (
        agg.join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            agg.c_nationkey == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.col("n_customers").cast("long").alias("n_customers"),
            F.col("t").cast("long").alias("total_cents"),
            ((num - F.pmod(num, t2)) / t2).cast(d38).cast("long")
            .alias("hhi_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Winsorized mean of order value per priority — the outlier-robust
# location statistic next to the trimmed mean and MAD lanes: values
# are CLAMPED to the exact per-group [p5, p95] (PERCENTILE_DISC
# lower-discrete convention, rank ceil(q*n)) instead of dropped.
# Exact integer contract: boundaries come from a cumulative count
# over the (priority, cents) VALUE HISTOGRAM — a domain-bounded frame
# (distinct order-total cents are bounded by the price domain, not by
# row count, so the partitioned flat window is 100x-safe) — and the
# winsorized mean is emitted as floored cents via the exactly-
# divisible identity. No value-level window, no doubles anywhere.
# Shape: one (priority, cents) aggregate, one histogram window, one
# broadcast of the 5-row threshold table back onto the histogram.
# ---------------------------------------------------------------------------
@query(
    "winsorized_mean_by_priority",
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS prio,
             CAST(CAST(o_totalprice AS DECIMAL(9,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ), h AS (
      SELECT prio, cents, COUNT(*) AS c FROM v GROUP BY prio, cents
    ), cum AS (
      SELECT prio, cents, c,
             SUM(c) OVER (PARTITION BY prio ORDER BY cents) AS cm,
             SUM(c) OVER (PARTITION BY prio) AS n
      FROM h
    ), thr AS (
      SELECT prio, MAX(n) AS n,
             MIN(CASE WHEN cm >= (n + 19) // 20 THEN cents END)
               AS lo_cents,
             MIN(CASE WHEN cm >= (19 * n + 19) // 20 THEN cents END)
               AS hi_cents
      FROM cum GROUP BY prio
    ), s AS (
      SELECT h.prio, t.n, t.lo_cents, t.hi_cents,
             SUM(CAST(LEAST(GREATEST(h.cents, t.lo_cents),
                            t.hi_cents) AS HUGEINT) * h.c) AS sc
      FROM h JOIN thr t ON h.prio = t.prio
      GROUP BY h.prio, t.n, t.lo_cents, t.hi_cents
    )
    SELECT prio, CAST(n AS BIGINT) AS n_orders,
           CAST(lo_cents AS BIGINT) AS lo_cents,
           CAST(hi_cents AS BIGINT) AS hi_cents,
           CAST((sc - ((sc % n) + n) % n) // n AS BIGINT)
             AS winsorized_mean_cents
    FROM s
    """,
)
def winsorized_mean_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d38 = "decimal(38,0)"
    cents = (
        F.col("o_totalprice").cast("decimal(9,2)") * 100
    ).cast("long")
    h = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderpriority").alias("prio"), cents.alias("v"))
        .groupBy("prio", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_cum = Window.partitionBy("prio").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )  # domain-bounded histogram frame (distinct cents, not rows)
    w_all = Window.partitionBy("prio")
    cum = h.withColumn("cm", F.sum("c").over(w_cum)).withColumn(
        "n", F.sum("c").over(w_all)
    )
    r05 = F.expr("(n + 19) div 20")
    r95 = F.expr("(19 * n + 19) div 20")
    thr = cum.groupBy("prio").agg(
        F.max("n").alias("n"),
        F.min(F.when(F.col("cm") >= r05, F.col("v"))).alias("lo_cents"),
        F.min(F.when(F.col("cm") >= r95, F.col("v"))).alias("hi_cents"),
    )
    clamped = F.least(
        F.greatest(F.col("v"), F.col("lo_cents")), F.col("hi_cents")
    ).cast(d38)
    s = (
        h.join(F.broadcast(thr), "prio")
        .groupBy("prio", "n", "lo_cents", "hi_cents")
        .agg(F.sum(clamped * F.col("c").cast(d38)).cast(d38).alias("sc"))
    )
    nn = F.col("n").cast(d38)
    return s.select(
        "prio",
        F.col("n").cast("long").alias("n_orders"),
        F.col("lo_cents").cast("long").alias("lo_cents"),
        F.col("hi_cents").cast("long").alias("hi_cents"),
        ((F.col("sc") - F.pmod(F.col("sc"), nn)) / nn)
        .cast(d38)
        .cast("long")
        .alias("winsorized_mean_cents"),
    )


# ---------------------------------------------------------------------------
# Gini-impurity information gain of each categorical lineitem feature
# against the returned-flag label — the decision-tree split-quality
# ranking as a feature-prep operator (the house rational-arithmetic
# sibling of entropy gain, which would drag libm logs into the
# result; same discipline as user_event_diversity's Gini–Simpson).
# Exact contract: parent impurity ppm = floor(1e6*(N^2-P^2-Q^2)/N^2);
# each value's weighted child impurity is floored to ppm
# INDIVIDUALLY — floor(1e6*(n_v^2-p_v^2-q_v^2)/(N*n_v)) — and summed,
# so both engines perform the identical floor sequence (the summed
# child ppm is within #values ppm of the true rational, and the
# contract IS the floored sum). Shape: one melted stack() scan
# (adding features never adds scans), one (feature, value) aggregate
# (map-side combinable), one feature-sized fold — value vocabularies
# are schema-bounded, so every post-scan frame is tiny at any SF.
# ---------------------------------------------------------------------------
@query(
    "gini_gain_feature_ranking",
    oracle="""
    WITH m AS (
      SELECT f, v, CAST(l_returnflag = 'R' AS INT) AS y
      FROM lineitem,
      LATERAL (VALUES
        ('linestatus', l_linestatus),
        ('ship_month', CAST(MONTH(l_shipdate) AS VARCHAR)),
        ('quantity', CAST(CAST(l_quantity AS INT) AS VARCHAR)),
        ('disc_pct', CAST(CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                               AS INT) AS VARCHAR))) AS t(f, v)
    ), c AS (
      SELECT f, v, CAST(COUNT(*) AS HUGEINT) AS n_v,
             CAST(SUM(y) AS HUGEINT) AS p_v
      FROM m GROUP BY f, v
    ), tot AS (
      SELECT f, SUM(n_v) AS n, SUM(p_v) AS p FROM c GROUP BY f
    ), child AS (
      SELECT c.f, COUNT(*) AS n_values,
             SUM((1000000 * (c.n_v * c.n_v - c.p_v * c.p_v
                             - (c.n_v - c.p_v) * (c.n_v - c.p_v)))
                 // (t.n * c.n_v)) AS child_ppm
      FROM c JOIN tot t ON c.f = t.f
      GROUP BY c.f
    )
    SELECT t.f AS feature, CAST(n_values AS BIGINT) AS n_values,
           CAST((1000000 * (t.n * t.n - t.p * t.p
                            - (t.n - t.p) * (t.n - t.p)))
                // (t.n * t.n) AS BIGINT) AS parent_gini_ppm,
           CAST(child_ppm AS BIGINT) AS child_gini_ppm,
           CAST((1000000 * (t.n * t.n - t.p * t.p
                            - (t.n - t.p) * (t.n - t.p)))
                // (t.n * t.n) - child_ppm AS BIGINT) AS gain_ppm
    FROM tot t JOIN child ON t.f = child.f
    """,
)
def gini_gain_feature_ranking(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d38 = "decimal(38,0)"
    m = load_table(spark, sf_dir, "lineitem").select(
        F.expr(
            "stack(4, 'linestatus', l_linestatus,"
            " 'ship_month', CAST(MONTH(l_shipdate) AS STRING),"
            " 'quantity', CAST(CAST(l_quantity AS INT) AS STRING),"
            " 'disc_pct', CAST(CAST(CAST(l_discount AS DECIMAL(4,2))"
            " * 100 AS INT) AS STRING)) AS (f, v)"
        ),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    c = m.groupBy("f", "v").agg(
        F.count(F.lit(1)).cast(d38).alias("n_v"),
        F.sum("y").cast(d38).alias("p_v"),
    ).localCheckpoint(eager=True)  # vocabulary-sized; three
    # consumers (tot, child, output join) share ONE lineitem pass
    tot = c.groupBy("f").agg(
        F.sum("n_v").cast(d38).alias("n"),
        F.sum("p_v").cast(d38).alias("p"),
    )
    q_v = F.col("n_v") - F.col("p_v")
    child_num = (
        F.lit(1000000).cast(d38)
        * (
            F.col("n_v") * F.col("n_v")
            - F.col("p_v") * F.col("p_v")
            - q_v * q_v
        )
    ).cast(d38)
    child_den = (F.col("n") * F.col("n_v")).cast(d38)
    child = (
        c.join(F.broadcast(tot), "f")
        .select(
            "f",
            ((child_num - F.pmod(child_num, child_den)) / child_den)
            .cast(d38)
            .alias("ppm_v"),
        )
        .groupBy("f")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.sum("ppm_v").cast(d38).alias("child_ppm"),
        )
    )
    qq = F.col("n") - F.col("p")
    par_num = (
        F.lit(1000000).cast(d38)
        * (
            F.col("n") * F.col("n")
            - F.col("p") * F.col("p")
            - qq * qq
        )
    ).cast(d38)
    par_den = (F.col("n") * F.col("n")).cast(d38)
    parent_ppm = (
        (par_num - F.pmod(par_num, par_den)) / par_den
    ).cast(d38)
    return (
        tot.join(child, "f")
        .select(
            F.col("f").alias("feature"),
            F.col("n_values").cast("long").alias("n_values"),
            parent_ppm.cast("long").alias("parent_gini_ppm"),
            F.col("child_ppm").cast("long").alias("child_gini_ppm"),
            (parent_ppm - F.col("child_ppm"))
            .cast(d38)
            .cast("long")
            .alias("gain_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation — recency / frequency / monetary quintile
# scores, the classic commerce segmentation operator. Exact contract:
# each dimension's quintile boundaries are PERCENTILE_DISC values
# (rank ceil(k*n/5), 1-indexed, lower-discrete) over the CUSTOMER
# population, and score_d = 1 + #(boundaries < value) — ties sit in
# the lower bucket, so scores are pure integer comparisons against
# four broadcast boundary values per dimension (R scores follow the
# same raw convention: R5 = longest-inactive). Shape: one
# customer-keyed aggregate; recency (bounded by the corpus day span)
# and frequency (bounded by per-customer order counts) fold over
# DOMAIN-BOUNDED histogram windows, while monetary — whose distinct
# spend sums approach customer cardinality — runs through the
# bucketed two-level cumulative (_bucketed_cumsum), so no
# unpartitioned value-level window exists at any scale; the 12
# boundary values broadcast back onto customers, never an ntile.
# Output is the <=125-row segment grid.
# ---------------------------------------------------------------------------
@query(
    "rfm_customer_segments",
    oracle="""
    WITH anchor AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS ad
                    FROM orders),
    cust AS (
      SELECT o_custkey,
             DATE_DIFF('day', MAX(CAST(o_orderdate AS DATE)),
                       (SELECT ad FROM anchor)) AS r,
             COUNT(*) AS f,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(9,2)) * 100
                      AS BIGINT)) AS m
      FROM orders GROUP BY o_custkey
    ), n AS (SELECT COUNT(*) AS n FROM cust),
    b AS (
      SELECT d, k, MIN(v) AS b FROM (
        SELECT d, v, SUM(c) OVER (PARTITION BY d ORDER BY v) AS cm
        FROM (
          SELECT d, v, COUNT(*) AS c FROM (
            SELECT 'r' AS d, r AS v FROM cust
            UNION ALL SELECT 'f', f FROM cust
            UNION ALL SELECT 'm', m FROM cust
          ) GROUP BY d, v
        )
      ), (SELECT UNNEST([1, 2, 3, 4]) AS k), n
      WHERE cm >= (k * n.n + 4) // 5
      GROUP BY d, k
    ), bp AS (
      SELECT
        MAX(CASE WHEN d = 'r' AND k = 1 THEN b END) AS r1,
        MAX(CASE WHEN d = 'r' AND k = 2 THEN b END) AS r2,
        MAX(CASE WHEN d = 'r' AND k = 3 THEN b END) AS r3,
        MAX(CASE WHEN d = 'r' AND k = 4 THEN b END) AS r4,
        MAX(CASE WHEN d = 'f' AND k = 1 THEN b END) AS f1,
        MAX(CASE WHEN d = 'f' AND k = 2 THEN b END) AS f2,
        MAX(CASE WHEN d = 'f' AND k = 3 THEN b END) AS f3,
        MAX(CASE WHEN d = 'f' AND k = 4 THEN b END) AS f4,
        MAX(CASE WHEN d = 'm' AND k = 1 THEN b END) AS m1,
        MAX(CASE WHEN d = 'm' AND k = 2 THEN b END) AS m2,
        MAX(CASE WHEN d = 'm' AND k = 3 THEN b END) AS m3,
        MAX(CASE WHEN d = 'm' AND k = 4 THEN b END) AS m4
      FROM b
    )
    SELECT
      CAST(1 + CAST(r > r1 AS INT) + CAST(r > r2 AS INT)
             + CAST(r > r3 AS INT) + CAST(r > r4 AS INT) AS INT)
        AS r_score,
      CAST(1 + CAST(f > f1 AS INT) + CAST(f > f2 AS INT)
             + CAST(f > f3 AS INT) + CAST(f > f4 AS INT) AS INT)
        AS f_score,
      CAST(1 + CAST(m > m1 AS INT) + CAST(m > m2 AS INT)
             + CAST(m > m3 AS INT) + CAST(m > m4 AS INT) AS INT)
        AS m_score,
      CAST(COUNT(*) AS BIGINT) AS n_customers,
      CAST(SUM(m) AS BIGINT) AS total_m_cents
    FROM cust, bp
    GROUP BY 1, 2, 3
    """,
)
def rfm_customer_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = (
        F.col("o_totalprice").cast("decimal(9,2)") * 100
    ).cast("long")
    anchor = orders.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("ad")
    )
    cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
            F.count(F.lit(1)).alias("f"),
            F.sum(cents).alias("m"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff(F.col("ad"), F.col("last_d")).cast("long")
            .alias("r"),
            F.col("f").cast("long").alias("f"),
            "m",
        )
        .localCheckpoint(eager=True)  # three consumers, one orders pass
    )
    n = cust.count()  # boundary ranks are plan constants (like the
    # two-pass quantile operator's driver-side histogram resolution)
    ranks = [(k * n + 4) // 5 for k in (1, 2, 3, 4)]

    def boundaries(dim: str, bucketed: bool) -> DataFrame:
        hist = cust.groupBy(F.col(dim).alias("v")).agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("c")
        )
        if bucketed:
            cum = _bucketed_cumsum(
                hist, value_col="v", weight_col="c",
                out_col="cm", inclusive=True,
            )
        else:
            w = Window.orderBy("v").rowsBetween(
                Window.unboundedPreceding, 0
            )  # domain-bounded histogram frame
            cum = hist.withColumn("cm", F.sum("c").over(w))
        return cum.agg(*[
            F.min(F.when(F.col("cm") >= rk, F.col("v"))).alias(
                f"{dim}{i + 1}"
            )
            for i, rk in enumerate(ranks)
        ])
    bp = (
        boundaries("r", bucketed=False)
        .crossJoin(boundaries("f", bucketed=False))
        .crossJoin(boundaries("m", bucketed=True))
    )

    def score(dim: str) -> "F.Column":
        s = F.lit(1)
        for i in (1, 2, 3, 4):
            s = s + (F.col(dim) > F.col(f"{dim}{i}")).cast("int")
        return s.cast("int").alias(f"{dim}_score")

    return (
        cust.crossJoin(F.broadcast(bp))
        .groupBy(score("r"), score("f"), score("m"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("m").alias("total_m_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Lorenz curve of customer spend — the distributional complement of
# customer_spend_gini: at each spend decile boundary (PERCENTILE_DISC
# rank ceil(d*n/10), the RFM convention), report the boundary value,
# how many customers sit at or below it, and their exact cumulative
# share of total spend in floor-scaled ppm. Tie groups are never
# split (the point reported is the discrete-CDF step at the boundary
# VALUE), so no per-row ordering exists anywhere. Shape: one
# customer-keyed aggregate; both cumulative folds (count positions
# and spend mass) run over the distinct-spend frame through the
# bucketed two-level cumulative — distinct spend sums approach
# customer cardinality, exactly the frame _bucketed_cumsum exists
# for; the 10-row boundary table comes out of one aggregate.
# ---------------------------------------------------------------------------
@query(
    "customer_spend_lorenz",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(9,2)) * 100
                      AS BIGINT)) AS m
      FROM orders GROUP BY o_custkey
    ), h AS (
      SELECT m AS v, COUNT(*) AS c,
             SUM(m) AS s
      FROM cust GROUP BY m
    ), cum AS (
      SELECT v,
             SUM(c) OVER (ORDER BY v) AS cm,
             SUM(CAST(s AS HUGEINT)) OVER (ORDER BY v) AS sm
      FROM h
    ), tot AS (
      SELECT COUNT(*) AS n, SUM(CAST(m AS HUGEINT)) AS st FROM cust
    )
    SELECT d,
           CAST(MIN(v) AS BIGINT) AS boundary_spend_cents,
           CAST(MIN(cm) AS BIGINT) AS n_cum_customers,
           CAST(MIN((1000000 * sm) // st) AS BIGINT) AS cum_spend_ppm
    FROM cum, tot, (SELECT UNNEST([1,2,3,4,5,6,7,8,9,10]) AS d)
    WHERE cm >= (d * n + 9) // 10
    GROUP BY d
    """,
)
def customer_spend_lorenz(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d38 = "decimal(38,0)"
    cents = (
        F.col("o_totalprice").cast("decimal(9,2)") * 100
    ).cast("long")
    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(cents).alias("m"))
    )
    h = cust.groupBy(F.col("m").alias("v")).agg(
        F.count(F.lit(1)).cast(d38).alias("c"),
        F.sum("m").cast(d38).alias("s"),
    ).localCheckpoint(eager=True)  # distinct-spend frame feeds two
    # cumulative folds and the totals without re-aggregating orders
    cm = _bucketed_cumsum(
        h, value_col="v", weight_col="c", out_col="cm",
        inclusive=True,
    )
    sm = _bucketed_cumsum(
        h.select("v", "s"), value_col="v", weight_col="s",
        out_col="sm", inclusive=True,
    ).select("v", "sm")
    cum = cm.join(sm, "v")
    tot = h.agg(
        F.sum("c").cast(d38).alias("n"), F.sum("s").cast(d38).alias("st")
    )
    deciles = spark.range(1, 11).select(F.col("id").cast("int").alias("d"))
    num = (F.lit(1000000).cast(d38) * F.col("sm")).cast(d38)
    share = ((num - F.pmod(num, F.col("st"))) / F.col("st")).cast(d38)
    rank = F.expr("CAST((d * n + 9) div 10 AS decimal(38,0))")
    return (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(deciles))
        .filter(F.col("cm") >= rank)
        .groupBy("d")
        .agg(
            F.min("v").alias("boundary_spend_cents"),
            F.min(F.col("cm").cast("long")).alias("n_cum_customers"),
            F.min(share.cast("long")).alias("cum_spend_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Per-brand discount elasticity of demand — the GROUPED simple-OLS
# slope (quantity on discount percent), the grouped sibling of the
# global OLS lanes: slope_b = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) per
# brand, every moment an exact DECIMAL(38,0)/HUGEINT integer and the
# SIGNED ppm quotient floored through the exactly-divisible pmod
# identity (never a bare signed integer division, whose rounding
# direction differs between engines). Shape: one broadcast of the
# two-column part dimension, one brand-keyed moments aggregate
# (map-side combinable), brand-sized output — the corpus contributes
# exactly one scan at any SF.
# ---------------------------------------------------------------------------
@query(
    "brand_discount_elasticity",
    oracle="""
    WITH li AS (
      SELECT p.p_brand AS brand,
             CAST(CAST(l.l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)
               AS x,
             CAST(l.l_quantity AS BIGINT) AS y
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), m AS (
      SELECT brand, CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(x * y) AS HUGEINT) AS sxy,
             CAST(SUM(x * x) AS HUGEINT) AS sxx
      FROM li GROUP BY brand
    )
    SELECT brand, CAST(n AS BIGINT) AS n_items,
           CAST((1000000 * (n * sxy - sx * sy)
                 - ((1000000 * (n * sxy - sx * sy)
                     % (n * sxx - sx * sx))
                    + (n * sxx - sx * sx)) % (n * sxx - sx * sx))
                // (n * sxx - sx * sx) AS BIGINT) AS slope_ppm
    FROM m
    WHERE n * sxx - sx * sx > 0
    """,
)
def brand_discount_elasticity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d38 = "decimal(38,0)"
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand"
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_partkey",
            (F.col("l_discount").cast("decimal(4,2)") * 100)
            .cast("long")
            .alias("x"),
            F.col("l_quantity").cast("long").alias("y"),
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    )
    m = li.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("y").cast(d38).alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(d38).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(d38).alias("sxx"),
    )
    num = (
        F.lit(1000000).cast(d38)
        * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
    ).cast(d38)
    den = (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast(d38)
    return (
        m.filter(den > 0)
        .select(
            "brand",
            F.col("n").cast("long").alias("n_items"),
            ((num - F.pmod(num, den)) / den).cast(d38).cast("long")
            .alias("slope_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Lexical diversity per document source — type-token ratio (distinct
# vocabulary over running tokens, the corpus-health statistic next to
# the vocab and token-drift lanes), exactly rational in floor-scaled
# ppm. Tokenization is the engine's whitespace convention (identical
# split semantics on both engines, as in the LM lanes). Shape: one
# documents scan exploding to (source, token), one distinct-agg
# (map-side partial on the (source, token) key), one source-sized
# fold — token volume grows with data, vocabulary saturates, so the
# TTR itself is the operator a 100-TB curation pipeline watches for
# crawl duplication (TTR collapsing toward 0 = token growth without
# vocabulary growth).
# ---------------------------------------------------------------------------
@query(
    "source_type_token_ratio",
    oracle="""
    WITH toks AS (
      SELECT source, UNNEST(string_split(text, ' ')) AS w
      FROM documents
    ), per AS (
      SELECT source, w, COUNT(*) AS c FROM toks GROUP BY source, w
    ), d AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    )
    SELECT p.source, CAST(d.n_docs AS BIGINT) AS n_docs,
           CAST(SUM(p.c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST((1000000 * CAST(COUNT(*) AS HUGEINT)
                 - ((1000000 * CAST(COUNT(*) AS HUGEINT)
                     % SUM(CAST(p.c AS HUGEINT)))
                    + SUM(CAST(p.c AS HUGEINT)))
                   % SUM(CAST(p.c AS HUGEINT)))
                // SUM(CAST(p.c AS HUGEINT)) AS BIGINT) AS ttr_ppm
    FROM per p JOIN d ON p.source = d.source
    GROUP BY p.source, d.n_docs
    """,
)
def source_type_token_ratio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d38 = "decimal(38,0)"
    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.select(
            "source",
            F.explode(F.split(F.col("text"), " ")).alias("w"),
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    d = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    agg = per.groupBy("source").agg(
        F.sum("c").cast(d38).alias("n_tokens"),
        F.count(F.lit(1)).cast(d38).alias("n_distinct"),
    )
    num = (F.lit(1000000).cast(d38) * F.col("n_distinct")).cast(d38)
    den = F.col("n_tokens")
    return agg.join(F.broadcast(d), "source").select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        ((num - F.pmod(num, den)) / den).cast(d38).cast("long")
        .alias("ttr_ppm"),
    )


# ===========================================================================
# sf1 fixed-probe contracts (round 11). The brute-force ground truths
# for the document near-dup family are all-pairs BY DESIGN; at sf1's
# 50k documents that is ~1.25e9 list intersections — measured ~100x
# the sf0.1 oracle, i.e. tens of hours in one DuckDB process. These
# probe queries run the SAME production LSH/banding lanes end-to-end
# and restrict only the VERIFIED SLICE to a deterministic arithmetic
# probe set (doc_id % 389 = 31 — chosen to intersect the planted
# near-dup graph at every corpus SF), so the restricted oracle is
# probe x corpus instead of corpus x corpus and stays tractable at
# sf1 (~13M list ops, the cost the sf0.1 full sweep already pays).
# Full-oracle parity for the unrestricted lanes stands at sf0.1 in
# the ROBUSTNESS_SF01 artifacts; these contracts extend hash-grade
# evidence for the same plans to sf1.
# ===========================================================================

_PROBE_MOD = 389
_PROBE_RES = 31

# Single source of truth: the Spark-side probe filter and every oracle
# branch interpolate _PROBE_MOD/_PROBE_RES, so editing the constants
# cannot desynchronize the oracle from the verified slice.
_PROBE_SH_SQL = f"""
    w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS MATERIALIZED (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(ws) - 1),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
        FROM w{{guard}}),
    pr AS MATERIALIZED (
        SELECT * FROM sh
        WHERE doc_id % {_PROBE_MOD} = {_PROBE_RES})
"""

# The second UNION branch of each pair-probe oracle excludes probe-a
# rows already covered by the first branch.
_PROBE_NOT_A_SQL = f"a.doc_id % {_PROBE_MOD} <> {_PROBE_RES}"


def _probe_pair_filter(df: DataFrame) -> DataFrame:
    """Restrict a canonical (doc_a < doc_b) pair frame to pairs that
    touch the probe set. Runs AFTER the full production pipeline: the
    whole LSH lane executes on the complete corpus; only the verified
    slice narrows."""
    return df.filter(
        (F.col("doc_a") % _PROBE_MOD == _PROBE_RES)
        | (F.col("doc_b") % _PROBE_MOD == _PROBE_RES)
    )


@query(
    "near_dup_minhash_probe",
    oracle=f"""
    WITH {_PROBE_SH_SQL.format(guard='')},
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.s, b.s)) AS n_common,
             -- |A u B| from sizes: both lists are distinct, so this
             -- equals len(list_distinct(a.s || b.s)) without building
             -- the merged list per pair
             len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
               AS n_union
      FROM pr a JOIN sh b ON a.doc_id < b.doc_id
      UNION ALL
      SELECT a.doc_id, b.doc_id,
             len(list_intersect(a.s, b.s)),
             len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
      FROM sh a JOIN pr b
        ON a.doc_id < b.doc_id AND {_PROBE_NOT_A_SQL}
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS INT) AS n_common,
           CAST(n_union AS INT) AS n_union,
           CASE WHEN n_union > 0
                THEN CAST(n_common AS DOUBLE) / n_union
                ELSE 0.0 END AS jaccard
    FROM p
    WHERE n_union > 0 AND CAST(n_common AS DOUBLE) / n_union >= 0.8
    """,
)
def near_dup_minhash_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sf1 probe contract for near_dup_minhash_pairs: the full banded
    MinHash-LSH + exact-verify lane runs on the whole corpus; the
    hash-verified slice is the pairs touching doc_id % 389 = 31."""
    docs = load_table(spark, sf_dir, "documents")
    return _probe_pair_filter(
        llm_dedup.minhash_near_dup_pairs(docs, threshold=0.8)
    )


@query(
    "near_dup_simhash_probe",
    oracle=f"""
    WITH sh AS MATERIALIZED (
        SELECT doc_id, {llm_text.duck_simhash60('text')} AS sh
        FROM documents),
    pr AS MATERIALIZED (
        SELECT * FROM sh
        WHERE doc_id % {_PROBE_MOD} = {_PROBE_RES})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
    FROM pr a JOIN sh b
      ON a.doc_id < b.doc_id AND bit_count(xor(a.sh, b.sh)) <= 3
    UNION ALL
    SELECT a.doc_id, b.doc_id, CAST(bit_count(xor(a.sh, b.sh)) AS INT)
    FROM sh a JOIN pr b
      ON a.doc_id < b.doc_id AND {_PROBE_NOT_A_SQL}
     AND bit_count(xor(a.sh, b.sh)) <= 3
    """,
)
def near_dup_simhash_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sf1 probe contract for near_dup_simhash_pairs (chunk banding is
    exact for Hamming <= 3 by pigeonhole, so the probe slice must
    match the restricted brute force bit-for-bit)."""
    docs = load_table(spark, sf_dir, "documents")
    return _probe_pair_filter(
        llm_dedup.simhash_near_dup_pairs(docs, max_hamming=3)
    )


@query(
    "near_dup_jaccard_probe",
    oracle=f"""
    WITH {_PROBE_SH_SQL.format(guard=chr(10) + '        WHERE len(ws) >= 3')},
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.s, b.s)) AS n_common,
             len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
               AS n_union
      FROM pr a JOIN sh b ON a.doc_id < b.doc_id
      UNION ALL
      SELECT a.doc_id, b.doc_id,
             len(list_intersect(a.s, b.s)),
             len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
      FROM sh a JOIN pr b
        ON a.doc_id < b.doc_id AND {_PROBE_NOT_A_SQL}
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS INT) AS n_common,
           CAST(n_union AS INT) AS n_union,
           CAST(n_common AS DOUBLE) / n_union AS jaccard
    FROM p WHERE CAST(n_common AS DOUBLE) / n_union >= 0.7
    """,
)
def near_dup_jaccard_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sf1 probe contract for near_dup_ngram_jaccard (the exact
    prefix-filtered AllPairs lane at threshold 0.7)."""
    docs = load_table(spark, sf_dir, "documents")
    return _probe_pair_filter(
        llm_dedup.ngram_jaccard_pairs(docs, threshold=0.7)
    )


@query(
    "near_dup_containment_probe",
    oracle=f"""
    WITH {_PROBE_SH_SQL.format(guard=chr(10) + '        WHERE len(ws) >= 3')}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.s, b.s)) AS INT) AS n_common,
           CAST(len(a.s) AS INT) AS n_a,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)
             AS containment
    FROM pr a JOIN sh b ON a.doc_id <> b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)
          >= 0.8
    """,
)
def near_dup_containment_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sf1 probe contract for near_dup_containment_pairs, restricted
    to the DIRECTIONAL slice where the probe doc is the contained
    side (doc_a) — halves the restricted-oracle cost while still
    pinning the asymmetric containment arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    return llm_dedup.ngram_containment_pairs(docs, threshold=0.8).filter(
        F.col("doc_a") % _PROBE_MOD == _PROBE_RES
    )


@query(
    "incremental_near_dup_probe",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents),
    sh AS MATERIALIZED (
           SELECT doc_id,
                  list_distinct(list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
                    AS s
           FROM w),
    -- probe = the daily batch slice THAT IS ALSO in the probe set
    -- (mod 383/residue 70: chosen so the batch slice intersects the
    -- planted near-dup graph at every corpus SF); the corpus-side
    -- index stays FULL SIZE — that is the part whose scale matters
    newb AS (SELECT * FROM sh
             WHERE doc_id % 10 = 0 AND doc_id % 383 = 70),
    corp AS (SELECT * FROM sh WHERE doc_id % 10 <> 0)
    SELECT n.doc_id AS new_doc_id, c.doc_id AS corpus_doc_id,
           CAST(len(list_intersect(n.s, c.s)) AS INT) AS n_common,
           CAST(len(n.s) + len(c.s) - len(list_intersect(n.s, c.s))
                AS INT) AS n_union,
           CAST(len(list_intersect(n.s, c.s)) AS DOUBLE)
             / (len(n.s) + len(c.s) - len(list_intersect(n.s, c.s)))
             AS jaccard
    FROM newb n JOIN corp c ON TRUE
    WHERE len(n.s) + len(c.s) - len(list_intersect(n.s, c.s)) > 0
      AND CAST(len(list_intersect(n.s, c.s)) AS DOUBLE)
          / (len(n.s) + len(c.s) - len(list_intersect(n.s, c.s)))
          >= 0.8
    """,
)
def incremental_near_dup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sf1 probe contract for incremental_near_dup_pairs: the
    persistable band index is still built over the FULL corpus (the
    scale-bearing side); only the incoming batch narrows to the probe
    slice, which is exactly how a spot-check of a daily ingest would
    run in production."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(
        (F.col("doc_id") % 10 == 0) & (F.col("doc_id") % 383 == 70)
    )
    bands, shingles = llm_dedup.minhash_index(corpus)
    return llm_dedup.incremental_near_dup_pairs(
        batch, bands, shingles, threshold=0.8
    )
