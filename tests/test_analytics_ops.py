"""Hand-case semantics pins for the round-5 analytics operators.

The DuckDB oracle gate proves engine-vs-engine equality on corpus
data; these tests pin the SEMANTICS on constructed inputs where the
expected answer is computable by hand — the reference repo's test
style (SURVEY.md §5) applied to the new operators."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F


EV_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, "
    "event_type string, value double, props string"
)


def _ev(spark, rows):
    return spark.createDataFrame(
        [
            (i, datetime.datetime.fromisoformat(ts), uid, et, 0.0, "{}")
            for i, (ts, uid, et) in enumerate(rows)
        ],
        EV_SCHEMA,
    )


def _run(spark, tmp_path, name, ev):
    """Write a one-table corpus and run the registered query on it."""
    import sys

    sys.path.insert(0, "/root/repo")
    from cdk_dynamodb_cdc_spark.queries import QUERIES

    d = str(tmp_path / "corpus")
    ev.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    return QUERIES[name](spark, d)


def test_streaks_split_on_gap_days(spark, tmp_path):
    ev = _ev(
        spark,
        [
            # user 1: days 1,2,3 then 5,6 -> max streak 3, 5 active days
            ("2024-01-01T10:00:00", 1, "view"),
            ("2024-01-02T10:00:00", 1, "view"),
            ("2024-01-02T23:00:00", 1, "click"),  # same day, no effect
            ("2024-01-03T10:00:00", 1, "view"),
            ("2024-01-05T10:00:00", 1, "view"),
            ("2024-01-06T10:00:00", 1, "view"),
            # user 2: one day -> streak 1
            ("2024-01-01T00:00:00", 2, "view"),
        ],
    )
    out = {
        r["user_id"]: (r["max_streak"], r["n_active_days"])
        for r in _run(spark, tmp_path, "user_daily_streaks", ev).collect()
    }
    assert out == {1: (3, 5), 2: (1, 1)}


def test_peak_concurrency_counts_overlap_and_clips_midnight(
    spark, tmp_path
):
    ev = _ev(
        spark,
        [
            # user 1: one session 10:00-10:40 (gap<30min keeps it one)
            ("2024-01-01T10:00:00", 1, "view"),
            ("2024-01-01T10:20:00", 1, "view"),
            ("2024-01-01T10:40:00", 1, "view"),
            # user 2: session 10:30-10:50 overlaps user 1 -> peak 2
            ("2024-01-01T10:30:00", 2, "view"),
            ("2024-01-01T10:50:00", 2, "view"),
            # user 3: session spans midnight Jan 2 23:50 - Jan 3 00:10,
            # alone in both days -> peak 1 on both
            ("2024-01-02T23:50:00", 3, "view"),
            ("2024-01-03T00:10:00", 3, "view"),
        ],
    )
    out = {
        str(r["day"]): r["peak_concurrency"]
        for r in _run(
            spark, tmp_path, "peak_concurrent_sessions", ev
        ).collect()
    }
    assert out == {"2024-01-01": 2, "2024-01-02": 1, "2024-01-03": 1}


def test_pagerank_two_node_cycle_fixed_point_values(spark, tmp_path):
    # a -> b -> a ... : symmetric 2-cycle. Every iteration maps each
    # rank to 0.15/2 + 0.85 * other, and the fixed-point arithmetic is
    # exactly computable: base = (15 * (1e12 div 2)) div 100,
    # contrib = (85 * r_other) div 100 with r levels identical by
    # symmetry, so after any iteration count both ranks are equal and
    # derivable by iterating the integer recurrence by hand.
    ev = _ev(
        spark,
        [
            ("2024-01-01T10:00:00", 1, "a"),
            ("2024-01-01T10:01:00", 1, "b"),
            ("2024-01-01T10:02:00", 1, "a"),
            ("2024-01-01T10:03:00", 1, "b"),
            ("2024-01-01T10:04:00", 1, "a"),
        ],
    )
    out = {
        r["event_type"]: r["rank_scaled"]
        for r in _run(
            spark, tmp_path, "event_type_pagerank", ev
        ).collect()
    }
    base = (15 * (10**12 // 2)) // 100
    r = {"a": 10**12 // 2, "b": 10**12 // 2}
    for _ in range(4):
        # a->b happens twice, b->a twice: each node's single outgoing
        # neighbor gets its full rank ((r * cnt) div tot with cnt==tot)
        r = {
            "a": base + (85 * r["b"]) // 100,
            "b": base + (85 * r["a"]) // 100,
        }
    assert out == r


def test_sliding_distinct_users_window_covers_three_hours(
    spark, tmp_path
):
    ev = _ev(
        spark,
        [
            ("2024-01-01T00:30:00", 1, "view"),  # hour H
            ("2024-01-01T02:30:00", 2, "view"),  # hour H+2
            ("2024-01-01T03:30:00", 1, "view"),  # hour H+3
        ],
    )
    out = {
        r["hour_bucket"]: r["n_users"]
        for r in _run(
            spark, tmp_path, "sliding_distinct_users_3h", ev
        ).collect()
    }
    h = int(
        datetime.datetime(
            2024, 1, 1, tzinfo=datetime.timezone.utc
        ).timestamp()
        // 3600
    )
    # H: only user1. H+2: user1 (from H) + user2 -> 2.
    # H+3: user2 (from H+2) + user1 (fresh) -> 2. H+1 not an observed
    # hour, so no bucket.
    assert out == {h: 1, h + 2: 2, h + 3: 2}


def test_mode_stats_break_count_ties_lexicographically(spark, tmp_path):
    import sys

    sys.path.insert(0, "/root/repo")
    from cdk_dynamodb_cdc_spark.queries import QUERIES

    rows = [
        # status O: URGENT x2, HIGH x2 (tie -> HIGH wins lexically),
        # prices 10, 20, 30, 40 -> lower median 20
        (1, 1, "O", 10.0, datetime.datetime(2024, 1, 1), "HIGH"),
        (2, 1, "O", 20.0, datetime.datetime(2024, 1, 1), "HIGH"),
        (3, 1, "O", 30.0, datetime.datetime(2024, 1, 1), "URGENT"),
        (4, 1, "O", 40.0, datetime.datetime(2024, 1, 1), "URGENT"),
    ]
    d = str(tmp_path / "corpus2")
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, "
        "o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    out = QUERIES["order_priority_mode_stats"](spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["modal_priority"] == "HIGH"
    assert r["mode_count"] == 2
    assert r["median_price"] == 20.0


def test_cms_no_underestimate_and_mergeable(spark):
    from cdk_dynamodb_cdc_spark.functions.sketches import (
        cms_cells,
        cms_estimate,
    )

    rows = [(f"k{i % 7}",) for i in range(200)] + [("hot",)] * 50
    df = spark.createDataFrame(rows, "k string")
    cells = cms_cells(df, "k", depth=3, width=16)
    exact = df.groupBy("k").agg(F.count(F.lit(1)).alias("exact_n"))
    est = cms_estimate(cells, exact, "k", depth=3, width=16)
    got = {r.k: (r.exact_n, r.est_n) for r in est.collect()}
    assert got["hot"][0] == 50
    for exact_n, est_n in got.values():
        assert est_n >= exact_n  # the CMS theorem
    # mergeability: cells(a ++ b) == cellwise sum of cells(a), cells(b)
    half1 = spark.createDataFrame(rows[:100], "k string")
    half2 = spark.createDataFrame(rows[100:], "k string")
    merged = (
        cms_cells(half1, "k", depth=3, width=16)
        .unionByName(cms_cells(half2, "k", depth=3, width=16))
        .groupBy("seed", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    whole = cms_cells(df, "k", depth=3, width=16)
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_cms_estimate_preserves_probe_rows(spark):
    """ADVICE r6 fixes: unseen keys estimate 0 (not dropped), duplicate
    probe rows survive, and probe columns named seed/bucket/p don't
    collide with the sketch internals."""
    from cdk_dynamodb_cdc_spark.functions.sketches import (
        cms_cells,
        cms_estimate,
    )

    df = spark.createDataFrame([("a",)] * 5 + [("b",)] * 3, "k string")
    cells = cms_cells(df, "k", depth=3, width=16)
    # probes: an unseen key, a duplicated probe row, and colliding names
    probes = spark.createDataFrame(
        [("a", 1, 9, "x"), ("a", 1, 9, "x"), ("never-seen", 2, 8, "y")],
        "k string, seed int, bucket int, p string",
    )
    est = cms_estimate(cells, probes, "k", depth=3, width=16)
    rows = est.collect()
    assert len(rows) == 3  # every probe row survives, duplicates intact
    by_k = {}
    for r in rows:
        by_k.setdefault(r.k, []).append(r)
    assert len(by_k["a"]) == 2
    for r in by_k["a"]:
        assert r.est_n >= 5
        assert (r.seed, r.bucket, r.p) == (1, 9, "x")  # probe cols intact
    assert by_k["never-seen"][0].est_n == 0


def test_bloom_no_false_negatives_and_mergeable(spark):
    from cdk_dynamodb_cdc_spark.functions.sketches import (
        bloom_bits,
        bloom_probe,
    )

    keys = [(f"k{i}",) for i in range(100)]
    df = spark.createDataFrame(keys, "k string")
    bits = bloom_bits(df, "k", m_bits=256, k=3)
    # every build key probes true: the no-false-negative theorem
    present = bloom_probe(bits, df, "k", m_bits=256, k=3)
    assert all(r.maybe_present for r in present.collect())
    # absent keys: false positives allowed, never required — just
    # check the sketch can say no at all at this load factor
    absent = spark.createDataFrame(
        [(f"absent{i}",) for i in range(200)], "k string"
    )
    neg = bloom_probe(bits, absent, "k", m_bits=256, k=3)
    rows = neg.collect()
    assert len(rows) == 200  # every probe row survives
    assert any(not r.maybe_present for r in rows)
    # mergeability: bits(a ++ b) == distinct-union of bits(a), bits(b)
    half1 = spark.createDataFrame(keys[:50], "k string")
    half2 = spark.createDataFrame(keys[50:], "k string")
    merged = (
        bloom_bits(half1, "k", m_bits=256, k=3)
        .unionByName(bloom_bits(half2, "k", m_bits=256, k=3))
        .distinct()
    )
    whole = bloom_bits(df, "k", m_bits=256, k=3)
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0
    # probe frames with colliding column names and duplicates survive
    tricky = spark.createDataFrame(
        [("k0", 7, "x"), ("k0", 7, "x")], "k string, pos int, p string"
    )
    out = bloom_probe(bits, tricky, "k", m_bits=256, k=3).collect()
    assert len(out) == 2
    assert all(r.maybe_present and r.pos == 7 and r.p == "x" for r in out)


def test_bloom_contains_column_matches_relational_probe(spark):
    """bloom_contains (packed-literal, map-side) and bloom_probe
    (relational) must agree on every key — same bits, two access
    paths — and members always pass."""
    from cdk_dynamodb_cdc_spark.functions.sketches import (
        bloom_bits,
        bloom_contains,
        bloom_probe,
        bloom_words,
    )

    build = spark.createDataFrame(
        [(f"k{i}",) for i in range(80)], "k string"
    )
    bits = bloom_bits(build, "k", m_bits=512, k=3)
    words = bloom_words(bits, m_bits=512)
    assert len(words) == 8
    probes = spark.createDataFrame(
        [(f"k{i}",) for i in range(80)]
        + [(f"nope{i}",) for i in range(120)],
        "k string",
    )
    col_path = {
        r.k: r.m
        for r in probes.select(
            "k",
            bloom_contains(words, F.col("k"), m_bits=512, k=3).alias("m"),
        ).collect()
    }
    rel_path = {
        r.k: r.maybe_present
        for r in bloom_probe(bits, probes, "k", m_bits=512, k=3).collect()
    }
    assert col_path == rel_path
    assert all(col_path[f"k{i}"] for i in range(80))
    assert not all(col_path[f"nope{i}"] for i in range(120))


def test_hll_registers_mergeable_and_estimate_sane(spark):
    """HLL: register tables merge by MAX (sketch of the union), the
    estimator tracks true cardinality within the theoretical error
    band, and m must be a power of two."""
    import pytest as _pytest

    from cdk_dynamodb_cdc_spark.functions.sketches import (
        hll_estimate,
        hll_registers,
    )

    rows = [(f"u{i}",) for i in range(5000)]
    df = spark.createDataFrame(rows, "k string")
    regs = hll_registers(df, "k")
    [r] = hll_estimate(regs).collect()
    # 1.04/sqrt(256) ~ 6.5% std error; allow 4 sigma
    assert abs(r.estimate - 5000) / 5000 < 0.26
    # mergeability: max-union of split sketches == whole-stream sketch
    half1 = spark.createDataFrame(rows[:2500], "k string")
    half2 = spark.createDataFrame(rows[1500:], "k string")  # overlap too
    merged = (
        hll_registers(half1, "k")
        .unionByName(hll_registers(half2, "k"))
        .groupBy("reg")
        .agg(F.max("rho").alias("rho"))
    )
    whole = hll_registers(df, "k")
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0
    with _pytest.raises(ValueError, match="power of two"):
        hll_registers(df, "k", m=100)


def test_triangle_count_hand_graphs(spark):
    from cdk_dynamodb_cdc_spark.operators.graph import triangle_count

    def run(pairs):
        df = spark.createDataFrame(pairs, "u long, v long")
        [r] = triangle_count(df).collect()
        return (r.n_nodes, r.n_edges, r.n_triangles)

    # K4: 4 nodes, 6 edges, 4 triangles
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert run(k4) == (4, 6, 4)
    # path graph: no triangles
    assert run([(1, 2), (2, 3), (3, 4)]) == (4, 3, 0)
    # duplicate edges / reversed orientation / self-loop are cleaned
    messy = k4 + [(b, a) for a, b in k4] + [(0, 0), (1, 2)]
    assert run(messy) == (4, 6, 4)
    # two triangles sharing an edge (bowtie-ish)
    assert run([(1, 2), (2, 3), (1, 3), (3, 4), (2, 4)]) == (4, 5, 2)


def test_kmv_unfull_exact_full_estimates_and_mergeable(spark):
    from cdk_dynamodb_cdc_spark.functions.sketches import (
        kmv_hashes,
        kmv_set_ops,
    )

    small = spark.createDataFrame(
        [(f"s{i % 10}",) for i in range(100)], "k string"
    )
    # unfull sketch: the union estimate of a sketch with itself IS the
    # exact distinct count
    h = kmv_hashes(small, "k", k=32)
    [r] = kmv_set_ops(h, h, k=32).collect()
    assert (r.n_merged, r.union_est, r.jaccard_est) == (10, 10.0, 1.0)

    big_rows = [(f"b{i}",) for i in range(3000)]
    big = spark.createDataFrame(big_rows, "k string")
    h = kmv_hashes(big, "k", k=64)
    [r] = kmv_set_ops(h, h, k=64).collect()
    assert abs(r.union_est - 3000) / 3000 < 0.5  # ~12.7% sigma, 4x slack
    # mergeability: k-min of concatenated sketches == sketch of union
    h1 = kmv_hashes(
        spark.createDataFrame(big_rows[:2000], "k string"), "k", k=64
    )
    h2 = kmv_hashes(
        spark.createDataFrame(big_rows[1000:], "k string"), "k", k=64
    )
    merged = h1.unionByName(h2).distinct().orderBy("h").limit(64)
    whole = kmv_hashes(big, "k", k=64)
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0
    # set ops on disjoint sets: intersection estimate 0
    c = spark.createDataFrame([(f"c{i}",) for i in range(500)], "k string")
    d = spark.createDataFrame([(f"d{i}",) for i in range(500)], "k string")
    [r] = kmv_set_ops(
        kmv_hashes(c, "k", k=64), kmv_hashes(d, "k", k=64), k=64
    ).collect()
    assert r.intersection_est == 0.0 and r.jaccard_est == 0.0
    assert abs(r.union_est - 1000) / 1000 < 0.5


def test_label_propagation_two_cliques(spark):
    from cdk_dynamodb_cdc_spark.operators.graph import label_propagation

    # two weight-10 triangles bridged by one weight-1 edge: LPA must
    # find both communities, each labeled by its min node after the
    # synchronous schedule settles (hand-simulated: stable from iter 3)
    edges = spark.createDataFrame(
        [
            ("a", "b", 10), ("a", "c", 10), ("b", "c", 10),
            ("c", "d", 1),
            ("d", "e", 10), ("d", "f", 10), ("e", "f", 10),
        ],
        "u string, v string, w long",
    )
    got = {
        (r.node, r.label)
        for r in label_propagation(edges, iterations=4, weight_col="w")
        .collect()
    }
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"),
        ("d", "d"), ("e", "d"), ("f", "d"),
    }


def test_label_propagation_handles_duplicate_and_reversed_edges(spark):
    from cdk_dynamodb_cdc_spark.operators.graph import label_propagation

    # the same clique expressed with duplicates and both orientations
    # must collapse to one vote per neighbor pair (weights summed)
    once = spark.createDataFrame(
        [("a", "b", 2), ("b", "c", 2), ("a", "c", 2)],
        "u string, v string, w long",
    )
    twice = spark.createDataFrame(
        [
            ("a", "b", 1), ("b", "a", 1),
            ("b", "c", 1), ("c", "b", 1),
            ("a", "c", 1), ("c", "a", 1),
        ],
        "u string, v string, w long",
    )
    lab = lambda df: sorted(  # noqa: E731
        (r.node, r.label)
        for r in label_propagation(df, iterations=3, weight_col="w")
        .collect()
    )
    assert lab(once) == lab(twice)


def test_apriori_triples_hand_corpus(spark, tmp_path):
    import sys

    sys.path.insert(0, "/root/repo")
    from cdk_dynamodb_cdc_spark.queries import QUERIES

    # 4 orders over brands A..D; triple (A,B,C) appears in orders 1..3,
    # (A,B,D) only in order 4 — with minsup = 4 div 500 = 0 every
    # observed triple reports its exact support
    baskets = {
        1: ["A", "B", "C"],
        2: ["A", "B", "C"],
        3: ["A", "B", "C", "D"],
        4: ["A", "B", "D"],
    }
    li_rows, pt_rows, pk = [], [], 0
    brand_pk = {}
    for b in "ABCD":
        brand_pk[b] = pk
        pt_rows.append((pk, b))
        pk += 1
    for ok, brands in baskets.items():
        for b in brands:
            li_rows.append((ok, brand_pk[b]))
    d = str(tmp_path / "corpus")
    spark.createDataFrame(
        li_rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        pt_rows, "p_partkey long, p_brand string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/part.parquet")
    got = {
        (r.brand_a, r.brand_b, r.brand_c): r.n_orders
        for r in QUERIES["basket_brand_triples"](spark, d).collect()
    }
    assert got == {
        ("A", "B", "C"): 3,
        ("A", "B", "D"): 2,
        ("A", "C", "D"): 1,
        ("B", "C", "D"): 1,
    }


def test_bfs_layers_hand_graph(spark):
    from cdk_dynamodb_cdc_spark.operators.graph import bfs_layers

    # path a-b-c-d-e-f (distances 0..5) plus a disconnected edge x-y:
    # with max_hops=4, f stays unreached and x/y never appear
    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"),
            ("x", "y"),
        ],
        "u string, v string",
    )
    got = {
        r.node: r.dist
        for r in bfs_layers(edges, source="a", max_hops=4).collect()
    }
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3, "e": 4}
    # shortest path wins when a longer route exists: a-b-c plus a-c
    tri = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "u string, v string"
    )
    got2 = {
        r.node: r.dist
        for r in bfs_layers(tri, source="a", max_hops=4).collect()
    }
    assert got2 == {"a": 0, "b": 1, "c": 1}
    # contract pin (r14): the seed is a literal frame, so a source
    # absent from the edge list still reports ITSELF at dist 0 (the
    # pre-r13 formulation returned an empty frame here) — callers
    # needing presence semantics anti-join the seed themselves
    got3 = {
        r.node: r.dist
        for r in bfs_layers(tri, source="zz", max_hops=2).collect()
    }
    assert got3 == {"zz": 0}


def test_kcore_peels_pendants_and_reports_core_degrees(spark):
    from cdk_dynamodb_cdc_spark.operators.graph import kcore

    # triangle {1,2,3} with a pendant chain 3-4-5 and an isolated
    # edge 6-7: the 2-core is exactly the triangle (the chain peels
    # in two rounds, the isolated edge in one)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (6, 7)],
        "u long, v long",
    )
    got = {r.node: r.deg for r in kcore(edges, k=2, rounds=5).collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    # an insufficient round budget leaves deg<k survivors visible
    shallow = {
        r.node: r.deg for r in kcore(edges, k=2, rounds=1).collect()
    }
    assert shallow[4] == 1  # pendant chain not fully peeled yet
    # k above the max core empties the graph
    assert kcore(edges, k=3, rounds=5).count() == 0


def test_two_pass_quantiles_match_disc_convention(spark):
    from cdk_dynamodb_cdc_spark.operators.quantiles import (
        exact_quantiles_two_pass,
    )

    df = spark.createDataFrame(
        [(10.0,), (20.0,), (30.0,), (40.0,)], "x double"
    )
    got = {
        r.q: r.value
        for r in exact_quantiles_two_pass(
            df, "x", (0.25, 0.5, 0.75, 0.9), n_buckets=8
        ).collect()
    }
    # rank = ceil(q*n), 1-indexed (quantile_disc / PERCENTILE_DISC)
    assert got == {"0.25": 10.0, "0.5": 20.0, "0.75": 30.0, "0.9": 40.0}

    # NULLs excluded; constant column survives the zero-width fallback
    df2 = spark.createDataFrame(
        [(7.0,), (7.0,), (None,), (7.0,)], "x double"
    )
    got2 = {
        r.q: r.value
        for r in exact_quantiles_two_pass(df2, "x", (0.5,)).collect()
    }
    assert got2 == {"0.5": 7.0}


def test_sample_sketch_unfull_exact_and_mergeable(spark):
    from cdk_dynamodb_cdc_spark.functions.sketches import (
        sample_quantile_targets,
        sample_sketch,
    )

    rows = [(i, float(i)) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "id long, v double")
    # unfull sketch (n <= k): sample IS the data, picks are exact
    sk = sample_sketch(df, "v", ["id"], k=2048)
    got = {
        r.q: (r.est_value, r.est_rank_ppm)
        for r in sample_quantile_targets(
            sk, [("p25", 1, 4), ("p50", 1, 2), ("p99", 99, 100)]
        ).collect()
    }
    assert got["p25"] == (25.0, 250000)
    assert got["p50"] == (50.0, 500000)
    assert got["p99"] == (99.0, 990000)

    # full sketch: estimate within the DKW band (5% at k=2048)
    big = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 10001)], "id long, v double"
    )
    skb = sample_sketch(big, "v", ["id"], k=2048)
    assert skb.count() == 2048
    [p50] = (
        sample_quantile_targets(skb, [("p50", 1, 2)])
        .collect()
    )
    assert 4500.0 <= p50.est_value <= 5500.0

    # mergeability: k smallest of concatenated partial sketches ==
    # sketch of the whole (the KMV fold)
    h1 = sample_sketch(big.filter("id <= 6000"), "v", ["id"], k=2048)
    h2 = sample_sketch(big.filter("id > 4000"), "v", ["id"], k=2048)
    merged = (
        h1.unionByName(h2).distinct().orderBy("h", "v").limit(2048)
    )
    assert merged.exceptAll(skb).count() == 0
    assert skb.exceptAll(merged).count() == 0

    # NULL values never sampled
    withnull = spark.createDataFrame(
        [(1, None), (2, 7.0)], "id long, v double"
    )
    assert sample_sketch(withnull, "v", ["id"], k=8).count() == 1


def test_ordered_pair_mining_gap_semantics(spark):
    from pyspark.sql import functions as F

    # session A,B,A,C: ordered pairs WITH GAPS, distinct per session
    df = spark.createDataFrame(
        [([("A", 1), ("B", 2), ("A", 3), ("C", 4)],)],
        "evs array<struct<t string, rn int>>",
    )
    pairs = F.expr(
        "array_distinct(flatten(transform(evs, (x, i) -> "
        "transform(slice(evs, i + 2, size(evs)), y -> "
        "struct(x.t AS a, y.t AS b)))))"
    )
    got = {
        (p.a, p.b)
        for p in df.select(F.explode(pairs).alias("p"))
        .select("p.*")
        .collect()
    }
    assert got == {
        ("A", "B"), ("A", "A"), ("A", "C"), ("B", "A"), ("B", "C")
    }
    # single-event session: no pairs
    one = spark.createDataFrame(
        [([("A", 1)],)], "evs array<struct<t string, rn int>>"
    )
    assert one.select(F.explode(pairs)).count() == 0


def test_sssp_bounded_hand_graph(spark):
    from cdk_dynamodb_cdc_spark.operators.graph import sssp_bounded

    # a-b costs 10, but the detour a-c-b costs 6: more rounds must
    # refine b's distance through the cheaper 2-edge path
    edges = spark.createDataFrame(
        [("a", "b", 10), ("b", "c", 1), ("a", "c", 5)],
        "u string, v string, w long",
    )
    one = {
        (r.node, r.dist)
        for r in sssp_bounded(edges, source="a", rounds=1).collect()
    }
    assert one == {("a", 0), ("b", 10), ("c", 5)}
    full = {
        (r.node, r.dist)
        for r in sssp_bounded(edges, source="a", rounds=3).collect()
    }
    assert full == {("a", 0), ("b", 6), ("c", 5)}
    # disconnected node never appears; zero-weight edges are fine
    edges2 = spark.createDataFrame(
        [("a", "b", 0), ("c", "d", 1)], "u string, v string, w long"
    )
    got = {
        (r.node, r.dist)
        for r in sssp_bounded(edges2, source="a", rounds=2).collect()
    }
    assert got == {("a", 0), ("b", 0)}


def test_auc_exact_hand_values(spark):
    from cdk_dynamodb_cdc_spark.llm.evaluate import auc_exact

    # scores [1,1,2,3] / pos [0,1,1,1]: the positive tied at 1 counts
    # half against the lone negative -> AUC = (2 + 0.5)/3 = 5/6
    df = spark.createDataFrame(
        [(1, 0), (1, 1), (2, 1), (3, 1)], "score long, pos int"
    )
    row = auc_exact(df).collect()[0]
    assert (row.n_pos, row.n_neg) == (3, 1)
    assert (row.auc_num, row.auc_den) == (5, 6)
    assert row.auc_ppm == 833333
    # degenerate: single class -> auc_den 0, ppm NULL
    row = auc_exact(
        spark.createDataFrame([(1, 1), (2, 1)], "score long, pos int")
    ).collect()[0]
    assert row.auc_den == 0 and row.auc_ppm is None


def test_confusion_metrics_hand_values(spark):
    from cdk_dynamodb_cdc_spark.llm.evaluate import confusion_metrics

    # textbook 2x2 kappa = 0.4: trace 35/50, pe = (25*30 + 25*20)/2500
    conf = spark.createDataFrame(
        [("a", "a", 20), ("a", "b", 5), ("b", "a", 10), ("b", "b", 15)],
        "actual string, predicted string, n long",
    )
    rows = {r.cls: r for r in confusion_metrics(conf).collect()}
    a = rows["a"]
    assert (a.tp, a.fp, a.fn) == (20, 10, 5)
    assert a.precision_ppm == 666666
    assert a.recall_ppm == 800000
    assert a.f1_ppm == 727272
    assert (a.kappa_num, a.kappa_den) == (500, 1250)
    assert a.accuracy_ppm == 700000
    # class never predicted ('c' actual-only): precision NULL, recall 0
    conf2 = spark.createDataFrame(
        [("a", "a", 3), ("c", "a", 2)],
        "actual string, predicted string, n long",
    )
    rows2 = {r.cls: r for r in confusion_metrics(conf2).collect()}
    assert rows2["c"].precision_ppm is None
    assert rows2["c"].recall_ppm == 0


def test_dbscan_2d_hand_points(spark):
    from cdk_dynamodb_cdc_spark.llm.vectors import dbscan_2d

    # cluster at the origin, a border hanging off it, one noise point,
    # and a second cluster at NEGATIVE coords (pins the pmod floor
    # gridding: truncating division would split cells around 0)
    pts = spark.createDataFrame(
        [
            (1, 0, 0), (2, 1, 0), (3, 0, 1), (4, 3, 0), (5, 10, 10),
            (6, -20, -20), (7, -21, -20), (8, -20, -21),
        ],
        "id long, x long, y long",
    )
    got = {
        r.id: (r.n_nbrs, r.role, r.cluster)
        for r in dbscan_2d(pts, eps=2, min_pts=3).collect()
    }
    assert got[1] == (2, "core", 1)
    assert got[2] == (3, "core", 1)
    assert got[3] == (2, "core", 1)
    assert got[4] == (1, "border", 1)
    assert got[5] == (0, "noise", None)
    assert got[6] == (2, "core", 6)
    assert got[7] == (2, "core", 6)
    assert got[8] == (2, "core", 6)


def test_cms_join_size_contract(spark):
    from cdk_dynamodb_cdc_spark.functions.sketches import (
        cms_cells,
        cms_join_size,
    )

    # single-key streams: no other key can collide, so every row's
    # inner product is exactly fA(k)*fB(k) and the estimate is exact
    a = spark.createDataFrame([("k",)] * 4, "k string")
    b = spark.createDataFrame([("k",)] * 3, "k string")
    est = cms_join_size(cms_cells(a, "k"), cms_cells(b, "k")).collect()[0]
    assert est.est_join_size == 12
    # multi-key: the no-underestimate bound (true = 2*1 here)
    a2 = spark.createDataFrame([("a",), ("a",), ("b",)], "k string")
    b2 = spark.createDataFrame([("a",), ("c",)], "k string")
    est2 = cms_join_size(cms_cells(a2, "k"), cms_cells(b2, "k")).collect()[0]
    assert est2.est_join_size >= 2
