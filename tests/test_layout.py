"""Z-order clustering (operators/layout.py): real parquet footer
statistics must show per-file min/max ranges shrinking on BOTH
clustered columns, vs. a single-column sort where the second column's
ranges stay full-width — the property file skipping depends on."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
import pytest

from cdk_dynamodb_cdc_spark.operators.layout import (
    write_zordered,
    zorder_key,
)

SF_DIR = "/root/testdata/sf0.001"


def _avg_normalized_span(path: str, col: str) -> float:
    """Mean per-file (max-min) span of ``col`` divided by the global
    span, from parquet footer statistics."""
    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    assert files, f"no parquet files under {path}"
    spans, gmin, gmax = [], None, None
    for f in files:
        pf = pq.ParquetFile(f)
        idx = pf.schema_arrow.get_field_index(col)
        fmin = min(
            pf.metadata.row_group(i).column(idx).statistics.min
            for i in range(pf.metadata.num_row_groups)
        )
        fmax = max(
            pf.metadata.row_group(i).column(idx).statistics.max
            for i in range(pf.metadata.num_row_groups)
        )
        spans.append(fmax - fmin)
        gmin = fmin if gmin is None else min(gmin, fmin)
        gmax = fmax if gmax is None else max(gmax, fmax)
    return (sum(spans) / len(spans)) / (gmax - gmin)


def test_zorder_narrows_both_dimensions(spark, tmp_path):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )

    single = str(tmp_path / "single_sort")
    (
        li.repartitionByRange(8, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(single)
    )
    zpath = str(tmp_path / "zorder")
    write_zordered(li, zpath, ["l_partkey", "l_suppkey"], num_files=8)

    # Single-column sort: partkey narrow, suppkey ~full-width per file.
    assert _avg_normalized_span(single, "l_partkey") <= 0.25
    assert _avg_normalized_span(single, "l_suppkey") >= 0.85

    # Z-order: BOTH dimensions substantially narrower than full width.
    # Margins leave room for repartitionByRange's sampling jitter (its
    # seed varies with RDD id, so boundaries shift slightly between
    # sessions): observed spans are ~0.37-0.40 (partkey) and
    # ~0.57-0.61 (suppkey — coarser because suppkey's distinct-value
    # count is small at this SF, so rank buckets tie heavily) vs 1.0
    # full width for the un-z-ordered dimension.
    z_part = _avg_normalized_span(zpath, "l_partkey")
    z_supp = _avg_normalized_span(zpath, "l_suppkey")
    assert z_part <= 0.55, z_part
    assert z_supp <= 0.75, z_supp

    # Same rows survive the rewrite.
    assert (
        spark.read.parquet(zpath).count()
        == spark.read.parquet(single).count()
        == li.count()
    )


def test_zorder_key_bit_budget(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    with pytest.raises(ValueError):
        zorder_key(li, ["l_partkey", "l_suppkey"], bits=32)


def test_zorder_key_is_deterministic_and_bounded(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(500)
    import pyspark.sql.functions as F

    key = zorder_key(li, ["l_partkey", "l_suppkey"], bits=4)
    rows = (
        li.select(key.alias("z"))
        .agg(F.min("z").alias("lo"), F.max("z").alias("hi"))
        .collect()[0]
    )
    assert 0 <= rows["lo"] <= rows["hi"] < 2**8  # 2 cols * 4 bits


def test_zorder_supports_string_and_timestamp_columns(spark, tmp_path):
    """Order-preserving images let strings and timestamps cluster:
    after z-ordering lineitem by (l_returnflag, l_shipdate), each file
    holds few distinct flags and a narrow shipdate range."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_returnflag", "l_shipdate"
    )
    zpath = str(tmp_path / "zorder_str")
    write_zordered(
        li, zpath, ["l_returnflag", "l_shipdate"], num_files=6
    )
    out = spark.read.parquet(zpath)
    assert out.count() == li.count()

    import pyspark.sql.functions as F

    per_file = (
        out.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(
            F.countDistinct("l_returnflag").alias("flags"),
            (
                F.unix_date(F.to_date(F.max("l_shipdate")))
                - F.unix_date(F.to_date(F.min("l_shipdate")))
            ).alias("date_span_days"),
        )
        .collect()
    )
    total_days = (
        li.agg(
            F.unix_date(F.to_date(F.max("l_shipdate")))
            - F.unix_date(F.to_date(F.min("l_shipdate")))
        ).collect()[0][0]
    )
    # every file sees a strict subset of the 3 flags or a narrow date
    # range — and on average both dimensions are well below full width
    avg_flags = sum(r["flags"] for r in per_file) / len(per_file)
    avg_span = sum(r["date_span_days"] for r in per_file) / len(per_file)
    assert avg_flags <= 2.5, avg_flags
    assert avg_span <= 0.8 * total_days, (avg_span, total_days)
