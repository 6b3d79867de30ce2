"""Multi-dimensional data clustering for file skipping (Z-order).

Parquet scans prune row groups (and whole files) from column min/max
statistics, but those statistics only help when each file covers a
NARROW value range of the filtered column. Sorting by one column makes
that column's ranges narrow and every other column's ranges full-width;
at 100 TB, queries that filter on a second dimension then read the
whole table. Z-ordering (bit-interleaving the dimensions into one
space-filling-curve key and range-partitioning + sorting by it) makes
EVERY clustered column's per-file range narrow at once — the same
technique Delta Lake's ``OPTIMIZE ZORDER BY`` and Iceberg's sort-order
rewrites apply, built here from plain Column arithmetic.

How it scales:

* Rank normalization maps each column to a bucket id via APPROXIMATE
  QUANTILE boundaries (equi-height, so it is robust to skew). The
  boundaries come from one distributed ``approxQuantile`` pass per
  call and are a bounded small array (``2**bits - 1`` doubles) baked
  into the plan — a deliberate, bounded driver action, the same shape
  as broadcasting a dimension table. NO global window: a
  ``ntile``-over-everything rank would funnel the table through one
  partition, which is exactly the failure mode this module exists to
  avoid.
* The bucket lookup and bit interleave are pure Column arithmetic —
  JVM-codegen'd, no Python in the per-row path.
* The write is ``repartitionByRange(n, zkey)`` + in-partition sort, so
  file count and per-file clustering are both explicit.

Verification (tests/test_layout.py): clustering lineitem by
(l_partkey, l_suppkey) shrinks the summed per-file min/max span of
BOTH columns vs. a single-column sort of the same file count, measured
from real parquet footer statistics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bucket(col: Column, boundaries: list[float]) -> Column:
    """Equi-height bucket id: how many boundaries lie at or below the
    value. Nulls sort first (bucket 0). O(len(boundaries)) vectorized
    comparisons per row — fine for a layout-maintenance job."""
    bnds = F.array(*[F.lit(float(b)) for b in boundaries])
    return F.aggregate(
        bnds,
        F.lit(0),
        lambda acc, b: acc
        + F.when(col.isNotNull() & (col >= b), 1).otherwise(0),
    )


def _orderable(df: DataFrame, col: str) -> Column:
    """An order-preserving DOUBLE image of the column, so quantile
    bucketing works for every clusterable type:

    * numerics: plain cast;
    * dates/timestamps: epoch numbers (cast to long first);
    * strings: the first 8 BYTES read as a big-endian unsigned integer
      — lexicographic order of the prefix maps to numeric order, so
      range boundaries on the image are range boundaries on the
      string (ties beyond 8 bytes land in the same bucket, which only
      coarsens the grid, never mis-orders it).
    """
    dtype = dict(df.dtypes)[col]
    c = F.col(col)
    if dtype == "string":
        hex8 = F.rpad(F.hex(F.substring(c, 1, 8)), 16, "0")
        return F.conv(hex8, 16, 10).cast("double")
    if dtype in ("date",):
        return F.unix_date(c).cast("double")
    if dtype.startswith("timestamp"):
        # NTZ-safe epoch seconds (a straight long cast rejects NTZ)
        secs = (
            F.unix_date(F.to_date(c)).cast("long") * 86400
            + F.hour(c).cast("long") * 3600
            + F.minute(c).cast("long") * 60
            + F.second(c).cast("long")
        )
        return secs.cast("double")
    return c.cast("double")


def zorder_key(
    df: DataFrame, cols: list[str], *, bits: int = 8
) -> Column:
    """Z-curve key: interleave the bits of each column's equi-height
    bucket rank, most significant bit first.

    Each column is rank-normalized into ``2**bits`` buckets using
    approximate quantile boundaries (relative error 0.001) over an
    order-preserving double image (:func:`_orderable` — numerics,
    dates/timestamps, and strings all supported), then the rank bits
    are interleaved into one BIGINT. ``len(cols) * bits`` must stay
    <= 62; the default 8 bits gives a 256-cell grid per dimension —
    the grid only has to be finer than the target file count for the
    clustering to bite, so 8 bits covers any realistic layout job
    (raise ``bits`` for >100k files).
    """
    if len(cols) * bits > 62:
        raise ValueError("len(cols) * bits must be <= 62")
    n_buckets = 2**bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    doubled = df.select(
        *[_orderable(df, c).alias(c) for c in cols]
    )
    all_bnds = doubled.stat.approxQuantile(cols, probs, 0.001)
    ranks = [
        _bucket(_orderable(df, c), bnds)
        for c, bnds in zip(cols, all_bnds)
    ]
    key = F.lit(0).cast("long")
    for bit in range(bits - 1, -1, -1):
        for rank in ranks:
            key = F.shiftleft(key, 1) + (
                F.shiftright(rank, bit).bitwiseAND(F.lit(1))
            )
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    num_files: int,
    bits: int = 8,
) -> None:
    """Write ``df`` as ``num_files`` parquet files clustered on the
    Z-curve of ``cols``, so min/max footer stats prune on every
    clustered column."""
    zkey = zorder_key(df, cols, bits=bits)
    (
        df.withColumn("_zkey", zkey)
        .repartitionByRange(num_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )

