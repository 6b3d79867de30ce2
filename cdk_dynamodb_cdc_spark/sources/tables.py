"""Test-corpus table loader (TESTDATA.md).

One entry point — :func:`load_table` / :func:`register_tables` — that all
queries, tests, and the bench share, so schema normalization lives in one
place:

* ``events.ts`` is stored as parquet ``TIMESTAMP(NANOS)``, which Spark's
  reader rejects; with ``spark.sql.legacy.parquet.nanosAsLong`` the
  column arrives as a long of epoch-nanos and is converted here to
  ``TimestampType`` via integer-µs truncation — lossless for this corpus
  (all values are µs-precision) and bit-identical to DuckDB's default
  nanos->micros read of the same files, which the oracle comparison
  relies on.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# columns stored as TIMESTAMP(NANOS) that arrive as epoch-nano longs
_NANO_TS_COLS = {"events": ["ts"]}


def _estimated_scan_partitions(spark: SparkSession, path: str) -> int:
    """Spark's own file-split arithmetic (FilePartition.maxSplitBytes),
    computed driver-side from file sizes — no Spark job, no RDD
    conversion."""
    files = glob.glob(os.path.join(path, "*.parquet")) or [path]
    sizes = [os.path.getsize(f) for f in files if os.path.isfile(f)]
    if not sizes:
        return 1 << 30  # non-local path (s3://, hdfs://): assume many splits
    open_cost = int(spark.conf.get("spark.sql.files.openCostInBytes", "4194304"))
    max_split = int(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    total = sum(sizes) + open_cost * len(sizes)
    return max(1, total // max_split)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in _NANO_TS_COLS.get(name, []):
        if dict(df.dtypes).get(c) == "bigint":
            # Integer division: epoch-nanos (~1.7e18) exceed double's 2^53
            # exact range, so `/ 1000` through double truncates ~1.6% of
            # values 1 µs low. `div` stays in long arithmetic.
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # The synthetic corpus writes each table as ONE parquet file with
    # ONE row group, which Spark cannot split: every scan would run as
    # a single task no matter how many cores local[N] has, serializing
    # the map side of every query. Round-robin the rows across the
    # machine once, ONLY when the scan is provably under-parallel
    # (fewer byte-splits than cores). Real deployments read thousands
    # of row groups per table, scan partitions >= cores, and this
    # branch never triggers — no shuffle is added at 100 TB.
    cores = spark.sparkContext.defaultParallelism
    if _estimated_scan_partitions(spark, f"{sf_dir}/{name}.parquet") < cores:
        df = df.repartition(cores)
    return df


def register_tables(spark: SparkSession, sf_dir: str,
                    names: list[str] | None = None) -> None:
    """Register corpus tables as temp views for the SQL surface."""
    for name in names or TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
