"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]`` (single JVM), but every knob here is chosen
to also be the right default on a 1000-executor cluster: AQE for runtime
re-planning (skew joins, partition coalescing), UTC session timezone so
results are oracle-comparable, Arrow for any Python exchange. Local
masters also start their Python workers through ``worker_daemon.py``,
which keeps Spark's zip archives off the workers' import path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def engine_env(spark: SparkSession | None = None) -> dict[str, str]:
    """Version/config fingerprint stamped into every committed artifact.

    The r7 driver gate disagreed with two locally-green oracles purely
    on engine-version surface (DuckDB recursive-CTE dialect); without a
    recorded fingerprint the mismatch was undiagnosable from the
    committed artifacts alone. Cheap to collect, so every correctness/
    bench/plan-audit JSON now carries it.
    """
    import platform

    import duckdb
    import pyspark

    env: dict[str, str] = {
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "cpus": str(os.cpu_count()),
        "java": os.environ.get("JAVA_HOME", ""),
    }
    if spark is not None:
        env["session_tz"] = spark.conf.get("spark.sql.session.timeZone")
        env["ansi"] = spark.conf.get("spark.sql.ansi.enabled")
        # the worker set-up the numbers came from: one Python task reports
        # where it imported pyspark from
        env["python_daemon"] = spark.conf.get(
            "spark.python.daemon.module", "pyspark.daemon")
        env["worker_pyspark"] = (
            spark.sparkContext.parallelize([0], 1).map(_pyspark_file).first()
        )
    return env


def _pyspark_file(_) -> str:
    import pyspark

    return pyspark.__file__


def get_spark(
    app_name: str = "cdk_dynamodb_cdc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``shuffle_partitions`` defaults to the local core count for local
    masters; on a real cluster leave it unset and let AQE coalesce from a
    high initial value (set ``spark.sql.adaptive.coalescePartitions.
    initialPartitionNum`` instead).
    """
    # Python UDF workers resolve imports from PYTHONPATH/cwd, not the
    # driver's sys.path — make the package importable on workers even
    # when the driver process started outside the repo root.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root
        )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus if master.startswith("local") else 200

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The test corpus stores events.ts as parquet TIMESTAMP(NANOS),
        # which Spark's vectorized reader rejects by default; read the
        # physical int64 as long and let the table loader convert
        # (losslessly — corpus values are µs-precision) to TimestampType.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The JSON reader would otherwise evaluate pushed filters while
        # parsing and emit only the rows that pass, so a record stream
        # tagged in its own plan (CdcPipeline.run_stream) would report
        # its guard-dropped records in no count: numInputRows would read
        # 4 for a 6-record file. Filters still run right after the scan.
        .config("spark.sql.json.filterPushdown.enabled", "false")
        .config("spark.ui.enabled", "false")
        # `[Stage n:> ...]` bars on stdout would otherwise sit ahead of
        # the one JSON line a caller parses from the tail of a run's stdout.
        .config("spark.ui.showConsoleProgress", "false")
        # Modest heap on purpose: measured on the 32-core/128 GiB test
        # VM, a 64g heap runs the allocation-heavy interpreted
        # expression paths (higher-order-function folds) 2-6x SLOWER
        # than 8g — G1 regions sprawl across cold pages that fault in
        # on first touch, while a small heap stays in hot memory. All
        # sf0.1 workloads fit comfortably; override via
        # SPARK_DRIVER_MEMORY for bigger local corpora.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if master.startswith("local"):
        # workers import the driver's pyspark, not Spark's zip archives
        builder = builder.config(
            "spark.python.daemon.module", "cdk_dynamodb_cdc_spark.worker_daemon"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
