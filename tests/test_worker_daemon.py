"""The Python workers of a local session import the driver's pyspark,
with no zip importer for ``importlib.invalidate_caches()`` to re-read on
every task (worker_daemon.py)."""

from __future__ import annotations

from cdk_dynamodb_cdc_spark.worker_daemon import is_spark_archive, worker_path


def test_workers_import_the_drivers_pyspark_and_no_archive(spark):
    import pyspark

    def worker_imports(_):
        import importlib
        import sys
        import zipimport

        import pyspark

        # what pyspark.worker_util.setup_spark_files does on every task
        importlib.invalidate_caches()
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        return zips, pyspark.__file__

    (zips, worker_pyspark), = (
        spark.sparkContext.parallelize([0], 1).map(worker_imports).collect()
    )
    assert zips == 0
    assert worker_pyspark == pyspark.__file__


def _package(root, name):
    (root / name).mkdir(parents=True)
    (root / name / "__init__.py").write_text("")


def test_worker_path_drops_archives_only_when_pyspark_resolves_without(tmp_path):
    lib, jars = tmp_path / "python" / "lib", tmp_path / "jars"
    archives = [
        str(lib / "pyspark.zip"),
        str(lib / "py4j-0.10.9.9-src.zip"),
        str(jars / "spark-core_2.13-4.1.2.jar"),
    ]
    assert all(is_spark_archive(a) for a in archives)
    empty, half, site = tmp_path / "empty", tmp_path / "half", tmp_path / "site"
    empty.mkdir()
    _package(half, "pyspark")
    _package(site, "pyspark")
    _package(site, "py4j")

    # neither found without the archives: keep them
    assert worker_path([*archives, str(empty)]) == [*archives, str(empty)]
    # pyspark found, py4j only in the archives: keep them
    path = [*archives, str(empty), str(half)]
    assert worker_path(path) == path
    # both found: drop them
    assert worker_path([*archives, str(site)]) == [str(site)]
    assert worker_path([str(site)]) == [str(site)]
