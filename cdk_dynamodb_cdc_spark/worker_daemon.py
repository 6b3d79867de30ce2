"""The Python worker daemon of local sessions: ``pyspark.daemon``, minus
Spark's archives on ``sys.path``.

Spark starts its Python workers with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j source zip and the spark-core jar at the head of ``PYTHONPATH``,
so workers import pyspark from the zip even when the driver imports it
from an installed directory. Every Python task then calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``),
which on Python 3.11 re-reads the central directory of every zip a worker
has imported from: about 0.1 s per task on a 4-core x86-64 VM, more than
the work of a 500-record micro-batch.

``session.get_spark`` names this module as ``spark.python.daemon.module``
for local masters. Before pyspark is imported it drops the archives from
``sys.path`` and clears ``sys.path_importer_cache``, but only when
``pyspark`` and ``py4j`` both resolve without them; otherwise ``sys.path``
stays as Spark set it. Either way it then runs ``pyspark.daemon`` as
``__main__``, exactly as Spark would have.

It imports nothing but the standard library, and the package's
``__init__`` is lazy, so nothing imports pyspark before the path is set.
"""

from __future__ import annotations

import os
import runpy
import sys
from importlib.machinery import PathFinder

# the modules workers need, which must resolve once the archives are gone
_NEEDED = ("pyspark", "py4j")


def is_spark_archive(entry: str) -> bool:
    """Whether a ``sys.path`` entry is one of the archives Spark puts on
    its workers' path: ``pyspark.zip``, ``py4j-*-src.zip`` or a jar."""
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith("-src.zip"))
        or name.endswith(".jar")
    )


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives when ``pyspark`` and ``py4j``
    both resolve from what is left, else ``path`` itself."""
    kept = [p for p in path if not is_spark_archive(p)]
    if len(kept) < len(path) and all(
        PathFinder.find_spec(m, kept) is not None for m in _NEEDED
    ):
        return kept
    return path


def main() -> None:
    sys.path[:] = worker_path(sys.path)
    # drop the finders built while looking for this module, zip importers
    # on the archives among them
    sys.path_importer_cache.clear()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
