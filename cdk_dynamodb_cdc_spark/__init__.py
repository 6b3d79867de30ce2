"""cdk_dynamodb_cdc_spark — a PySpark-native CDC analytics engine.

A from-scratch Spark-first re-expression of the capabilities of
``martzcodes/cdk-dynamodb-cdc`` (reference at ``/root/reference``):
a change-data-capture dataflow (DynamoDB wire-format deserialization,
recursive structural diff, no-op suppression, size-based claim check,
event publication) plus the full relational query surface and
LLM-data-pipeline operators (dedup, similarity search, text analysis)
that a 100 TB-scale deployment of such an engine needs.

Design stance (SURVEY.md §7): batch-first pure ``DataFrame -> DataFrame``
operators so identical code runs under ``spark.read`` (oracle-testable)
and ``spark.readStream`` (production shape). All relational operators are
thin declarative compositions of Spark built-ins so Catalyst handles
pushdown / pruning / join selection; Python only runs in Arrow-vectorized
batches where semantics genuinely require it (the dynamic-schema diff).

``CdcPipeline`` and ``get_spark`` load on first use (PEP 562), so
importing a submodule imports no pyspark on its own: the worker daemon
(``worker_daemon.py``) must set ``sys.path`` before pyspark loads.
"""

from __future__ import annotations

import importlib

__all__ = ["CdcPipeline", "get_spark"]
__version__ = "0.2.0"

_EXPORTS = {"CdcPipeline": "api", "get_spark": "session"}


def __getattr__(name: str):
    if name in _EXPORTS:
        module = importlib.import_module(f"{__name__}.{_EXPORTS[name]}")
        return getattr(module, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
