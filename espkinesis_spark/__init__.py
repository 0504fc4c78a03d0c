"""espkinesis_spark — a PySpark-native analytics/stream-processing engine.

Re-expresses the dataflow semantics of the reference system
(tzshin/ESPKinesis, an ESP-NOW RC-control fan-out application) as an
idiomatic Spark engine: batch relational core (DataFrame/SQL on Catalyst),
reference-semantics operator library, LLM-data-pipeline extensions
(dedup / similarity / text analysis / multimodal plumbing), and a
Structured Streaming layer for the real-time pipelines.

Layout:
    session.py    — tuned SparkSession factory
    _worker_daemon.py — Spark's Python daemon on the installed pyspark
    tables.py     — test-table schemas + loaders (registers temp views)
    engine.py     — Engine facade: register_tables / sql / query registry
    operators/    — reference-semantics ops (remap, patch, validate, state)
    functions/    — extension ops (text, dedup, similarity, multimodal)
    queries.py    — declared correctness queries DQ-01..DQ-25 + extensions
    oracles.py    — DuckDB oracle SQL for each declared query
    streaming/    — Structured Streaming pipelines (sources, state, sinks)
"""

import importlib

__all__ = ["Engine", "get_spark"]
__version__ = "0.1.0"

# Lazy (PEP 562) so that importing a submodule -- the Python worker daemon in
# particular -- does not import pyspark before it has chosen its sys.path.
_LAZY = {"Engine": "espkinesis_spark.engine", "get_spark": "espkinesis_spark.session"}


def __getattr__(name: str):
    if name in _LAZY:
        return getattr(importlib.import_module(_LAZY[name]), name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
