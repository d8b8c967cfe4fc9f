"""Query registry: the driver-facing catalog of every implemented operator.

Each entry pairs a PySpark query (``(spark, sf_dir) -> DataFrame``) with an
ANSI-SQL oracle string DuckDB can run over the same parquet tables. The
driver compares row-count + schema + order-insensitive value hash, so every
computed column is aliased identically on both sides. Queries iterate in
registration order, and ``tools/check_oracle.py`` checks every one.

EVERY entry is oracle-backed — the driver has no rows-only path.
Approximate/RNG ops register oracle-able formulations: the
query emits deterministic derived outputs (exact values plus
within-tolerance booleans) and the oracle computes the exact side in SQL
with literal TRUE.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""


_REGISTRY: dict[str, RegisteredQuery] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: add a query to the driver-facing registry."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name}")
        _REGISTRY[name] = RegisteredQuery(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return wrap


def all_queries() -> dict[str, QueryFn]:
    _load_all()
    return {name: rq.fn for name, rq in _REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    _load_all()
    return {
        name: rq.oracle for name, rq in _REGISTRY.items() if rq.oracle is not None
    }


def get(name: str) -> RegisteredQuery:
    _load_all()
    return _REGISTRY[name]


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (import has the side
    effect of populating the registry)."""
    global _LOADED
    if _LOADED:
        return
    import hive_export_spark.queries.connector_queries  # noqa: F401
    import hive_export_spark.queries.parity_queries  # noqa: F401
    import hive_export_spark.queries.relational_queries  # noqa: F401
    import hive_export_spark.queries.function_queries  # noqa: F401
    import hive_export_spark.queries.stats_queries  # noqa: F401
    import hive_export_spark.queries.streaming_queries  # noqa: F401
    import hive_export_spark.queries.udf_queries  # noqa: F401
    import hive_export_spark.queries.llm_queries  # noqa: F401
    import hive_export_spark.queries.scale_queries  # noqa: F401
    import hive_export_spark.queries.analytics_queries  # noqa: F401

    _LOADED = True
