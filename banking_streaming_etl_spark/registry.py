"""Central query registry: name -> (spark callable, DuckDB oracle SQL).

`__spark_entry__.queries()` / `oracle_sql()` are generated from this.
Every operator from SURVEY.md §2 that we claim as done registers here;
oracle=None marks genuinely non-SQL-expressible ops (driver records a
weaker rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def register(name: str, fn: QueryFn, oracle: str | None, doc: str = "") -> None:
    if name in _REGISTRY:
        raise ValueError(f"duplicate query name: {name}")
    _REGISTRY[name] = Query(name, fn, oracle, doc)


def all_queries() -> dict[str, Query]:
    _load()
    return dict(_REGISTRY)


_IMPORTED = False


def _load() -> None:
    """Import every module that registers queries (idempotent)."""
    global _IMPORTED
    if _IMPORTED:
        return
    from banking_streaming_etl_spark.plans import (  # noqa: F401
        register_all as _plans_register,
    )

    _plans_register()
    _IMPORTED = True
