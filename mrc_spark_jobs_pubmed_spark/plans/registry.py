"""Query registry: one named entry per operator from SURVEY.md §2.

Each query is a callable ``(spark, sf_dir) -> DataFrame`` plus (when
SQL-expressible) the ANSI-SQL string a DuckDB oracle runs on the same
parquet tables. Column names are part of the contract: every computed
column is aliased identically on both sides (the driver's compare sorts
columns by name before hashing).
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
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a query under `name` with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def get(name: str) -> Query:
    return _REGISTRY[name]


def all_queries() -> dict[str, Query]:
    return dict(_REGISTRY)


def all_oracles() -> dict[str, str]:
    return {q.name: q.oracle for q in _REGISTRY.values() if q.oracle is not None}
