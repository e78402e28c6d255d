"""Central registry of declared queries + their DuckDB oracle SQL.

Every operator claimed in SURVEY.md section 2 gets a `QuerySpec` here;
tests/test_queries_oracle.py runs the Spark builder and the oracle SQL side
by side and hash-compares results, so:

- every computed column is aliased identically in both,
- money aggregates are computed in exact DECIMAL then converted to DOUBLE
  (both engines produce the identical double for the same decimal), and any
  division happens in DOUBLE after the exact aggregation so both engines
  perform the same float ops in the same order,
- orderings that feed LIMIT/top-k always carry a unique tie-break key.

Queries are emitted in registration order, which the imports in
plans/__init__.py fix (relational first, so revenue_analytics leads).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    description: str = ""


def register(name: str, oracle: str | None, description: str = "") -> Callable[[Builder], Builder]:
    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, description)
        return fn

    return deco


def get(name: str) -> QuerySpec:
    return _REGISTRY[name]


def all_specs() -> dict[str, QuerySpec]:
    return dict(_REGISTRY)


def all_queries() -> dict[str, Builder]:
    return {name: spec.builder for name, spec in _REGISTRY.items()}


def all_oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in _REGISTRY.items()
        if spec.oracle is not None
    }
