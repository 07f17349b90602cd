"""Query registry backing ``__spark_entry__``'s contract.

Each implemented operator from SURVEY.md §2 registers a named query:
a callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible)
the equivalent ANSI SQL for the DuckDB oracle. Column names are aliased
identically on both sides — the driver's compare sorts columns by name
before hashing values.

Determinism rules every query follows:
- floating-point outputs are ``round()``-ed identically on both sides;
- LIMIT always pairs with a total ORDER BY (value + key tiebreak);
- no raw TIMESTAMP outputs — formatted to strings identically on both
  sides (Spark session TZ is pinned to UTC to match DuckDB).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB, or None for rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a query under ``name`` with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}


_LOADED = False


# The external correctness driver checks AT MOST 50 registered queries, in
# registration order (round 1: registry had 52, CORRECTNESS_r01 recorded
# exactly the first 50 and silently dropped the last two). Keep the registry
# at <= 50 entries (tests/test_registry_budget.py pins this) and import the
# most load-bearing modules first so any overflow costs the least evidence.
DRIVER_QUERY_CAP = 50


def _ensure_loaded() -> None:
    """Import all query modules (they self-register on import)."""
    global _LOADED
    if _LOADED:
        return
    from .queries import core, knn, vector_ann, sources_q, pipeline, extended, temporal_q  # noqa: F401

    _LOADED = True
