"""Registry mapping query names -> (Spark callable, DuckDB oracle SQL).

Every operator from SURVEY.md section 2 gets a registered query; the
driver hash-compares the Spark result against the oracle SQL at sf=0.01.
Column names are aliased identically on both sides (the driver sorts
columns by name before hashing).

The registry keeps registration order, and the driver hash-checks the
first 50 queries in it: ``gi_scan_flagship`` first (``_load_all``
imports ``flagship`` before every other module), then the next 49 to
register.
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
    oracle: str
    tags: tuple[str, ...] = ()


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str, tags: tuple[str, ...] = ()):
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(name, fn, oracle, tags)
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    """Every registered query, in registration order."""
    # Import side-effect modules lazily to avoid cycles.
    from pangenomesasgraphdatabases_spark.queries import _load_all

    _load_all()
    return dict(_REGISTRY)
