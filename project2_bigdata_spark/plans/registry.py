"""Query registry machinery.

Contract (driver, see ``__spark_entry__.py``): each query is a callable
``(spark, sf_dir) -> DataFrame`` plus, when SQL-expressible, a DuckDB
oracle SQL string computing the same relation over the same parquet
tables. Column names (and, for exactness, values) must match — aggregate
columns are aliased identically on both sides, and money sums go through
``functions.money.dsum`` on the Spark side and its twin ``oracle_dsum``
in the oracle SQL (exact sum, decimal→double via a string round-trip),
so the double values are bit-identical regardless of row order or
partitioning.
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
    oracle: str | None  # DuckDB SQL, or None → driver does rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco
