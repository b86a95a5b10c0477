"""Decorator-based registry pairing each Spark query with its DuckDB
oracle SQL (the driver's correctness gate — see __spark_entry__.py).

Column-name contract: the driver sorts columns by name before hashing
values, so the Spark DataFrame and the oracle result must use identical
aliases. Float contract: aggregates over doubles are rounded in BOTH
implementations (sum order differs between engines; rounding removes
the low-bit noise).
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from blockchain_data_engineering_spark.cache import scope

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name``; ``oracle`` is the DuckDB SQL twin
    (omit only for genuinely non-SQL-expressible ops — the driver then
    records a weaker rows-only check).

    The registered function runs inside a :func:`~..cache.scope`: its
    operators' ``finalize`` calls defer, and the query settles at most
    once on return, leaving no live cache behind. Called from inside
    another registered query, it joins the caller's scope."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
            with scope() as s:
                return s.settle(fn(spark, sf_dir))

        QUERIES[name] = scoped
        if oracle is not None:
            ORACLES[name] = oracle
        return scoped

    return deco

