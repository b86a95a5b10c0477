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

# Queries demoted from the driver gate (which records at most ~50 rows
# per round — CORRECTNESS_r01 stopped at registry slot 49) but still
# implemented, exported, and DuckDB-parity-checked by
# tests/test_oracle_parity.py. Near-duplicates of gate queries live
# here so every *distinct* operator keeps an official gate row.
EXTRA_QUERIES: dict[str, QueryFn] = {}
EXTRA_ORACLES: dict[str, str] = {}


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


def finalize_gate(gate_order: list[str]) -> None:
    """Split the registry: ``gate_order`` names stay in QUERIES (in
    exactly that order — previously-unverified queries first, so a
    row-capped gate still reaches them); everything else moves to
    EXTRA_QUERIES (pytest-parity only). Mutates the dicts in place so
    existing ``from registry import QUERIES`` references stay valid.
    """
    missing = [n for n in gate_order if n not in QUERIES]
    if missing:
        raise ValueError(f"finalize_gate: unknown query names {missing}")
    snapshot_q, snapshot_o = dict(QUERIES), dict(ORACLES)
    gate = set(gate_order)
    for name, fn in snapshot_q.items():
        if name not in gate:
            EXTRA_QUERIES[name] = fn
            if name in snapshot_o:
                EXTRA_ORACLES[name] = snapshot_o[name]
    QUERIES.clear()
    QUERIES.update({n: snapshot_q[n] for n in gate_order})
    ORACLES.clear()
    ORACLES.update({n: snapshot_o[n] for n in gate_order if n in snapshot_o})
