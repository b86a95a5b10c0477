"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in ``blockchain_data_engineering_spark.plans`` — a
decorator registry pairing each Spark implementation with its oracle
SQL twin (see plans/registry.py and SURVEY.md §2 for the operator map).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from blockchain_data_engineering_spark.plans import GATE_ORDER, ORACLES, QUERIES
from blockchain_data_engineering_spark.session import configure_for_session


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the full chart
    analytics chain (SURVEY §3 E3 / volume_stack_plot.ipynb) as ONE
    plan — top-10 all-time units (W1/J6) → per-(unit, month) volumes →
    dense month spine with zero fill (J8/F10) → cumulative moving
    average (W2) → per-month proportional share (W3)."""
    configure_for_session(spark)
    return QUERIES["flagship_volume_stack"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The 50 driver-gate queries (``plans.GATE_ORDER``), in gate order."""
    return {n: QUERIES[n] for n in GATE_ORDER}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL twin for each SQL-expressible gate query."""
    return {n: ORACLES[n] for n in GATE_ORDER if n in ORACLES}
