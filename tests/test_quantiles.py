"""Quantile sketch (operators/quantiles.py): merge exactness, the DKW
±ε rank guarantee at two SFs, determinism, and plan shape. The
engine-vs-DuckDB replay parity is covered by test_oracle_parity
(agg_quantile_sketch_merged)."""

from __future__ import annotations

import io
import os
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from blockchain_data_engineering_spark.operators.quantiles import (
    quantile_sketch,
    quantile_sketch_merge,
    quantile_sketch_query,
)
from blockchain_data_engineering_spark.plans.parity import quanta

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"

K = 1024
QS = [100, 1000, 2500, 5000, 7500, 9000, 9900]


def _explain(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _orders(spark, sf):
    return spark.read.parquet(os.path.join(sf, "orders.parquet")).select(
        "o_orderkey",
        "o_orderstatus",
        quanta(F.col("o_totalprice"), 2).alias("vq"),
    )


def _state_rows(df):
    return sorted(
        (
            r["o_orderstatus"],
            r["n_total"],
            tuple(tuple(s) for s in r["samples"]),
        )
        for r in df.collect()
    )


def test_merge_is_exact(spark):
    """merge(sketch(A), sketch(B)) ≡ sketch(A ∪ B) — bit-identical
    state, the mergeability contract that lets per-partition /
    per-day sketches roll up without error accumulation."""
    orders = _orders(spark, SF001)
    a = orders.where(F.col("o_orderkey") % 2 == 0)
    b = orders.where(F.col("o_orderkey") % 2 == 1)
    keys = ["o_orderstatus"]
    merged = quantile_sketch_merge(
        quantile_sketch(a, "vq", ["o_orderkey"], K, keys=keys),
        quantile_sketch(b, "vq", ["o_orderkey"], K, keys=keys),
        K,
        keys=keys,
    )
    full = quantile_sketch(orders, "vq", ["o_orderkey"], K, keys=keys)
    assert _state_rows(merged) == _state_rows(full)


def test_merge_disjoint_keys(spark):
    """A key group present on only one side survives a merge intact
    (the full-outer edge)."""
    orders = _orders(spark, SF001)
    a = orders.where(F.col("o_orderstatus") == "F")
    b = orders.where(F.col("o_orderstatus") != "F")
    keys = ["o_orderstatus"]
    merged = quantile_sketch_merge(
        quantile_sketch(a, "vq", ["o_orderkey"], K, keys=keys),
        quantile_sketch(b, "vq", ["o_orderkey"], K, keys=keys),
        K,
        keys=keys,
    )
    full = quantile_sketch(orders, "vq", ["o_orderkey"], K, keys=keys)
    assert _state_rows(merged) == _state_rows(full)


def test_small_group_is_exact(spark):
    """n ≤ k means the sample IS the data: every quantile is the exact
    order statistic."""
    orders = _orders(spark, SF001).where(F.col("o_orderkey") <= 400)
    n = orders.count()
    assert 0 < n <= K
    st = quantile_sketch(orders, "vq", ["o_orderkey"], K)
    [row] = quantile_sketch_query(st, [5000]).collect()
    assert row["n_total"] == n and row["k_actual"] == n
    vals = sorted(r["vq"] for r in orders.collect())
    # rank ceil(0.5·n) in 1-based order statistics
    assert row["est_v"] == vals[(5000 * n + 9999) // 10000 - 1]


@pytest.mark.parametrize("sf", [SF001, SF01])
def test_rank_error_bound(spark, sf):
    """DKW guarantee: the estimate's true rank is within ε·n of q·n.
    k=1024 gives a ~0.047 bound at 99% confidence; md5 priorities make
    the draw deterministic, so this asserts the REALIZED error — pinned
    at 0.06 with the duplicate-value two-sided rank convention
    (count(v < est)/n ≤ q + ε and count(v ≤ est)/n ≥ q − ε)."""
    eps = 0.06
    orders = _orders(spark, sf)
    st = quantile_sketch(orders, "vq", ["o_orderkey"], K)
    ests = {
        r["q_bp"]: (r["est_v"], r["n_total"])
        for r in quantile_sketch_query(st, QS).collect()
    }
    vals = [r["vq"] for r in orders.collect()]
    n = len(vals)
    for q_bp, (est, n_total) in ests.items():
        assert n_total == n
        q = q_bp / 10000.0
        lo = sum(1 for v in vals if v < est) / n
        hi = sum(1 for v in vals if v <= est) / n
        assert lo <= q + eps, (sf, q_bp, lo, hi)
        assert hi >= q - eps, (sf, q_bp, lo, hi)


def test_build_is_deterministic(spark):
    """Two builds over a reshuffled input produce identical state —
    the md5-priority contract (no RNG, no partition-order
    sensitivity)."""
    orders = _orders(spark, SF001)
    keys = ["o_orderstatus"]
    s1 = quantile_sketch(orders, "vq", ["o_orderkey"], 256, keys=keys)
    s2 = quantile_sketch(
        orders.repartition(13, "o_orderkey"),
        "vq",
        ["o_orderkey"],
        256,
        keys=keys,
    )
    assert _state_rows(s1) == _state_rows(s2)


def test_keyed_build_plan_window_group_limit(spark):
    """The keyed build's bottom-k must push a partial WindowGroupLimit
    BELOW the exchange (map-side k-bounding — the shuffle carries at
    most k rows per group per input partition, never the facts)."""
    orders = _orders(spark, SF001)
    st = quantile_sketch(
        orders, "vq", ["o_orderkey"], 512, keys=["o_orderstatus"]
    )
    plan = _explain(st)
    # two WindowGroupLimit nodes (partial below Exchange, final above)
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_global_build_plan_take_ordered(spark):
    """The global build is TakeOrderedAndProject (per-partition
    k-heaps merged on the driver) — never a global Sort."""
    orders = _orders(spark, SF001)
    st = quantile_sketch(orders, "vq", ["o_orderkey"], 512)
    plan = _explain(st)
    assert "TakeOrderedAndProject" in plan, plan
