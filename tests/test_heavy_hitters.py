"""Misra–Gries heavy hitters (operators/heavy_hitters.py): exactness
under k, the offset construction, the ε = 1/(k+1) guarantee at two
sizes, merge algebra vs a Python reference, the empty-counter merge
edge, determinism, and plan shape. Engine-vs-DuckDB parity is covered
by test_oracle_parity (agg_heavy_hitters_merged, agg_heavy_hitters_phi)."""

from __future__ import annotations

import hashlib
import io
from collections import Counter
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from blockchain_data_engineering_spark.operators.heavy_hitters import (
    heavy_hitters,
    heavy_hitters_estimate,
    heavy_hitters_merge,
    heavy_hitters_state,
)


def _tb(item: str) -> int:
    return int(hashlib.md5(item.encode()).hexdigest()[:15], 16)


def _ref_offset(freqs: Counter, k: int) -> tuple[dict, int]:
    """Python reference of the offset step: exact counts → keep top k
    by (cnt desc, md5, item), subtract the (k+1)-th count, drop ≤ 0."""
    ranked = sorted(freqs.items(), key=lambda t: (-t[1], _tb(t[0]), t[0]))
    d = ranked[k][1] if len(ranked) > k else 0
    kept = {it: c - d for it, c in ranked[:k] if c - d > 0}
    return kept, d


def _zipf(spark, n, groups=1):
    # deterministic skew: item id = floor(sqrt(id)) → item j appears
    # ~2j+1 times (heavy head, long tail)
    return spark.range(0, n).select(
        (F.col("id") % groups).alias("g"),
        F.floor(F.sqrt(F.col("id"))).cast("string").alias("it"),
    )


def _state_rows(state):
    return {
        tuple(r[:-3]) if len(r) > 3 else (): (
            r["n_total"],
            r["err"],
            {s["item"]: s["c"] for s in r["counters"]},
        )
        for r in state.collect()
    }


def test_exact_when_under_k(spark):
    """≤ k distinct items: err = 0 and every count is exact."""
    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1, "it string"
    )
    out = heavy_hitters(df, "it", k=8).collect()
    got = {r["item"]: (r["count_lo"], r["count_hi"]) for r in out}
    assert got == {"a": (5, 5), "b": (3, 3), "c": (1, 1)}
    assert all(r["n_total"] == 9 for r in out)


def test_offset_construction_known_value(spark):
    """k = 2 over 4 items (5,3,2,2): d = the 3rd count = 2, kept
    counters are 5−2 and 3−2, err = 2, and count_hi = the exact
    count for a fresh build (c + err = cnt)."""
    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 2 + [("d",)] * 2
    df = spark.createDataFrame(rows, "it string")
    out = heavy_hitters(df, "it", k=2).collect()
    got = {r["item"]: (r["count_lo"], r["count_hi"]) for r in out}
    assert got == {"a": (3, 5), "b": (1, 3)}


def test_boundary_tie_cancels_on_both_sides(spark):
    """Items tied WITH the (k+1)-th count get c = 0 and drop — the
    deterministic boundary the oracle replays with the same cnt > d
    predicate."""
    rows = [("a",)] * 4 + [("b",)] * 2 + [("c",)] * 2 + [("d",)] * 2
    df = spark.createDataFrame(rows, "it string")
    out = heavy_hitters(df, "it", k=2).collect()
    assert {r["item"] for r in out} == {"a"}


def test_guarantee_two_sizes(spark):
    """The MG contract at two population sizes: count_lo ≤ f ≤
    count_hi, err ≤ n/(k+1), and every item with f > err is present
    (completeness of the φ-heavy-hitter scan)."""
    for n in (3_000, 30_000):
        df = _zipf(spark, n)
        k = 16
        state = heavy_hitters_state(df, "it", k)
        (_, (n_total, err, kept)), = _state_rows(state).items()
        freqs = Counter(r["it"] for r in df.collect())
        assert n_total == n
        assert err * (k + 1) <= n
        for it, c in kept.items():
            assert c <= freqs[it] <= c + err, (it, c, err, freqs[it])
        for it, f in freqs.items():
            if f > err:
                assert it in kept, (it, f, err)


def test_merge_matches_reference_algebra(spark):
    """merge(state(A), state(B)) follows the PODS-2012 algebra exactly
    (counter-add, (k+1)-th-largest subtraction, err accumulation) —
    checked against a Python reference over the halves' states — and
    the merged state still satisfies the guarantee vs the union's
    exact frequencies."""
    pop = _zipf(spark, 12_000, groups=2)
    a = pop.where(F.col("it").cast("long") % 2 == 0)
    b = pop.where(F.col("it").cast("long") % 2 == 1)
    k = 8
    sa = heavy_hitters_state(a, "it", k, keys=["g"])
    sb = heavy_hitters_state(b, "it", k, keys=["g"])
    merged = heavy_hitters_merge(sa, sb, k, keys=["g"])
    got = _state_rows(merged)

    ra, rb = _state_rows(sa), _state_rows(sb)
    union_freqs: dict = {}
    for r in pop.collect():
        union_freqs.setdefault(r["g"], Counter())[r["it"]] += 1
    for g in set(ra) | set(rb):
        na, ea, ca = ra.get(g, (0, 0, {}))
        nb, eb, cb = rb.get(g, (0, 0, {}))
        combined = Counter(ca) + Counter(cb)
        kept, d = _ref_offset(combined, k)
        n_total, err, counters = got[g]
        assert n_total == na + nb
        assert err == ea + eb + d
        assert counters == kept
        # guarantee vs the union's exact counts
        assert err * (k + 1) <= n_total
        for it, c in counters.items():
            assert c <= union_freqs[g[0]][it] <= c + err


def test_merge_keeps_err_of_cancelled_groups(spark):
    """A group whose counters ALL cancel keeps its state row (empty
    counters array) so err survives a further merge — the bound
    f ≤ err must not be silently dropped."""
    flat = spark.createDataFrame(
        [("x",)] * 2 + [("y",)] * 2 + [("z",)] * 2, "it string"
    )
    k = 1
    s = heavy_hitters_state(flat, "it", k)
    row = s.collect()[0]
    assert row["counters"] == [] and row["err"] == 2 and row["n_total"] == 6
    est = heavy_hitters_estimate(s).collect()
    assert est == []
    heavy = spark.createDataFrame([("w",)] * 9, "it string")
    merged = heavy_hitters_merge(s, heavy_hitters_state(heavy, "it", k), k)
    m = merged.collect()[0]
    assert m["n_total"] == 15 and m["err"] == 2
    assert {c["item"]: c["c"] for c in m["counters"]} == {"w": 9}
    # the true frequency of w (9) sits inside [count_lo, count_hi]
    e = heavy_hitters_estimate(merged).collect()[0]
    assert e["count_lo"] <= 9 <= e["count_hi"]


def test_merge_disjoint_one_sided_groups_pass_through(spark):
    """A group present in only one input passes through unchanged
    (d = 0 from the missing side)."""
    a = spark.createDataFrame([("g1", "a")] * 3, "g string, it string")
    b = spark.createDataFrame([("g2", "b")] * 4, "g string, it string")
    k = 4
    merged = heavy_hitters_merge(
        heavy_hitters_state(a, "it", k, keys=["g"]),
        heavy_hitters_state(b, "it", k, keys=["g"]),
        k,
        keys=["g"],
    )
    got = _state_rows(merged)
    assert got[("g1",)] == (3, 0, {"a": 3})
    assert got[("g2",)] == (4, 0, {"b": 4})


def test_determinism_under_reshuffle(spark):
    pop = _zipf(spark, 8_000, groups=3)
    k = 12
    rows = lambda df: sorted(  # noqa: E731
        map(tuple, heavy_hitters(df, "it", k, keys=["g"]).collect())
    )
    assert rows(pop) == rows(pop.repartition(17, "it"))


def test_keyed_plan_window_group_limit(spark):
    """The keyed top-(k+1) over the aggregated grain must push a
    partial WindowGroupLimit below the exchange; the offset table
    joins back as a broadcast; no Python UDFs anywhere."""
    pop = _zipf(spark, 2_000, groups=2)
    df = heavy_hitters(pop, "it", 16, keys=["g"])
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_phi_scan_complete_and_sound(spark):
    """heavy_hitters_above at φ = 1/10 with k = 16 (φ > 1/(k+1), so
    the scan is complete): every item with f > n/10 appears, every
    `guaranteed` row truly clears the bar, and nothing with
    count_hi ≤ φ·n leaks in."""
    from collections import Counter

    from blockchain_data_engineering_spark.operators.heavy_hitters import (
        heavy_hitters_above,
        heavy_hitters_state,
    )

    df = _zipf(spark, 10_000)
    freqs = Counter(r["it"] for r in df.collect())
    n = 10_000
    state = heavy_hitters_state(df, "it", k=16)
    rows = heavy_hitters_above(state, 1, 10).collect()
    got = {r["item"]: r for r in rows}
    for it, f in freqs.items():
        if f * 10 > n:
            assert it in got, (it, f)
    for it, r in got.items():
        assert r["count_hi"] * 10 > n
        if r["guaranteed"]:
            assert freqs[it] * 10 > n, (it, freqs[it])
