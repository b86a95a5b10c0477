"""Round-10 operators: log-loss + PSI + Jensen-Shannon (the literal
log-quanta-table family the r9 verdict sanctioned), Krippendorff's
alpha (ragged multi-rater agreement, nominal + interval metrics), and
the r9-verdict nits (ece n_bins≤s_max guard, kendall NULL group
keys). Weighted kappa and the eval-cell store's kappa read live in
test_agreement.py. Hand-computed known values + edge conventions;
DuckDB parity runs in test_oracle_parity."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from blockchain_data_engineering_spark.operators.dq import (
    distribution_psi,
    psi_ln_table,
)
from blockchain_data_engineering_spark.operators.ml_eval import (
    kendall_tau,
    krippendorff_alpha,
    log_loss,
    log_loss_table,
    weighted_kappa,
)

# The confusion-cell tests live in test_agreement.py; importing them
# here keeps each one collected under this module's name as well.
from test_agreement import (  # noqa: F401
    test_agreement_ops_exclude_null_keys,
    test_eval_cells_store_serving_matches_direct_kappa,
    test_weighted_kappa_binary_equals_unweighted,
    test_weighted_kappa_degenerate_and_validation,
    test_weighted_kappa_known_values,
)

S = 1000  # default score grid for the log-loss tests


def _py_log_loss(rows, s_max):
    """Textbook clamped log-loss, float-computed — the independent
    reference the integer design must reproduce to ~1e-12."""
    clamp = lambda s: max(1, min(s_max - 1, s))  # noqa: E731
    return sum(
        -math.log(clamp(s) / s_max)
        if y
        else -math.log(1 - clamp(s) / s_max)
        for y, s in rows
    ) / len(rows)


def test_log_loss_known_values(spark):
    rows = [(True, 800), (False, 200), (True, 1000), (False, 0), (True, 500)]
    df = spark.createDataFrame(rows, "y boolean, s long")
    out = log_loss(df, F.col("y"), F.col("s"), s_max=S).collect()[0]
    assert out.n == 5
    # s=1000 under y=1 and s=0 under y=0 both hit the eps-quantum clamp
    assert out.n_clamped == 2
    assert abs(out.log_loss - _py_log_loss(rows, S)) < 1e-9
    # a perfectly-confident correct prediction costs one quantum, not 0
    one = spark.createDataFrame([(True, S)], "y boolean, s long")
    o = log_loss(one, F.col("y"), F.col("s"), s_max=S).collect()[0]
    assert o.n_clamped == 1
    assert abs(o.log_loss - (-math.log((S - 1) / S))) < 1e-9


def test_log_loss_edges(spark):
    df = spark.createDataFrame(
        [(True, 500, "a"), (None, 500, "a"), (True, None, "a"),
         (True, -1, "a"), (True, S + 1, "a"), (False, 300, "b")],
        "y boolean, s long, k string",
    )
    rows = {
        r["k"]: r
        for r in log_loss(
            df, F.col("y"), F.col("s"), s_max=S, keys=["k"]
        ).collect()
    }
    # NULL label, NULL score, and out-of-range scores are excluded
    assert rows["a"].n == 1 and rows["b"].n == 1
    # empty input: global agg emits one row with n=0 and NULL scalar
    empty = spark.createDataFrame([], "y boolean, s long")
    e = log_loss(empty, F.col("y"), F.col("s"), s_max=S).collect()[0]
    assert e.n == 0 and e.log_loss is None and int(e.ll_num) == 0
    with pytest.raises(ValueError, match="s_max"):
        log_loss_table(1)
    with pytest.raises(ValueError, match="s_max"):
        log_loss_table(5000)


def test_log_loss_determinism_under_repartition(spark):
    import random

    rng = random.Random(7)
    rows = [
        (rng.random() < 0.4, rng.randrange(0, S + 1)) for _ in range(500)
    ]
    df = spark.createDataFrame(rows, "y boolean, s long")
    a = log_loss(df, F.col("y"), F.col("s"), s_max=S).collect()[0]
    b = log_loss(
        df.repartition(13), F.col("y"), F.col("s"), s_max=S
    ).collect()[0]
    assert a.ll_num == b.ll_num and a.log_loss == b.log_loss
    assert abs(a.log_loss - _py_log_loss(rows, S)) < 1e-9


def _py_psi(cats, g):
    """Float PSI of the floor-quantized, eps-filled shares — what the
    integer design computes exactly (up to the 1e-12 table error)."""
    q = lambda c, n: max(1, (c * g) // n)  # noqa: E731
    nr = sum(r for r, _ in cats)
    nc = sum(c for _, c in cats)
    return sum(
        (q(c, nc) - q(r, nr)) * (math.log(q(c, nc)) - math.log(q(r, nr)))
        for r, c in cats
    ) / g


def test_distribution_psi_known_values(spark):
    ref = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 20, "v string"
    )
    cur = spark.createDataFrame(
        [("a",)] * 30 + [("b",)] * 50 + [("d",)] * 20, "v string"
    )
    out = distribution_psi(ref, cur, "v").collect()[0]
    assert out.n_ref == 100 and out.n_cur == 100 and out.n_categories == 4
    cats = [(50, 30), (30, 50), (20, 0), (0, 20)]
    assert abs(out.psi - _py_psi(cats, 1000)) < 1e-9
    # identical mixes → every term 0 exactly (no epsilon residue)
    same = distribution_psi(ref, ref, "v").collect()[0]
    assert int(same.psi_num) == 0 and same.psi == 0.0


def test_distribution_psi_edges(spark):
    ref = spark.createDataFrame([("a", "g1")], "v string, k string")
    cur = spark.createDataFrame([("a", "g2")], "v string, k string")
    rows = {
        r["k"]: r
        for r in distribution_psi(ref, cur, "v", keys=["k"]).collect()
    }
    # one-sided groups: psi NULL (surface, don't score), psi_num 0
    assert rows["g1"].psi is None and int(rows["g1"].psi_num) == 0
    assert rows["g2"].psi is None and int(rows["g2"].psi_num) == 0
    with pytest.raises(ValueError, match="share_grid"):
        psi_ln_table(1)
    with pytest.raises(ValueError, match="share_grid"):
        psi_ln_table(10_000)


def _py_js(cats, g):
    """Float JS of the floor-quantized share vectors (0·ln0 = 0) —
    what the integer design computes exactly."""
    q = lambda c, n: (c * g) // n  # noqa: E731
    nr = sum(r for r, _ in cats)
    nc = sum(c for _, c in cats)
    js = 0.0
    for r, c in cats:
        qr, qc = q(r, nr), q(c, nc)
        m = qr + qc
        if m == 0:
            continue
        if qr:
            js += qr * (math.log(2 * qr) - math.log(m))
        if qc:
            js += qc * (math.log(2 * qc) - math.log(m))
    return js / (2 * g)


def test_distribution_js_known_values(spark):
    from blockchain_data_engineering_spark.operators.dq import (
        distribution_js,
    )

    ref = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 20, "v string"
    )
    cur = spark.createDataFrame(
        [("a",)] * 30 + [("b",)] * 50 + [("d",)] * 20, "v string"
    )
    out = distribution_js(ref, cur, "v").collect()[0]
    cats = [(50, 30), (30, 50), (20, 0), (0, 20)]
    assert abs(out.js - _py_js(cats, 1000)) < 1e-9
    # identical mixes → exactly 0 at the integer level
    same = distribution_js(ref, ref, "v").collect()[0]
    assert int(same.js_num) == 0 and same.js == 0.0
    # disjoint supports → exactly the ln 2 bound (each side's mass
    # meets an all-other mixture; no epsilon convention involved)
    xa = spark.createDataFrame([("x",), ("x",)], "v string")
    xb = spark.createDataFrame([("y",), ("y",)], "v string")
    dj = distribution_js(xa, xb, "v").collect()[0]
    assert abs(dj.js - math.log(2)) < 1e-9
    # one-sided group → NULL (surface, don't score)
    empty = spark.createDataFrame([], "v string")
    e = distribution_js(xa, empty, "v").collect()[0]
    assert e.js is None and int(e.js_num) == 0
    with pytest.raises(ValueError, match="share_grid"):
        distribution_js(xa, xb, "v", share_grid=4096)


def _py_alpha(votes, max_raters):
    """Textbook nominal Krippendorff's alpha (float), Krippendorff
    2011 coincidence formulation, on the kept units."""
    units = defaultdict(Counter)
    for u, c in votes:
        units[u][c] += 1
    kept = {
        u: cnt
        for u, cnt in units.items()
        if 2 <= sum(cnt.values()) <= max_raters
    }
    if not kept:
        return None
    n = sum(sum(c.values()) for c in kept.values())
    do = sum(
        (sum(c.values()) ** 2 - sum(v * v for v in c.values()))
        / (sum(c.values()) - 1)
        for c in kept.values()
    ) / n
    nc = Counter()
    for c in kept.values():
        nc.update(c)
    de_num = n * n - sum(v * v for v in nc.values())
    if de_num == 0 or n < 2:
        return None
    de = de_num / (n * (n - 1))
    return 1 - do / de


def test_krippendorff_known_values(spark):
    votes = [
        ("u1", "a"), ("u1", "a"),
        ("u2", "b"), ("u2", "b"),
        ("u3", "c"), ("u3", "c"), ("u3", "b"),
        ("u4", "c"), ("u4", "c"),
        ("u5", "b"), ("u5", "a"),
        ("u6", "a"),  # single ballot — dropped and counted
    ]
    df = spark.createDataFrame(votes, "item string, cat string")
    out = krippendorff_alpha(df, "item", "cat", max_raters=4).collect()[0]
    assert out.n_units == 5 and out.n_ratings == 11
    assert out.n_units_single == 1 and out.n_units_overflow == 0
    assert out.alpha == pytest.approx(_py_alpha(votes, 4), abs=1e-12)
    # hand-derived: U = 6·[(4-4)/1 + (4-4)/1 + (9-5)/2 + (4-4)/1 +
    # (4-2)/1] = 6·4 = 24 with LCM=6 → U=24... the exact integers:
    assert (int(out.alpha_num), int(out.alpha_den)) == (240, 480)
    assert out.alpha == 0.5


def test_krippendorff_vs_fleiss_complete_ballots(spark):
    """On COMPLETE ballots α and Fleiss' κ nearly coincide (they
    differ only in the (n−1) small-sample correction): the Fleiss 1971
    worked example (N=10 units, 14 raters, κ = 42110/200590 ≈ 0.2099)
    must give α within the O(1/(N·n)) gap, and the operator must match
    the float reference exactly-to-1e-12."""
    from blockchain_data_engineering_spark.operators.ml_eval import (
        fleiss_kappa,
    )

    table = [
        [0, 0, 0, 0, 14], [0, 2, 6, 4, 2], [0, 0, 3, 5, 6],
        [0, 3, 9, 2, 0], [2, 2, 8, 1, 1], [7, 7, 0, 0, 0],
        [3, 2, 6, 3, 0], [2, 5, 3, 2, 2], [6, 5, 2, 1, 0],
        [0, 2, 2, 3, 7],
    ]
    votes = [
        (f"i{i}", f"c{c}")
        for i, row in enumerate(table)
        for c, cnt in enumerate(row)
        for _ in range(cnt)
    ]
    df = spark.createDataFrame(votes, "item string, cat string")
    a = krippendorff_alpha(df, "item", "cat", max_raters=16).collect()[0]
    assert a.n_units == 10 and a.n_ratings == 140
    assert a.alpha == pytest.approx(_py_alpha(votes, 16), abs=1e-12)
    k = fleiss_kappa(df, "item", "cat", n_raters=14).collect()[0]
    assert k.fleiss_kappa == pytest.approx(42110 / 200590, abs=1e-12)
    assert abs(a.alpha - k.fleiss_kappa) < 0.01


def test_krippendorff_edges(spark):
    # all votes one category → chance disagreement 0 → NULL
    one = spark.createDataFrame(
        [("u1", "a"), ("u1", "a"), ("u2", "a"), ("u2", "a")],
        "item string, cat string",
    )
    o = krippendorff_alpha(one, "item", "cat").collect()[0]
    assert o.alpha is None and int(o.alpha_den) == 0
    # overflow units are dropped AND counted
    over = spark.createDataFrame(
        [("u1", "a")] * 5 + [("u2", "a"), ("u2", "b")],
        "item string, cat string",
    )
    ov = krippendorff_alpha(over, "item", "cat", max_raters=4).collect()[0]
    assert ov.n_units_overflow == 1 and ov.n_units == 1
    with pytest.raises(ValueError, match="max_raters"):
        krippendorff_alpha(one, "item", "cat", max_raters=2)
    with pytest.raises(ValueError, match="max_raters"):
        krippendorff_alpha(one, "item", "cat", max_raters=64)


def test_kendall_tau_null_group_keys_excluded(spark):
    """r9 ADVICE: a NULL-keyed group used to survive the counts
    aggregate but lose its pairs in the equi self-join, reporting a
    spurious n_discordant = 0. NULL keys are now excluded at entry."""
    rows = [
        ("u1", "x", 1, 2), ("u1", "y", 2, 1),
        (None, "x", 1, 2), (None, "y", 2, 1),
    ]
    df = spark.createDataFrame(rows, "k string, i string, ra long, rb long")
    out = kendall_tau(df, "i", "ra", "rb", keys=["k"]).collect()
    assert {r["k"] for r in out} == {"u1"}
    assert out[0].n_discordant == 1 and out[0].tau == -1.0


def test_ece_bins_guard(spark):
    from blockchain_data_engineering_spark.operators.ml_eval import ece
    from blockchain_data_engineering_spark.plans.oracles import ece_sql

    df = spark.createDataFrame([(True, 1)], "y boolean, s long")
    with pytest.raises(ValueError, match="n_bins"):
        ece(df, F.col("y"), F.col("s"), s_max=1, n_bins=10)
    with pytest.raises(ValueError, match="n_bins"):
        ece_sql("y", "s", 1, 10, "t")
    # the boundary case n_bins == s_max stays legal
    out = ece(df, F.col("y"), F.col("s"), s_max=10, n_bins=10).collect()
    assert out[0].n == 1


def test_r10_plan_shapes(spark, sf_dir):
    """Plan pins for the new gate queries: log-loss is a pure
    aggregate chain whose only join is the broadcast-hash ln-table
    lookup (no Window, never a shuffle join — the lookup dim is tiny
    by construction); PSI/JS keep the bounded drift windows plus the
    same broadcast lookups, no BNLJ/cartesian; the agreement gates
    stay cartesian-free (the weighted-kappa marginal cross is an
    equi join on the group key) and the kappa store read plans no
    nested-loop join."""
    from test_plans import _plan

    p = _plan(spark, sf_dir, "ml_log_loss")
    assert "Window" not in p and "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
    # r12: the ln-table lookup is a literal-array get — no join left
    assert "BroadcastHashJoin" not in p
    p = _plan(spark, sf_dir, "dq_distribution_psi")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    p = _plan(spark, sf_dir, "dq_distribution_js")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    p = _plan(spark, sf_dir, "ml_krippendorff")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    p = _plan(spark, sf_dir, "ml_krippendorff_interval")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    p = _plan(spark, sf_dir, "ml_weighted_kappa")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    p = _plan(spark, sf_dir, "ml_kappa_from_store")
    # the store read ends in cohens_kappa's tagged-union aggregate:
    # the global kappa composes its observed and chance terms without
    # a join, so no nested-loop join is left to audit
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_r10_agreement_determinism_under_repartition(spark):
    """The module determinism contract for the r10 agreement ops: the
    exact integer numerators (and hence the scalars) are identical
    under any partitioning."""
    import random

    rng = random.Random(11)
    votes = [
        (f"u{rng.randrange(40)}", f"c{rng.randrange(4)}")
        for _ in range(300)
    ]
    vdf = spark.createDataFrame(votes, "item string, cat string")
    a1 = krippendorff_alpha(vdf, "item", "cat").collect()[0]
    a2 = krippendorff_alpha(vdf.repartition(17), "item", "cat").collect()[0]
    assert (a1.alpha_num, a1.alpha_den, a1.alpha) == (
        a2.alpha_num,
        a2.alpha_den,
        a2.alpha,
    )
    pairs = [
        (rng.randrange(6), rng.randrange(6)) for _ in range(300)
    ]
    pdf = spark.createDataFrame(pairs, "a long, b long")
    w1 = weighted_kappa(pdf, F.col("a"), F.col("b"), "quadratic").collect()[0]
    w2 = weighted_kappa(
        pdf.repartition(17), F.col("a"), F.col("b"), "quadratic"
    ).collect()[0]
    assert (w1.kappa_num, w1.kappa_den, w1.kappa) == (
        w2.kappa_num,
        w2.kappa_den,
        w2.kappa,
    )


def test_drift_trio_shares_one_grain(spark):
    """TVD, PSI and JS all run the shared _drift_share_grain: on the
    same input their n_ref/n_cur/n_categories MUST agree — a drift
    dashboard reads the three side by side from one construction."""
    from blockchain_data_engineering_spark.operators.dq import (
        distribution_drift_tvd,
        distribution_js,
        distribution_psi,
    )

    ref = spark.createDataFrame(
        [("a", "g")] * 40 + [("b", "g")] * 10, "v string, k string"
    )
    cur = spark.createDataFrame(
        [("a", "g")] * 25 + [("c", "g")] * 25, "v string, k string"
    )
    t = distribution_drift_tvd(ref, cur, "v", keys=["k"]).collect()[0]
    p = distribution_psi(ref, cur, "v", keys=["k"]).collect()[0]
    j = distribution_js(ref, cur, "v", keys=["k"]).collect()[0]
    for r in (p, j):
        assert (r.n_ref, r.n_cur, r.n_categories) == (
            t.n_ref,
            t.n_cur,
            t.n_categories,
        )
    # and the three lenses rank this drift sensibly: all strictly
    # positive, JS within its ln 2 bound, TVD within [0, 1]
    assert 0 < t.tvd <= 1 and p.psi > 0 and 0 < j.js <= math.log(2)


def _py_alpha_interval(votes, max_raters):
    """Textbook interval-metric alpha (float): δ² = (c − k)² over the
    integer category values, pairwise double-loop form."""
    units = defaultdict(list)
    for u, c in votes:
        units[u].append(c)
    kept = {
        u: v for u, v in units.items() if 2 <= len(v) <= max_raters
    }
    if not kept:
        return None
    n = sum(len(v) for v in kept.values())
    do = sum(
        sum((a - b) ** 2 for a in v for b in v) / (len(v) - 1)
        for v in kept.values()
    ) / n
    allv = [c for v in kept.values() for c in v]
    de_num = sum((a - b) ** 2 for a in allv for b in allv)
    if de_num == 0 or n < 2:
        return None
    de = de_num / (n * (n - 1))
    return 1 - do / de


def test_krippendorff_interval_known_values(spark):
    votes = [
        ("u1", 4), ("u1", 5),
        ("u2", 0), ("u2", 1), ("u2", 0),
        ("u3", 3), ("u3", 3),
        ("u4", 2), ("u4", 5),
        ("u5", 1),  # single ballot — dropped and counted
        ("u6", 2), ("u6", 2), ("u6", 3),
    ]
    df = spark.createDataFrame(votes, "item string, cat long")
    out = krippendorff_alpha(
        df, "item", "cat", max_raters=4, metric="interval"
    ).collect()[0]
    assert out.n_units == 5 and out.n_units_single == 1
    assert out.alpha == pytest.approx(
        _py_alpha_interval(votes, 4), abs=1e-12
    )
    # adjacent-tier disagreement scores FAR below maximal disagreement
    # (the reason interval exists): same vote pattern, tiers 4/5 vs 0/5
    near = spark.createDataFrame(
        [("a", 4), ("a", 5), ("b", 0), ("b", 1), ("c", 2), ("c", 3)],
        "item string, cat long",
    )
    far = spark.createDataFrame(
        [("a", 0), ("a", 5), ("b", 0), ("b", 5), ("c", 0), ("c", 5)],
        "item string, cat long",
    )
    a_near = krippendorff_alpha(
        near, "item", "cat", metric="interval"
    ).collect()[0]
    a_far = krippendorff_alpha(
        far, "item", "cat", metric="interval"
    ).collect()[0]
    assert a_near.alpha > a_far.alpha
    # all votes the SAME value → interval chance disagreement 0 → NULL
    const = spark.createDataFrame(
        [("u1", 3), ("u1", 3), ("u2", 3), ("u2", 3)],
        "item string, cat long",
    )
    c = krippendorff_alpha(
        const, "item", "cat", metric="interval"
    ).collect()[0]
    assert c.alpha is None and int(c.alpha_den) == 0
    with pytest.raises(ValueError, match="metric"):
        krippendorff_alpha(const, "item", "cat", metric="ratio")


def test_drift_ops_exclude_null_keys(spark):
    """Review regression (r10): the drift grain's full-outer category
    join cannot match NULL = NULL keys — before the entry exclusion a
    NULL-keyed group's IDENTICAL category landed as two unmatched
    rows and PSI/JS read MAXIMAL drift for identical data. NULL keys
    are now excluded (the kendall_tau keyed-join convention)."""
    from blockchain_data_engineering_spark.operators.dq import (
        distribution_drift_tvd,
        distribution_js,
        distribution_psi,
    )

    ref = spark.createDataFrame(
        [(None, "a"), (None, "a"), ("g", "a"), ("g", "b")],
        "k string, v string",
    )
    for op in (distribution_psi, distribution_js, distribution_drift_tvd):
        rows = {r["k"]: r for r in op(ref, ref, "v", keys=["k"]).collect()}
        assert set(rows) == {"g"}, op.__name__
        # and identical data scores 0 drift in the surviving group
        stat = rows["g"][4] if op is not distribution_drift_tvd else rows["g"]["tvd"]
        assert stat == 0.0, op.__name__
