"""Round-11 operators: multi-class log-loss (true-class score grain),
one-sided KL(cur‖ref) on the drift grain, Krippendorff's alpha
ordinal metric (cumulative-marginal transform) and its per-unit
drill-down, top-label and adaptive ECE, and the log_loss SQL-twin
truncation guard. The round's confusion-cell tests (label MI, ARI,
the class report, the macro-F1 store read, the weighted-kappa
envelope) live in test_agreement.py. Hand-computed known values +
edge conventions; DuckDB parity runs in test_oracle_parity."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from blockchain_data_engineering_spark.operators.dq import (
    distribution_drift_tvd,
    distribution_kl,
    distribution_psi,
)
from blockchain_data_engineering_spark.operators.ml_eval import (
    krippendorff_alpha,
    log_loss_multiclass,
)

# The confusion-cell tests live in test_agreement.py; importing them
# here keeps each one collected under this module's name as well.
from test_agreement import (  # noqa: F401
    test_adjusted_rand_determinism_and_cells,
    test_adjusted_rand_known_values,
    test_ari_store_read_equals_direct,
    test_class_report_excludes_null_keys_and_repartition,
    test_class_report_known_values,
    test_class_report_store_read_equals_direct,
    test_class_report_sums_to_macro_scalars,
    test_label_mi_determinism_under_repartition,
    test_label_mi_edges,
    test_label_mi_known_values,
    test_label_mi_permutation_and_independence,
    test_macro_f1_from_cells_excludes_null_keys,
    test_macro_f1_store_read_equals_direct,
    test_weighted_kappa_envelope_guard,
)

S = 1000
G = 1000


# ---------------------------------------------------------------------------
# multi-class log-loss
# ---------------------------------------------------------------------------
def _py_ll_mc(scores, s_max):
    """Textbook clamped multi-class log-loss (float): one arm only,
    −ln(p_true) with p_true clamped to ≥ 1/s_max."""
    return sum(-math.log(max(1, s) / s_max) for s in scores) / len(scores)


def test_log_loss_multiclass_known_values(spark):
    scores = [800, 200, 1000, 0, 500]
    df = spark.createDataFrame([(s,) for s in scores], "s long")
    out = log_loss_multiclass(df, F.col("s"), s_max=S).collect()[0]
    assert out.n == 5
    # ONLY the hard zero clamps (one-sided clamp: p_true = 1 is a
    # legal exact-0 term, unlike the binary form's upper edge)
    assert out.n_clamped == 1
    assert abs(out.log_loss - _py_ll_mc(scores, S)) < 1e-9
    # a perfectly-confident correct prediction costs exactly 0
    one = spark.createDataFrame([(S,)], "s long")
    o = log_loss_multiclass(one, F.col("s"), s_max=S).collect()[0]
    assert o.n_clamped == 0 and o.log_loss == 0.0 and int(o.ll_num) == 0
    # binary consistency: with k = 2 and both arms expressed as
    # true-class scores, multiclass == binary log_loss on the same
    # facts (y rows score s, ¬y rows score s_max − s), up to the
    # binary form's extra upper clamp — avoid the clamp edges here
    from blockchain_data_engineering_spark.operators.ml_eval import log_loss

    rows = [(True, 800), (False, 200), (True, 437), (False, 998)]
    bdf = spark.createDataFrame(rows, "y boolean, s long")
    b = log_loss(bdf, F.col("y"), F.col("s"), s_max=S).collect()[0]
    mdf = spark.createDataFrame(
        [(s if y else S - s,) for y, s in rows], "s long"
    )
    m = log_loss_multiclass(mdf, F.col("s"), s_max=S).collect()[0]
    assert m.ll_num == b.ll_num and m.log_loss == b.log_loss


def test_log_loss_multiclass_edges(spark):
    df = spark.createDataFrame(
        [(500, "a"), (None, "a"), (-1, "a"), (S + 1, "a"), (0, "b")],
        "s long, k string",
    )
    rows = {
        r["k"]: r
        for r in log_loss_multiclass(
            df, F.col("s"), s_max=S, keys=["k"]
        ).collect()
    }
    # NULL and out-of-range scores are excluded; the hard zero clamps
    assert rows["a"].n == 1 and rows["a"].n_clamped == 0
    assert rows["b"].n == 1 and rows["b"].n_clamped == 1
    assert abs(rows["b"].log_loss - (-math.log(1 / S))) < 1e-9
    # empty input: one global row of zeros, NULL scalar
    empty = spark.createDataFrame([], "s long")
    e = log_loss_multiclass(empty, F.col("s"), s_max=S).collect()[0]
    assert e.n == 0 and e.log_loss is None and int(e.ll_num) == 0


def test_log_loss_multiclass_determinism_under_repartition(spark):
    import random

    rng = random.Random(13)
    scores = [rng.randrange(0, S + 1) for _ in range(400)]
    df = spark.createDataFrame([(s,) for s in scores], "s long")
    a = log_loss_multiclass(df, F.col("s"), s_max=S).collect()[0]
    b = log_loss_multiclass(
        df.repartition(11), F.col("s"), s_max=S
    ).collect()[0]
    assert a.ll_num == b.ll_num and a.log_loss == b.log_loss
    assert abs(a.log_loss - _py_ll_mc(scores, S)) < 1e-9


def test_log_loss_sql_twin_truncates_like_spark(spark):
    """r10 ADVICE #1: on a CONTRACT-VIOLATING non-integral score the
    binary twins used to diverge silently — Spark cast("long")
    truncates, DuckDB CAST(.. AS BIGINT) rounds half-even. The twin
    now truncates via CAST(floor(·) AS BIGINT); both engines must
    agree even on fractional scores."""
    import duckdb
    import pandas as pd

    from blockchain_data_engineering_spark.operators.ml_eval import log_loss
    from blockchain_data_engineering_spark.plans.oracles import (
        log_loss_multiclass_sql,
        log_loss_sql,
    )

    rows = [(True, 500.5), (False, 2.5), (True, 999.5), (False, 3.49)]
    sdf = spark.createDataFrame(rows, "y boolean, s double")
    got = log_loss(sdf, F.col("y"), F.col("s"), s_max=S).collect()[0]
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["y", "s"]))
    want = con.execute(log_loss_sql("y", "s", S, "t")).fetchone()
    # (n, n_clamped, ll_num, log_loss)
    assert (got.n, got.n_clamped, str(got.ll_num), got.log_loss) == want
    mdf = spark.createDataFrame([(s,) for _, s in rows], "s double")
    mgot = log_loss_multiclass(mdf, F.col("s"), s_max=S).collect()[0]
    con.register("m", pd.DataFrame({"s": [s for _, s in rows]}))
    mwant = con.execute(log_loss_multiclass_sql("s", S, "m")).fetchone()
    assert (mgot.n, mgot.n_clamped, str(mgot.ll_num), mgot.log_loss) == mwant


# ---------------------------------------------------------------------------
# one-sided KL on the drift grain
# ---------------------------------------------------------------------------
def _py_kl(ref_counts, cur_counts, g):
    """Float KL of the asymmetrically-quantized shares — cur floored
    (0 stays 0), ref eps-filled to one quantum."""
    nr, nc = sum(ref_counts.values()), sum(cur_counts.values())
    out = 0.0
    for v in set(ref_counts) | set(cur_counts):
        qr = max(1, ref_counts.get(v, 0) * g // nr)
        qc = cur_counts.get(v, 0) * g // nc
        if qc > 0:
            out += (qc / g) * (math.log(qc) - math.log(qr))
    return out


def test_distribution_kl_known_values(spark):
    ref = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 20, "v string"
    )
    cur = spark.createDataFrame(
        [("a",)] * 60 + [("b",)] * 30 + [("d",)] * 10, "v string"
    )
    out = distribution_kl(ref, cur, "v").collect()[0]
    assert out.n_ref == 100 and out.n_cur == 100 and out.n_categories == 4
    rc = Counter({"a": 50, "b": 30, "c": 20})
    cc = Counter({"a": 60, "b": 30, "d": 10})
    assert abs(out.kl - _py_kl(rc, cc, G)) < 1e-9
    # direction matters: the reverse reading is a DIFFERENT number
    rev = distribution_kl(cur, ref, "v").collect()[0]
    assert rev.kl != out.kl
    # identical mixes → exactly 0 at the integer level
    same = distribution_kl(ref, ref, "v").collect()[0]
    assert int(same.kl_num) == 0 and same.kl == 0.0
    # a category the reference never saw hits the eps arm with finite
    # (not infinite) surprise, and the sum stays positive
    assert out.kl > 0


def test_distribution_kl_edges(spark):
    ref = spark.createDataFrame([("a", "g"), ("b", "g")], "v string, k string")
    empty_cur = spark.createDataFrame([], "v string, k string")
    out = distribution_kl(ref, empty_cur, "v", keys=["k"]).collect()[0]
    # one side empty: surfaced (counts), never scored
    assert out.n_cur == 0 and out.kl is None and int(out.kl_num) == 0
    # NULL keys excluded at entry (the keyed-join alignment class):
    # identical NULL-keyed data must NOT read as drift
    nref = spark.createDataFrame(
        [(None, "a"), (None, "a"), ("g", "a"), ("g", "b")],
        "k string, v string",
    )
    rows = {
        r["k"]: r
        for r in distribution_kl(nref, nref, "v", keys=["k"]).collect()
    }
    assert set(rows) == {"g"} and rows["g"].kl == 0.0


def test_drift_quartet_shares_one_grain(spark):
    """TVD, PSI, JS and now KL all run the shared _drift_share_grain:
    identical n_ref/n_cur/n_categories on the same input, and
    PSI == KL(p‖q) + KL(q‖p) EXACTLY at the integer level (Jeffreys'
    identity — the quantizations coincide: PSI's eps-clamp applies to
    both sides, the two directional KLs eps-fill their respective
    denominator sides, and the numerators add term-by-term)."""
    ref = spark.createDataFrame(
        [("a", "g")] * 40 + [("b", "g")] * 10, "v string, k string"
    )
    cur = spark.createDataFrame(
        [("a", "g")] * 25 + [("c", "g")] * 25, "v string, k string"
    )
    t = distribution_drift_tvd(ref, cur, "v", keys=["k"]).collect()[0]
    p = distribution_psi(ref, cur, "v", keys=["k"]).collect()[0]
    k1 = distribution_kl(ref, cur, "v", keys=["k"]).collect()[0]
    k2 = distribution_kl(cur, ref, "v", keys=["k"]).collect()[0]
    for r in (p, k1, k2):
        assert (r.n_ref + r.n_cur, r.n_categories) == (
            t.n_ref + t.n_cur,
            t.n_categories,
        )
    # Jeffreys' identity PSI == KL(p‖q) + KL(q‖p) holds EXACTLY at
    # the integer level when every category has support on both
    # sides (no eps arm fires and no q floors to 0 — the three
    # quantizations then coincide term-by-term)
    ref2 = spark.createDataFrame(
        [("a", "g")] * 40 + [("b", "g")] * 10, "v string, k string"
    )
    cur2 = spark.createDataFrame(
        [("a", "g")] * 25 + [("b", "g")] * 25, "v string, k string"
    )
    p2 = distribution_psi(ref2, cur2, "v", keys=["k"]).collect()[0]
    ka = distribution_kl(ref2, cur2, "v", keys=["k"]).collect()[0]
    kb = distribution_kl(cur2, ref2, "v", keys=["k"]).collect()[0]
    assert int(p2.psi_num) == int(ka.kl_num) + int(kb.kl_num)


# ---------------------------------------------------------------------------
# Krippendorff ordinal
# ---------------------------------------------------------------------------
def _py_alpha_ordinal(votes, max_raters):
    """Textbook ordinal-metric alpha (float): δ²(c,k) = (between-
    marginal mass − endpoint halves)², pairwise double-loop form —
    the independent reference for the moment-form implementation."""
    units = defaultdict(list)
    for u, c in votes:
        units[u].append(c)
    kept = {u: v for u, v in units.items() if 2 <= len(v) <= max_raters}
    if not kept:
        return None
    margin = Counter(c for v in kept.values() for c in v)
    n = sum(margin.values())
    cum, s = {}, 0
    for c in sorted(margin):
        s += margin[c]
        cum[c] = s

    def delta(c, k):
        lo, hi = min(c, k), max(c, k)
        between = cum[hi] - cum[lo] + margin[lo]
        return (between - (margin[lo] + margin[hi]) / 2) ** 2

    do = sum(
        sum(cnt[c] * cnt[k] * delta(c, k) for c in cnt for k in cnt if c != k)
        / (len(v) - 1)
        for v, cnt in ((v, Counter(v)) for v in kept.values())
    ) / n
    de_num = sum(
        margin[c] * margin[k] * delta(c, k)
        for c in margin
        for k in margin
        if c != k
    )
    if de_num == 0 or n < 2:
        return None
    de = de_num / (n * (n - 1))
    return 1 - do / de


def test_krippendorff_ordinal_known_values(spark):
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
        df, "item", "cat", max_raters=4, metric="ordinal"
    ).collect()[0]
    assert out.n_units == 5 and out.n_units_single == 1
    assert out.alpha == pytest.approx(
        _py_alpha_ordinal(votes, 4), abs=1e-12
    )
    # perfect agreement on ≥ 2 distinct values → alpha exactly 1
    perfect = spark.createDataFrame(
        [("a", 1), ("a", 1), ("b", 4), ("b", 4)], "item string, cat long"
    )
    p = krippendorff_alpha(
        perfect, "item", "cat", metric="ordinal"
    ).collect()[0]
    assert p.alpha == 1.0
    # all votes one value → chance disagreement 0 → NULL (den 0)
    const = spark.createDataFrame(
        [("a", 3), ("a", 3), ("b", 3), ("b", 3)], "item string, cat long"
    )
    c = krippendorff_alpha(
        const, "item", "cat", metric="ordinal"
    ).collect()[0]
    assert c.alpha is None and int(c.alpha_den) == 0


def test_krippendorff_ordinal_equals_interval_on_uniform_marginals(spark):
    """With EQUAL category marginals, e_c = 2·cum_c − n_c is affine in
    the category rank, and alpha's D_o/D_e ratio is affine-invariant —
    so ordinal must equal interval on the rank indexes exactly. The
    identity breaks (by design) the moment the marginals skew."""
    votes = []
    for u in range(36):
        a, b = u % 6, (u * 5 + 1) % 6
        votes.append((f"u{u}", a))
        votes.append((f"u{u}", b))
    assert len(set(Counter(c for _, c in votes).values())) == 1  # uniform
    df = spark.createDataFrame(votes, "item string, cat long")
    o = krippendorff_alpha(df, "item", "cat", metric="ordinal").collect()[0]
    i = krippendorff_alpha(df, "item", "cat", metric="interval").collect()[0]
    assert o.alpha == i.alpha
    # skewed marginals: the two metrics genuinely diverge
    skew = votes + [(f"s{j}", 0) for j in range(20) for _ in (0, 1)]
    sdf = spark.createDataFrame(
        [(u, c) for u, c in skew], "item string, cat long"
    )
    so = krippendorff_alpha(sdf, "item", "cat", metric="ordinal").collect()[0]
    si = krippendorff_alpha(sdf, "item", "cat", metric="interval").collect()[0]
    assert so.alpha != si.alpha


def test_krippendorff_ordinal_edges(spark):
    # ragged coverage + NULL keys (the keyed-join alignment class)
    votes = spark.createDataFrame(
        [(None, "u2", 1), (None, "u2", 2), ("g", "u3", 1),
         ("g", "u3", 1), ("g", "u4", 1), ("g", "u4", 3)],
        "k string, item string, cat long",
    )
    a = krippendorff_alpha(
        votes, "item", "cat", keys=["k"], metric="ordinal"
    ).collect()
    assert {r["k"] for r in a} == {"g"} and a[0].n_units == 2
    # a category that fails the long cast raises LOUDLY (the DuckDB
    # twin's CAST errors on the same input) instead of silently
    # dropping its cells from the moment sums — under ANSI mode
    # (Spark 4 default) the cast itself raises; with ANSI off the
    # operator's own assert_true backstop fires
    bad = spark.createDataFrame(
        [("u1", "3"), ("u1", "oops"), ("u2", "1"), ("u2", "2")],
        "item string, cat string",
    )
    with pytest.raises(Exception, match="not castable|CAST_INVALID_INPUT"):
        krippendorff_alpha(bad, "item", "cat", metric="ordinal").collect()
    # determinism under repartition (integer numerators)
    import random

    rng = random.Random(23)
    rv = [
        (f"u{rng.randrange(50)}", rng.randrange(5)) for _ in range(400)
    ]
    rdf = spark.createDataFrame(rv, "item string, cat long")
    x = krippendorff_alpha(rdf, "item", "cat", metric="ordinal").collect()[0]
    y = krippendorff_alpha(
        rdf.repartition(19), "item", "cat", metric="ordinal"
    ).collect()[0]
    assert (x.alpha_num, x.alpha_den, x.alpha) == (
        y.alpha_num,
        y.alpha_den,
        y.alpha,
    )
    assert x.alpha == pytest.approx(_py_alpha_ordinal(rv, 16), abs=1e-12)


# ---------------------------------------------------------------------------
# plan pins for the r11 gates
# ---------------------------------------------------------------------------
def test_r11_plan_shapes(spark, sf_dir):
    """Plan pins: multiclass log-loss is the binary gate's shape (one
    aggregate chain, one broadcast-hash ln-table lookup, no Window /
    shuffle join); KL keeps the bounded drift windows + broadcast
    lookups; label MI is a cell-grain window, two broadcast-hash
    marginal joins and one tagged-union aggregate with NO cartesian
    anywhere; ordinal alpha is cartesian-free (the category 'cross'
    is the e-transform equi join); the macro-F1 store read ends in
    the per-class equi join and one aggregate (no BNLJ at all)."""
    from test_plans import _plan

    p = _plan(spark, sf_dir, "ml_log_loss_multiclass")
    assert "Window" not in p and "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
    # r12: the ln-table lookup is a literal-array get — no join left
    assert "BroadcastHashJoin" not in p
    p = _plan(spark, sf_dir, "dq_distribution_kl")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    p = _plan(spark, sf_dir, "ml_label_mi")
    assert "CartesianProduct" not in p
    # the group total is a window over the cells, the two marginals
    # reach the cells by broadcast-hash equi joins on the label, the
    # ln lookups are literal-array gets, and one tagged-union
    # aggregate recombines the terms — no compose join, never a BNLJ
    assert "BroadcastNestedLoopJoin" not in p
    p = _plan(spark, sf_dir, "ml_krippendorff_ordinal")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    p = _plan(spark, sf_dir, "ml_macro_f1_from_store")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin Cross") == 0


# ---------------------------------------------------------------------------
# drift explain (batch 2): the drill-down must SUM to the scalars
# ---------------------------------------------------------------------------
def test_drift_explain_terms_sum_to_scalars(spark):
    from blockchain_data_engineering_spark.operators.dq import (
        distribution_drift_explain,
        distribution_js,
    )

    ref = spark.createDataFrame(
        [("a", "g")] * 40 + [("b", "g")] * 10 + [("c", "g")] * 5,
        "v string, k string",
    )
    cur = spark.createDataFrame(
        [("a", "g")] * 20 + [("b", "g")] * 25 + [("d", "g")] * 5,
        "v string, k string",
    )
    rows = distribution_drift_explain(ref, cur, "v", keys=["k"]).collect()
    assert len(rows) == 4  # union of categories
    t = distribution_drift_tvd(ref, cur, "v", keys=["k"]).collect()[0]
    p = distribution_psi(ref, cur, "v", keys=["k"]).collect()[0]
    kl = distribution_kl(ref, cur, "v", keys=["k"]).collect()[0]
    assert sum(int(r.tvd_term_num) for r in rows) == int(t.tvd_num)
    assert sum(int(r.psi_term_num) for r in rows) == int(p.psi_num)
    assert sum(int(r.kl_term_num) for r in rows) == int(kl.kl_num)
    # psi terms are individually >= 0; kl terms CAN be negative, and
    # at least one is here (category a's current share trails ref)
    assert all(int(r.psi_term_num) >= 0 for r in rows)
    assert any(int(r.kl_term_num) < 0 for r in rows)
    # share_delta is the human-readable column: sums to ~0 over the
    # union (both sides are full distributions)
    assert abs(sum(r.share_delta for r in rows)) < 1e-12
    # empty side: terms surfaced as NULL, counts kept
    empty = spark.createDataFrame([], "v string, k string")
    er = distribution_drift_explain(ref, empty, "v", keys=["k"]).collect()
    assert er and all(
        r.psi_term_num is None and r.kl_term_num is None for r in er
    )
    # identical inputs: zero drift in every term of every category
    same = distribution_drift_explain(ref, ref, "v", keys=["k"]).collect()
    assert all(
        int(r.tvd_term_num) == int(r.psi_term_num) == int(r.kl_term_num) == 0
        for r in same
    )
    # and JS still reads 0 on the same identical input (family check)
    j = distribution_js(ref, ref, "v", keys=["k"]).collect()[0]
    assert j.js == 0.0


def test_r11_batch2_plan_shapes(spark, sf_dir):
    """ARI is the leanest agreement plan: union + aggregations only —
    NO joins of any kind (assert no join operators at all); the
    drift explain stops one aggregate short of the scalar plans and
    keeps their bounded windows + broadcast lookups, BNLJ-free."""
    from test_plans import _plan

    p = _plan(spark, sf_dir, "ml_adjusted_rand")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
    assert "BroadcastHashJoin" not in p  # zero joins, not even lookups
    assert "Window" not in p
    p = _plan(spark, sf_dir, "dq_drift_explain")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    # r12: the ln-table lookups are literal-array gets — join-free
    assert "BroadcastHashJoin" not in p


# ---------------------------------------------------------------------------
# top-label ECE (batch 3)
# ---------------------------------------------------------------------------
def _py_ece_top(items, s_max, n_bins):
    """Pure-python top-label ECE: argmax (score desc, class asc),
    then the binned |acc − conf| sum."""
    binned = defaultdict(lambda: [0, 0, 0])  # nb, pos, ssum
    for act, scores in items:
        cls, s = min(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        b = min(s * n_bins // s_max, n_bins - 1)
        binned[b][0] += 1
        binned[b][1] += 1 if cls == act else 0
        binned[b][2] += s
    n = sum(v[0] for v in binned.values())
    num = sum(abs(s_max * pos - ssum) for _, pos, ssum in binned.values())
    return num / (n * s_max), n


def test_ece_top_label_known_values(spark):
    from blockchain_data_engineering_spark.operators.ml_eval import (
        ece_top_label,
    )

    items = [
        ("en", {"en": 900, "fr": 100}),
        ("fr", {"en": 600, "fr": 400}),
        ("en", {"en": 500, "fr": 500}),  # tie -> 'en' (class ASC) = hit
        ("de", {"en": 300, "de": 300}),  # tie -> 'de' < 'en' ASC = hit
    ]
    rows = [
        (i, c, s, act)
        for i, (act, scores) in enumerate(items)
        for c, s in scores.items()
    ]
    df = spark.createDataFrame(rows, "item long, cls string, s long, act string")
    out = ece_top_label(df, "item", "cls", "s", "act", 1000, 10).collect()[0]
    ref, n = _py_ece_top(items, 1000, 10)
    assert out.n == n == 4
    assert abs(out.ece - ref) < 1e-12
    # out-of-range candidate scores are excluded BEFORE the argmax:
    # the item keeps its best VALID candidate, not no candidate
    df2 = spark.createDataFrame(
        [(0, "a", 1500, "a"), (0, "b", 700, "a")],
        "item long, cls string, s long, act string",
    )
    o2 = ece_top_label(df2, "item", "cls", "s", "act", 1000, 10).collect()[0]
    assert o2.n == 1
    # argmax fell to 'b' (the valid 700), a miss: acc 0, conf 0.7
    assert int(o2.ece_num) == abs(1000 * 0 - 700)


def test_ece_top_label_determinism_under_repartition(spark):
    from blockchain_data_engineering_spark.operators.ml_eval import (
        ece_top_label,
    )

    import random

    rng = random.Random(3)
    rows = [
        (i, c, rng.randint(0, 1000), rng.choice("abcd"))
        for i in range(150)
        for c in "abcd"
    ]
    df = spark.createDataFrame(rows, "item long, cls string, s long, act string")
    base = ece_top_label(df, "item", "cls", "s", "act", 1000, 10).collect()
    for parts in (1, 13):
        again = ece_top_label(
            df.repartition(parts), "item", "cls", "s", "act", 1000, 10
        ).collect()
        assert again == base


# ---------------------------------------------------------------------------
# per-unit Krippendorff disagreement drill-down (batch 3)
# ---------------------------------------------------------------------------
def test_krippendorff_explain_known_values(spark):
    from blockchain_data_engineering_spark.operators.ml_eval import (
        krippendorff_disagreement_explain,
    )

    # unit 1: {a,a,b} m=3 du=9-5=4 (ordered disagreeing pairs),
    # disagreement 4/6; unit 2: {a,a} unanimous; unit 3: single
    # (dropped); unit 4: 5 votes > max_raters=4 (dropped)
    votes = (
        [(1, "a"), (1, "a"), (1, "b"), (2, "a"), (2, "a"), (3, "a")]
        + [(4, "a")] * 5
    )
    df = spark.createDataFrame(votes, "item long, cat string")
    rows = {
        r["unit"]: r
        for r in krippendorff_disagreement_explain(
            df, "item", "cat", max_raters=4
        ).collect()
    }
    assert set(rows) == {1, 2}
    lcm = math.lcm(1, 2, 3)
    u1 = rows[1]
    assert u1.n_ratings == 3 and u1.n_categories_unit == 2
    assert int(u1.du_num) == 4 * (lcm // 2)
    assert u1.disagreement == 4 / 6
    u2 = rows[2]
    assert int(u2.du_num) == 0 and u2.disagreement == 0.0
    # interval: unit {0, 2} -> du = m*S2 - S1^2 = 2*4 - 4 = 4
    # (= unordered pair squared distance (0-2)^2 = 4), /(m(m-1)) = 2
    df2 = spark.createDataFrame([(1, 0), (1, 2)], "item long, cat long")
    r2 = krippendorff_disagreement_explain(
        df2, "item", "cat", max_raters=4, metric="interval"
    ).collect()[0]
    assert int(r2.du_num) == 4 * (lcm // 1) and r2.disagreement == 2.0


@pytest.mark.parametrize("metric", ["nominal", "interval", "ordinal"])
def test_krippendorff_explain_sums_to_alpha(spark, metric):
    """The drill-down contract: alpha_den − (n_ratings − 1)·Σ du_num
    == alpha_num, per group — the per-unit rows ARE the scalar's
    observed-disagreement side."""
    from blockchain_data_engineering_spark.operators.ml_eval import (
        krippendorff_disagreement_explain,
    )

    import random

    rng = random.Random(17)
    votes = []
    for u in range(60):
        for _ in range(rng.choice([1, 2, 3, 4, 5])):
            votes.append(("g%d" % (u % 2), u, rng.randint(0, 4)))
    df = spark.createDataFrame(votes, "k string, item long, cat long")
    al = {
        r["k"]: r
        for r in krippendorff_alpha(
            df, "item", "cat", keys=["k"], max_raters=4, metric=metric
        ).collect()
    }
    sums = defaultdict(int)
    for r in krippendorff_disagreement_explain(
        df, "item", "cat", keys=["k"], max_raters=4, metric=metric
    ).collect():
        sums[r["k"]] += int(r["du_num"])
    for k, a in al.items():
        assert int(a["alpha_den"]) - (a["n_ratings"] - 1) * sums[k] == int(
            a["alpha_num"]
        )


# ---------------------------------------------------------------------------
# plan pins for the batch-3 gates
# ---------------------------------------------------------------------------
def test_r11_batch3_plan_shapes(spark, sf_dir):
    """Plan pins: the class report is the macro scalar's plan stopped
    one aggregate short (equi joins only); the agreement explain ends
    in TakeOrderedAndProject (top-100, never a global sort
    materialization) with no BNLJ; top-label ECE plans EXACTLY the
    one audited broadcast nested-loop (docs × distinct-langs dim) and
    the argmax rides WindowGroupLimit (rank-limit pushdown, O(1)
    per-item state); the ARI store read keeps adjusted_rand's
    zero-join tagged-union shape — no join operator at all."""
    from test_plans import _plan

    p = _plan(spark, sf_dir, "ml_class_report")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "Window" not in p
    p = _plan(spark, sf_dir, "ml_agreement_explain")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p
    p = _plan(spark, sf_dir, "ml_ece_top_label")
    # exactly ONE nested-loop node — formatted explain prints a node
    # in the tree AND the details section, so count the tree form
    # (the "Cross BuildRight" line), the r10 tree+detail-aware idiom
    assert p.count("BroadcastNestedLoopJoin Cross") == 1  # the class dim
    assert "CartesianProduct" not in p
    assert "WindowGroupLimit" in p
    p = _plan(spark, sf_dir, "ml_ari_from_store")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert op not in p, f"ml_ari_from_store plans a {op}"


# ---------------------------------------------------------------------------
# adaptive (equal-mass-bin) ECE (batch 4)
# ---------------------------------------------------------------------------
def _py_ece_adaptive(rows, s_max, n_bins):
    """Pure-python rank-binned ECE at the distinct-score grain (ties
    never split across bins)."""
    per = defaultdict(lambda: [0, 0, 0])
    for y, s in rows:
        per[s][0] += 1
        per[s][1] += 1 if y else 0
        per[s][2] += s
    n = len(rows)
    cum = 0
    bins = defaultdict(lambda: [0, 0])
    for s in sorted(per):
        cnt, pos, ssum = per[s]
        b = cum * n_bins // n
        bins[b][0] += pos
        bins[b][1] += ssum
        cum += cnt
    num = sum(abs(s_max * pos - ssum) for pos, ssum in bins.values())
    return num / (n * s_max), len(bins)


def test_ece_adaptive_known_values(spark):
    from blockchain_data_engineering_spark.operators.ml_eval import (
        ece_adaptive,
    )

    # 6 rows, 2 bins: scores sorted [100,100,100,700,900,1000] — the
    # 100-tie run holds the whole first bin (rank 0 -> bin 0, the
    # fourth row starts bin 1); hand-checkable numerator
    rows = [
        (True, 100), (False, 100), (False, 100),
        (True, 700), (True, 900), (False, 1000),
    ]
    df = spark.createDataFrame(rows, "y boolean, s long")
    out = ece_adaptive(df, F.col("y"), F.col("s"), 1000, 2).collect()[0]
    # bin0: pos=1 ssum=300 -> |1000*1-300|=700; bin1: pos=2
    # ssum=2600 -> |2000-2600|=600; ece = 1300/6000
    assert out.n == 6 and out.n_bins_used == 2
    assert int(out.ece_num) == 1300 and out.ece == 1300 / 6000
    ref, nbu = _py_ece_adaptive(rows, 1000, 2)
    assert abs(out.ece - ref) < 1e-12 and out.n_bins_used == nbu
    # a tie run SPANNING a bin boundary stays whole: 4 rows all score
    # 500 with 4 bins -> one bin used
    df2 = spark.createDataFrame([(True, 500)] * 4, "y boolean, s long")
    o2 = ece_adaptive(df2, F.col("y"), F.col("s"), 1000, 4).collect()[0]
    assert o2.n_bins_used == 1 and int(o2.ece_num) == abs(4000 - 2000)


def test_ece_adaptive_vs_python_and_repartition(spark):
    from blockchain_data_engineering_spark.operators.ml_eval import (
        ece_adaptive,
    )

    import random

    rng = random.Random(23)
    rows = [
        (rng.random() < 0.4,
         rng.choice([0, 50, 50, 50, 777, 1000, rng.randint(0, 1000)]))
        for _ in range(400)
    ]
    df = spark.createDataFrame(rows, "y boolean, s long")
    base = ece_adaptive(df, F.col("y"), F.col("s"), 1000, 7).collect()[0]
    ref, nbu = _py_ece_adaptive(rows, 1000, 7)
    assert abs(base.ece - ref) < 1e-12 and base.n_bins_used == nbu
    for parts in (1, 17):
        again = ece_adaptive(
            df.repartition(parts), F.col("y"), F.col("s"), 1000, 7
        ).collect()[0]
        assert tuple(again) == tuple(base)


def test_ece_adaptive_edges(spark):
    from blockchain_data_engineering_spark.operators.ml_eval import (
        ece_adaptive,
    )

    df = spark.createDataFrame([(True, 10)], "y boolean, s long")
    with pytest.raises(ValueError):
        ece_adaptive(df, F.col("y"), F.col("s"), 1000, 0)
    # unlike ece there is NO n_bins <= s_max rule: bins are drawn by
    # mass, so n_bins > s_max is legal (sparse scores use fewer bins)
    o = ece_adaptive(df, F.col("y"), F.col("s"), 10, 50).collect()[0]
    assert o.n == 1 and o.n_bins_used == 1
    # empty input: one zero row, ece NULL (the ece convention)
    e = ece_adaptive(
        df.where(F.lit(False)), F.col("y"), F.col("s"), 10, 5
    ).collect()
    assert len(e) == 1 and e[0].n == 0 and e[0].ece is None


def test_ece_adaptive_plan_shape(spark, sf_dir):
    """The adaptive gate keeps the pr_curve shape: joins NOWHERE
    (rank-div bin edges come from two windows bounded at the
    distinct-score grain), one <= n_bins re-aggregation."""
    from test_plans import _plan

    p = _plan(spark, sf_dir, "ml_ece_adaptive")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert op not in p, f"ml_ece_adaptive plans a {op}"
    assert "Window" in p  # the bounded distinct-score-grain windows
