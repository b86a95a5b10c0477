"""Round-9 operators: expected calibration error (Cohen's kappa and
Matthews correlation live in test_agreement.py), Spearman/Kendall
rank agreement, cumulative gain/lift, TVD distribution drift, Fleiss' kappa, RBO, the heavy-hitter
φ-scan gate tier, and the r8-verdict fixes (rrf identifier quoting + lcm guard, the
zone-map oracle's NULL-stats arm, the merge-caller materialization
hook). Hand-computed known values + edge conventions; DuckDB parity
runs in test_oracle_parity."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from blockchain_data_engineering_spark.operators.dq import (
    distribution_drift_tvd,
)
from blockchain_data_engineering_spark.operators.ml_eval import (
    cumulative_gain,
    ece,
    kendall_tau,
    rrf_fuse,
    spearman_rho,
)

# The confusion-cell tests live in test_agreement.py; importing them
# here keeps each one collected under this module's name as well.
from test_agreement import (  # noqa: F401
    test_cohens_kappa_known_values,
    test_cohens_kappa_label_sets_and_degenerates,
    test_matthews_corr_degenerate_and_nulls,
    test_matthews_corr_known_values,
)


def test_ece_known_values(spark):
    """Hand-computed 2-bin ECE at s_max=10: bin1 holds (T,9)(F,8)(T,6)
    → |10·2 − 23| = 3; bin0 holds (F,2)(T,1)(F,0) → |10·1 − 3| = 7;
    ECE = (3+7)/(6·10) = 1/6 — and the weight-cancellation identity
    means the float equals the true Σ (n_b/n)·|acc−conf| EXACTLY."""
    rows = [(True, 9), (False, 8), (True, 6), (False, 2), (True, 1),
            (False, 0)]
    df = spark.createDataFrame(rows, "y boolean, s long")
    [r] = ece(df, F.col("y"), F.col("s"), s_max=10, n_bins=2).collect()
    assert r["n"] == 6 and r["n_bins_used"] == 2
    assert int(r["ece_num"]) == 10
    assert r["ece"] == 10 / 60
    # true ECE by the textbook formula, for the identity's sake
    true = (3 / 6) * abs(2 / 3 - 23 / 30) + (3 / 6) * abs(1 / 3 - 3 / 30)
    assert abs(r["ece"] - true) < 1e-15


def test_ece_edges(spark):
    """s = s_max lands in the TOP bin (least cap); out-of-range and
    NULL rows are excluded; a perfectly calibrated constant predictor
    has ECE exactly 0; the empty global aggregate emits one row of 0s
    with ece NULL (repo empty-input convention)."""
    rows = [(True, 10), (False, 11), (True, -1), (None, 5), (True, None)]
    df = spark.createDataFrame(rows, "y boolean, s long")
    [r] = ece(df, F.col("y"), F.col("s"), s_max=10, n_bins=2).collect()
    assert r["n"] == 1  # only (True, 10) survives
    assert int(r["ece_num"]) == 0  # |10·1 − 10| = 0 in the top bin
    # perfectly calibrated: half the rows positive at s = 5 of 10
    cal = spark.createDataFrame(
        [(True, 5), (False, 5)], "y boolean, s long"
    )
    [c] = ece(cal, F.col("y"), F.col("s"), s_max=10, n_bins=1).collect()
    assert int(c["ece_num"]) == 0 and c["ece"] == 0.0
    empty = spark.createDataFrame([], "y boolean, s long")
    [e] = ece(empty, F.col("y"), F.col("s"), s_max=10, n_bins=4).collect()
    assert e["n"] == 0 and e["n_bins_used"] == 0
    assert int(e["ece_num"]) == 0 and e["ece"] is None
    with pytest.raises(ValueError):
        ece(df, F.col("y"), F.col("s"), s_max=10, n_bins=0)


def test_spearman_rho_known_values(spark):
    """Permutation pairs with known ρ: [1,2,3,4] vs [2,1,4,3] swaps
    adjacent pairs → Σd² = 4, ρ = 1 − 24/60 = 0.6; the full reversal
    gives ρ = −1 exactly; identical orders give ρ = 1; n = 1 gives
    NULL (no order to compare)."""
    rows = [
        ("g", 1, 2), ("g", 2, 1), ("g", 3, 4), ("g", 4, 3),
        ("r", 1, 4), ("r", 2, 3), ("r", 3, 2), ("r", 4, 1),
        ("i", 1, 1), ("i", 2, 2),
        ("one", 1, 1),
    ]
    df = spark.createDataFrame(rows, "k string, a long, b long")
    got = {
        r["k"]: r
        for r in spearman_rho(
            df, F.col("a"), F.col("b"), keys=["k"]
        ).collect()
    }
    assert int(got["g"]["d2_sum"]) == 4
    assert int(got["g"]["rho_num"]) == 36 and int(got["g"]["rho_den"]) == 60
    assert got["g"]["rho"] == 0.6
    assert got["r"]["rho"] == -1.0 and int(got["r"]["rho_num"]) == -60
    assert got["i"]["rho"] == 1.0 and int(got["i"]["d2_sum"]) == 0
    assert got["one"]["rho"] is None and got["one"]["n_items"] == 1


def test_kendall_tau_known_values(spark):
    """[1,2,3,4] vs [2,1,4,3]: discordant pairs {(1,2),(3,4)} → D = 2,
    τ = (C−D)/6 = 1/3; reversal → D = 6, τ = −1; identity → τ = 1;
    n = 1 → NULL with zero pairs."""
    rows = [
        ("g", "w", 1, 2), ("g", "x", 2, 1), ("g", "y", 3, 4),
        ("g", "z", 4, 3),
        ("r", "w", 1, 4), ("r", "x", 2, 3), ("r", "y", 3, 2),
        ("r", "z", 4, 1),
        ("i", "w", 1, 1), ("i", "x", 2, 2),
        ("one", "w", 1, 1),
    ]
    df = spark.createDataFrame(rows, "k string, i string, a long, b long")
    got = {
        r["k"]: r
        for r in kendall_tau(df, "i", "a", "b", keys=["k"]).collect()
    }
    g = got["g"]
    assert g["n_pairs"] == 6 and g["n_discordant"] == 2
    assert int(g["tau_num"]) == 4 and int(g["tau_den"]) == 12
    assert g["tau"] == pytest.approx(1 / 3) and g["tau"] == 4 / 12
    assert got["r"]["tau"] == -1.0 and got["r"]["n_discordant"] == 6
    assert got["i"]["tau"] == 1.0 and got["i"]["n_discordant"] == 0
    one = got["one"]
    assert one["tau"] is None and one["n_pairs"] == 0
    assert one["n_discordant"] == 0


def test_rank_agreement_determinism_under_repartition(spark):
    """Spearman's aggregate and Kendall's pair join must not depend on
    physical layout: the same rows through 1 and 13 partitions give
    identical exact numerators."""
    import random

    rng = random.Random(7)
    perm_b = list(range(1, 41))
    rng.shuffle(perm_b)
    rows = [("g", f"i{a}", a, b) for a, b in zip(range(1, 41), perm_b)]
    df = spark.createDataFrame(rows, "k string, i string, a long, b long")
    outs = []
    for parts in (1, 13):
        d = df.repartition(parts)
        [s] = spearman_rho(d, F.col("a"), F.col("b"), keys=["k"]).collect()
        [t] = kendall_tau(d, "i", "a", "b", keys=["k"]).collect()
        outs.append((str(s["rho_num"]), s["rho"], str(t["tau_num"]),
                     t["tau"]))
    assert outs[0] == outs[1]
    # cross-check the two statistics against pure-Python references
    n = 40
    d2 = sum((a - b) ** 2 for a, b in zip(range(1, 41), perm_b))
    disc = sum(
        1
        for i in range(n)
        for j in range(i + 1, n)
        if perm_b[i] > perm_b[j]
    )
    assert int(outs[0][0]) == n * (n * n - 1) - 6 * d2
    assert int(outs[0][2]) == n * (n - 1) - 4 * disc


def test_cumulative_gain_known_values(spark):
    """4 distinct scores (T,F,T,F descending), 4 buckets: bucket b
    takes exactly b rows; lift at the top quartile = 2.0 (1 of 2
    positives in 1/4 of the rows)."""
    rows = [(8, True), (7, False), (6, True), (5, False)]
    df = spark.createDataFrame(rows, "s long, y boolean")
    got = {
        r["bucket"]: r
        for r in cumulative_gain(
            df, F.col("y"), F.col("s"), n_buckets=4
        ).collect()
    }
    assert sorted(got) == [1, 2, 3, 4]
    assert got[1]["n_taken"] == 1 and got[1]["tp_taken"] == 1
    assert got[1]["cutoff"] == 1
    assert got[1]["gain"] == 0.5 and got[1]["lift"] == 2.0
    assert got[2]["lift"] == 1.0
    assert got[3]["gain"] == 1.0 and got[3]["lift"] == 8 / 6
    assert got[4]["gain"] == 1.0 and got[4]["lift"] == 1.0


def test_cumulative_gain_ties_and_edges(spark):
    """A score tie spanning a bucket boundary is NEVER split: both
    buckets read the same threshold row (n_taken = the full tie run);
    a group with no positives gets NULL gain/lift; empty input emits
    no rows."""
    tied = spark.createDataFrame(
        [(5, True), (5, False)], "s long, y boolean"
    )
    got = {
        r["bucket"]: r
        for r in cumulative_gain(
            tied, F.col("y"), F.col("s"), n_buckets=2
        ).collect()
    }
    assert sorted(got) == [1, 2]
    assert got[1]["n_taken"] == 2 and got[2]["n_taken"] == 2
    assert got[1]["cutoff"] == 1  # wanted 1 row, the tie forced 2
    nopos = spark.createDataFrame([(3, False)], "s long, y boolean")
    [r] = cumulative_gain(nopos, F.col("y"), F.col("s"), n_buckets=1).collect()
    assert r["gain"] is None and r["lift"] is None
    empty = spark.createDataFrame([], "s long, y boolean")
    assert cumulative_gain(empty, F.col("y"), F.col("s")).count() == 0
    with pytest.raises(ValueError):
        cumulative_gain(tied, F.col("y"), F.col("s"), n_buckets=0)


def test_distribution_drift_tvd_known_values(spark):
    """ref = {a:3, b:1} vs cur = {a:1, b:3} → TVD = ½(½+½) = 0.5 with
    numerator 16/32; identical mixes → exactly 0; a category present
    on one side only contributes its full share; a group missing one
    side entirely gets NULL (drift from nothing is undefined)."""
    ref = spark.createDataFrame(
        [("g", "a")] * 3 + [("g", "b")] + [("i", "x"), ("i", "y")]
        + [("only_ref", "z")],
        "k string, v string",
    )
    cur = spark.createDataFrame(
        [("g", "a")] + [("g", "b")] * 3 + [("i", "x"), ("i", "y")],
        "k string, v string",
    )
    got = {
        r["k"]: r
        for r in distribution_drift_tvd(ref, cur, "v", keys=["k"]).collect()
    }
    g = got["g"]
    assert (g["n_ref"], g["n_cur"], g["n_categories"]) == (4, 4, 2)
    assert int(g["tvd_num"]) == 16 and g["tvd"] == 0.5
    assert got["i"]["tvd"] == 0.0 and int(got["i"]["tvd_num"]) == 0
    onlyref = got["only_ref"]
    assert onlyref["n_cur"] == 0 and onlyref["tvd"] is None

    # one-sided category: ref {a:2} vs cur {a:1, b:1} → TVD = 0.5
    r2 = spark.createDataFrame([("a",), ("a",)], "v string")
    c2 = spark.createDataFrame([("a",), ("b",)], "v string")
    [o] = distribution_drift_tvd(r2, c2, "v").collect()
    assert o["n_categories"] == 2
    assert int(o["tvd_num"]) == 4 and o["tvd"] == 0.5


def test_rrf_fuse_reserved_word_rank_column(spark):
    """r8 verdict #2: a reserved-word rank column name must resolve as
    an identifier (backtick-quoted), not die in the SQL parser."""
    lists = [
        spark.createDataFrame(
            [("q", "a", 1), ("q", "b", 2)], "qid string, item string, `order` long"
        ),
        spark.createDataFrame(
            [("q", "b", 1), ("q", "a", 2)], "qid string, item string, `order` long"
        ),
    ]
    out = rrf_fuse(lists, rank_col="order", k=2).collect()
    got = {r["item"]: r["rrf_num"] for r in out}
    lcm = math.lcm(61, 62)
    assert got["a"] == lcm // 61 + lcm // 62
    assert got["a"] == got["b"]  # symmetric lists → a real tie


def test_rrf_fuse_lcm_literal_guard():
    """r9 ADVICE: lcm values in [2^63, (c+1)·2^63) passed the old
    n_lists·(lcm/(c+1)) product check but blew up later as an opaque
    ParseException — the guard must raise the documented ValueError
    up front. (c=60, k=14: lcm ≈ 2.7·10^19, lcm/61 < 2^63.)"""
    lcm = math.lcm(*range(61, 75))
    assert lcm >= 2**63 and (lcm // 61) < 2**63  # the gap case
    with pytest.raises(ValueError, match="BIGINT literal"):
        rrf_fuse([None], k=14, c=60)  # validation precedes any plan use


def test_heavy_hitter_merge_callers_materialize_inputs():
    """r9 ADVICE #3 (the assertion hook): heavy_hitters_combine
    references its input twice, so every registered query composing a
    merge over in-plan builds MUST persist the state frames and
    release them via finalize() — otherwise the whole build lineage
    re-runs per reference (measured 36 corpus scans in r8). Enforced
    over the registry source so a new caller can't quietly regress."""
    import inspect

    from blockchain_data_engineering_spark.plans import QUERIES

    offenders = []
    for name, fn in QUERIES.items():
        src = inspect.getsource(fn)
        if "heavy_hitters_merge(" in src or "heavy_hitters_combine(" in src:
            if ".persist()" not in src or "finalize(" not in src:
                offenders.append(name)
    assert not offenders, (
        "queries merging heavy-hitter states without persist+finalize "
        f"(lineage re-runs the build per reference): {offenders}"
    )


def test_zonemap_oracle_null_arm_matches_operator(spark, duck):
    """r8 verdict #3: the lake_zonemap_pruning oracle's CASE must be
    semantically identical to zonemap_scan_decisions INCLUDING the
    NULL arms — NULL stats resolve toward scanning, NULL predicate
    bounds mean unbounded. Drive BOTH through inputs that exercise
    every arm and compare decisions."""
    from blockchain_data_engineering_spark.sources.io import (
        zonemap_scan_decisions,
    )

    stats_rows = [
        (0, 10, 20, 10, 20),       # plain overlap case
        (1, None, 20, 10, 20),     # NULL x_min → must scan
        (2, 10, None, 10, 20),     # NULL x_max → must scan
        (3, 50, 60, None, None),   # NULL y stats → y dim forced scan
        (4, 50, 60, 10, 20),       # x disjoint from pred → skip
    ]
    preds_rows = [
        ("p_box", 5, 25, 5, 25),
        ("p_unbounded_hi", 5, None, 5, 25),   # NULL hi = no upper limit
        ("p_unbounded_lo", None, 25, 5, 25),  # NULL lo = no lower limit
    ]
    stats = spark.createDataFrame(
        stats_rows, "file_id long, x_min long, x_max long, y_min long, y_max long"
    )
    preds = spark.createDataFrame(
        preds_rows, "pred_id string, x_lo long, x_hi long, y_lo long, y_hi long"
    )
    dec = zonemap_scan_decisions(
        stats,
        preds,
        [("x_min", "x_max", "x_lo", "x_hi"), ("y_min", "y_max", "y_lo", "y_hi")],
    )
    got = {
        (r["file_id"], r["pred_id"]): r["must_scan"] for r in dec.collect()
    }
    stats_sql = ", ".join(
        "(" + ", ".join("NULL" if v is None else str(v) for v in row) + ")"
        for row in stats_rows
    )
    preds_sql = ", ".join(
        "('" + row[0] + "', "
        + ", ".join("NULL" if v is None else str(v) for v in row[1:]) + ")"
        for row in preds_rows
    )
    # the gate oracle's CASE, verbatim shape (plans/lake_queries.py)
    oracle = f"""
    WITH stats AS (SELECT * FROM (VALUES {stats_sql})
                   AS t(file_id, x_min, x_max, y_min, y_max)),
    preds AS (SELECT * FROM (VALUES {preds_sql})
              AS t(pred_id, x_lo, x_hi, y_lo, y_hi))
    SELECT s.file_id, p.pred_id,
           CASE WHEN ((s.x_min <= p.x_hi OR p.x_hi IS NULL)
                      AND (s.x_max >= p.x_lo OR p.x_lo IS NULL)
                      OR s.x_min IS NULL OR s.x_max IS NULL)
                 AND ((s.y_min <= p.y_hi OR p.y_hi IS NULL)
                      AND (s.y_max >= p.y_lo OR p.y_lo IS NULL)
                      OR s.y_min IS NULL OR s.y_max IS NULL)
                THEN 1 ELSE 0 END AS scan
    FROM stats s CROSS JOIN preds p
    """
    want = {
        (int(f), p): bool(s)
        for f, p, s in duck.execute(oracle).fetchall()
    }
    assert got == want
    # spot-pin the arms: a NULL stat forces ITS dimension toward
    # scanning (files 1/2 scan p_box via the NULL-x arm; file 3's NULL
    # y scans only once x also overlaps — the unbounded-hi predicate),
    # while a fully-bounded disjoint range still skips (file 4), and a
    # NULL predicate bound removes that side's limit (file 4 scans
    # p_unbounded_hi)
    assert got[(1, "p_box")] and got[(2, "p_box")]
    assert not got[(3, "p_box")]  # x disjoint rules it out despite NULL y
    assert got[(3, "p_unbounded_hi")]  # x overlaps → NULL y stats scan
    assert not got[(4, "p_box")]
    assert got[(4, "p_unbounded_hi")]  # x_hi unbounded → overlap


def test_r9_plan_shapes(spark, sf_dir):
    """Plan pins for the new gate queries: the exact-scalar aggregates
    stay Window-free single-aggregate plans; the gain sweep keeps its
    explode (no spine BNLJ); kendall's pair join keys on user_id (no
    cartesian); the φ-scan keeps the WindowGroupLimit-bounded build."""
    from test_plans import _plan, _plan_of

    from blockchain_data_engineering_spark.catalog import load_table, spread
    from blockchain_data_engineering_spark.plans.parity import quanta

    s_max = 300_000_00  # capped order price, quanta(2)

    def urgent_ece():
        orders = spread(load_table(spark, sf_dir, "orders"))
        return ece(
            orders,
            label=F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            score_q=F.least(quanta(F.col("o_totalprice"), 2), F.lit(s_max)),
            s_max=s_max,
            n_bins=10,
            keys=["o_orderstatus"],
        )

    p = _plan_of(spark, urgent_ece)
    assert "Window" not in p and "BroadcastNestedLoopJoin" not in p
    p = _plan(spark, sf_dir, "ml_matthews_corr")
    assert "Window" not in p and "Join" not in p  # ONE aggregate chain
    p = _plan(spark, sf_dir, "ml_cumulative_gain")
    assert "Generate" in p  # explode(sequence(...)), not a spine join
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    p = _plan(spark, sf_dir, "ml_kendall_tau")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    p = _plan(spark, sf_dir, "dq_distribution_drift")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    p = _plan(spark, sf_dir, "agg_heavy_hitters_phi")
    assert "WindowGroupLimit" in p


def test_fleiss_kappa_known_values(spark):
    """The Fleiss (1971) worked example: N=10 subjects, n=14 raters,
    5 categories → S1 = 688, S2 = 4170, κ = 42110/200590 ≈ 0.2099.
    A partial ballot (5 of 14 votes) must be dropped and counted."""
    from blockchain_data_engineering_spark.operators.ml_eval import (
        fleiss_kappa,
    )

    table = [
        [0, 0, 0, 0, 14], [0, 2, 6, 4, 2], [0, 0, 3, 5, 6],
        [0, 3, 9, 2, 0], [2, 2, 8, 1, 1], [7, 7, 0, 0, 0],
        [3, 2, 6, 3, 0], [2, 5, 3, 2, 2], [6, 5, 2, 1, 0],
        [0, 2, 2, 3, 7],
    ]
    rows = [
        (f"i{i}", f"c{c}")
        for i, cats in enumerate(table)
        for c, cnt in enumerate(cats)
        for _ in range(cnt)
    ] + [("partial", "c0")] * 5
    df = spark.createDataFrame(rows, "item string, cat string")
    [r] = fleiss_kappa(df, "item", "cat", n_raters=14).collect()
    assert r["n_items"] == 10 and r["n_items_dropped"] == 1
    assert r["n_categories"] == 5
    assert int(r["fleiss_num"]) == 42110
    assert int(r["fleiss_den"]) == 200590
    assert r["fleiss_kappa"] == 42110 / 200590


def test_fleiss_kappa_edges(spark):
    """Unanimous raters on every item with >1 category in play →
    κ = 1 exactly; every vote in ONE category → denominator 0 → NULL
    (P̄_e = 1, degenerate); two raters reduce to the Cohen layout;
    n_raters < 2 rejected."""
    import pytest as _pt

    from blockchain_data_engineering_spark.operators.ml_eval import (
        fleiss_kappa,
    )

    unani = spark.createDataFrame(
        [("a", "x")] * 3 + [("b", "y")] * 3, "item string, cat string"
    )
    [u] = fleiss_kappa(unani, "item", "cat", n_raters=3).collect()
    assert u["fleiss_kappa"] == 1.0

    const = spark.createDataFrame(
        [("a", "x")] * 3 + [("b", "x")] * 3, "item string, cat string"
    )
    [c] = fleiss_kappa(const, "item", "cat", n_raters=3).collect()
    assert int(c["fleiss_den"]) == 0 and c["fleiss_kappa"] is None

    with _pt.raises(ValueError):
        fleiss_kappa(unani, "item", "cat", n_raters=1)


def test_rbo_known_values(spark):
    """k=3, p=9/10: scale = 10³·lcm(1,2,3) = 6000, suffix weights
    S = [1032, 432, 162], identical-lists sum 1626. [x,y,z] vs
    [y,x,z] matches x,y at depth 2 and z at depth 3 → 432+432+162 =
    1026 (hand-check via X_d: 0·600 + (2/2)·540 + (3/3)·486);
    identical lists score rbo_norm exactly 1; disjoint lists emit 0
    for the query, not nothing."""
    from blockchain_data_engineering_spark.operators.ml_eval import (
        rbo_at_k,
        rbo_weights,
    )

    scale, full, suffix = rbo_weights(3, 9, 10)
    assert scale == 6000 and suffix == [1032, 432, 162]
    assert full == 1626  # 6·(10³ − 9³): the identical-lists numerator

    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "qid string, item string, rank long"
    )
    a = mk([("q1", "x", 1), ("q1", "y", 2), ("q1", "z", 3),
            ("q2", "x", 1), ("q2", "y", 2), ("q2", "z", 3),
            ("q3", "x", 1), ("q3", "y", 2), ("q3", "z", 3)])
    b = mk([("q1", "y", 1), ("q1", "x", 2), ("q1", "z", 3),
            ("q2", "x", 1), ("q2", "y", 2), ("q2", "z", 3),
            ("q3", "p", 1), ("q3", "q", 2), ("q3", "r", 3)])
    got = {
        r["qid"]: r for r in rbo_at_k(a, b, k=3, p_num=9, p_den=10).collect()
    }
    assert got["q1"]["rbo_num"] == 1026 and got["q1"]["n_matched"] == 3
    assert got["q1"]["rbo"] == 1026 / 6000
    assert got["q2"]["rbo_num"] == 1626 and got["q2"]["rbo_norm"] == 1.0
    assert got["q3"]["rbo_num"] == 0 and got["q3"]["n_matched"] == 0
    assert got["q3"]["rbo"] == 0.0


def test_rbo_edges_and_overflow(spark):
    """Rows with rank outside 1..k are ignored (a rank-4 entry of a
    longer list can't leak in); top-weighting: a rank-1 match scores
    strictly more than the same match at rank k; the scale overflow
    guard raises the documented ValueError (k=13 at p=9/10 blows the
    BIGINT literal budget)."""
    from blockchain_data_engineering_spark.operators.ml_eval import (
        rbo_at_k,
        rbo_weights,
    )

    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "qid string, item string, rank long"
    )
    a = mk([("q", "x", 1), ("q", "deep", 4)])
    b = mk([("q", "x", 1), ("q", "deep", 4)])
    [r] = rbo_at_k(a, b, k=3, p_num=9, p_den=10).collect()
    assert r["n_matched"] == 1 and r["rbo_num"] == 1032  # only rank 1

    top = rbo_at_k(
        mk([("q", "x", 1)]), mk([("q", "x", 1)]), k=3, p_num=9, p_den=10
    ).collect()[0]["rbo_num"]
    bottom = rbo_at_k(
        mk([("q", "x", 3)]), mk([("q", "x", 3)]), k=3, p_num=9, p_den=10
    ).collect()[0]["rbo_num"]
    assert top > bottom

    with pytest.raises(ValueError, match="rbo overflow"):
        rbo_weights(13, 9, 10)
    with pytest.raises(ValueError):
        rbo_weights(3, 10, 10)  # p must be inside (0, 1)


def test_ece_and_fleiss_match_python_under_repartition(spark):
    """Randomized (seeded) cross-check: the Spark ECE and Fleiss
    numerators equal a pure-Python evaluation of the same integer
    algebra, identically at 1 and 13 partitions (aggregation order
    cannot matter for exact integer sums)."""
    import random
    from collections import Counter, defaultdict

    from blockchain_data_engineering_spark.operators.ml_eval import (
        ece,
        fleiss_kappa,
    )

    rng = random.Random(99)
    s_max, n_bins = 1000, 7
    rows = [(rng.random() < 0.4, rng.randint(0, s_max)) for _ in range(500)]
    bins = defaultdict(lambda: [0, 0])
    for y, s in rows:
        b = min((s * n_bins) // s_max, n_bins - 1)
        bins[b][0] += int(y)
        bins[b][1] += s
    want_ece = sum(abs(s_max * pos - ssum) for pos, ssum in bins.values())

    n_raters = 3
    ballots = {
        f"i{i}": [rng.choice("abc") for _ in range(n_raters)]
        for i in range(120)
    }
    s1, col = 0, Counter()
    for votes in ballots.values():
        cnt = Counter(votes)
        s1 += sum(v * (v - 1) for v in cnt.values())
        col.update(cnt)
    s2 = sum(v * v for v in col.values())
    N = len(ballots)
    want_num = s1 * N * n_raters - s2 * (n_raters - 1)
    want_den = (N * N * n_raters * n_raters - s2) * (n_raters - 1)

    edf = spark.createDataFrame(rows, "y boolean, s long")
    fdf = spark.createDataFrame(
        [(i, c) for i, votes in ballots.items() for c in votes],
        "item string, cat string",
    )
    for parts in (1, 13):
        [e] = ece(
            edf.repartition(parts), F.col("y"), F.col("s"),
            s_max=s_max, n_bins=n_bins,
        ).collect()
        assert int(e["ece_num"]) == want_ece and e["n"] == 500
        [f] = fleiss_kappa(
            fdf.repartition(parts), "item", "cat", n_raters=n_raters
        ).collect()
        assert int(f["fleiss_num"]) == want_num
        assert int(f["fleiss_den"]) == want_den
