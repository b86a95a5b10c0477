"""Round-8 eval operators: average precision (PR-curve scalar) and
NDCG@k (graded ranking) — hand-computed known values, the quantization
algebra, and edge conventions. Heavy hitters live in
test_heavy_hitters.py, macro-F1 in test_agreement.py; DuckDB parity in
test_oracle_parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from blockchain_data_engineering_spark.operators.ml_eval import (
    _AP_SCALE,
    _NDCG_RATIO_SCALE,
    average_precision,
    ndcg_at_k,
    ndcg_discounts,
)

# The confusion-cell tests live in test_agreement.py; importing them
# here keeps each one collected under this module's name as well.
from test_agreement import (  # noqa: F401
    test_macro_f1_known_values,
    test_macro_f1_perfect_and_keys,
)


def test_average_precision_known_values(spark):
    """sklearn's step-wise AP on labels (+,−,+,+) at scores (4,3,2,1):
    AP = (1 + 2/3 + 3/4)/3 = 29/36; the quantized numerator is
    S + ⌊2S/3⌋ + ⌊3S/4⌋ with S = 10^9, and the float is within the
    documented ⌊⌋ error of 29/36."""
    rows = [(4, True), (3, False), (2, True), (1, True)]
    df = spark.createDataFrame(rows, "s long, y boolean")
    [r] = average_precision(df, F.col("y"), F.col("s")).collect()
    s = _AP_SCALE
    assert r["n_pos"] == 3 and r["n_thresholds"] == 4
    assert int(r["ap_num"]) == s + (2 * s) // 3 + (3 * s) // 4
    assert r["ap"] == int(r["ap_num"]) / (3 * s)
    assert abs(r["ap"] - 29 / 36) < 4 / s


def test_average_precision_groups_and_edges(spark):
    """Per-key groups are independent; a group with no positives gets
    ap NULL (0-numerator, never NaN); NULL label/score rows are
    excluded (module convention); perfect ranking gives ap == 1.0
    exactly (every term hits its floor exactly)."""
    rows = [
        # g: positives ranked first → perfect AP
        ("g", 9, True), ("g", 8, True), ("g", 2, False),
        # h: no positives
        ("h", 5, False), ("h", 4, False),
        # excluded rows
        ("g", None, True), ("g", 1, None),
    ]
    df = spark.createDataFrame(rows, "k string, s long, y boolean")
    got = {
        r["k"]: r
        for r in average_precision(
            df, F.col("y"), F.col("s"), keys=["k"]
        ).collect()
    }
    assert got["g"]["ap"] == 1.0
    assert got["g"]["n_thresholds"] == 3  # NULLs contributed nothing
    assert got["h"]["n_pos"] == 0 and got["h"]["ap"] is None
    assert int(got["h"]["ap_num"]) == 0


def test_ndcg_known_values(spark):
    """Hand-computed 3-query corpus at k=3 with graded truth:
    q1 ranks the rel-2 item above the rel-3 one (imperfect), q2 is
    perfect (ratio exactly 10^9), q3 misses its only relevant item
    (ratio 0). The corpus numerator must equal the same integer
    algebra computed in Python from the literal discount table."""
    k = 3
    d = ndcg_discounts(k)
    results = spark.createDataFrame(
        [
            ("q1", "b", 1), ("q1", "a", 2), ("q1", "x", 3),
            ("q2", "d", 1),
            ("q3", "m", 1), ("q3", "n", 2),
        ],
        "qid string, item string, rank long",
    )
    truth = spark.createDataFrame(
        [
            ("q1", "a", 3), ("q1", "b", 2), ("q1", "c", 1),
            ("q2", "d", 1),
            ("q3", "e", 2),
        ],
        "qid string, item string, rel long",
    )
    [r] = ndcg_at_k(results, truth, k=k).collect()
    s = _NDCG_RATIO_SCALE
    q1 = (2 * d[0] + 3 * d[1]) * s // (3 * d[0] + 2 * d[1] + 1 * d[2])
    expected_num = q1 + s + 0
    assert r["n_queries"] == 3
    assert int(r["ndcg_num"]) == expected_num
    assert r["ndcg"] == expected_num / (3 * s)
    assert 0.0 < r["ndcg"] < 1.0


def test_ndcg_edges(spark):
    """Empty truth → n_queries 0 and NULL ndcg (never NaN); items in
    truth but absent from results only lower DCG (no error); rel ≤ 0
    or NULL truth rows are excluded; k must validate."""
    import pytest

    results = spark.createDataFrame(
        [("q1", "a", 1)], "qid string, item string, rank long"
    )
    truth = spark.createDataFrame(
        [("q1", "a", 1), ("q1", "b", 0), ("q1", "c", None)],
        "qid string, item string, rel long",
    )
    [r] = ndcg_at_k(results, truth, k=3).collect()
    # only the rel=1 row graded → perfect ranking
    assert r["n_queries"] == 1 and r["ndcg"] == 1.0

    [e] = ndcg_at_k(results, truth.where(F.lit(False)), k=3).collect()
    assert e["n_queries"] == 0 and int(e["ndcg_num"]) == 0
    assert e["ndcg"] is None

    with pytest.raises(ValueError):
        ndcg_at_k(results, truth, k=0)


def test_ndcg_ideal_beats_every_permutation(spark):
    """dcg ≤ idcg for any placement of graded items (the ratio's ≤ 1
    contract that keeps the quantized quotient inside 10^9): permute a
    4-item graded set through several orderings and check ndcg ≤ 1."""
    import itertools

    truth = spark.createDataFrame(
        [("q", "a", 4), ("q", "b", 3), ("q", "c", 2), ("q", "d", 1)],
        "qid string, item string, rel long",
    )
    for perm in itertools.permutations("abcd"):
        results = spark.createDataFrame(
            [("q", it, i + 1) for i, it in enumerate(perm)],
            "qid string, item string, rank long",
        )
        [r] = ndcg_at_k(results, truth, k=4).collect()
        assert 0.0 < r["ndcg"] <= 1.0, perm


def test_brier_score_exact(spark):
    """Brier is EXACT (no floor error): sklearn's
    brier_score_loss([1,0,1,0], [.8,.3,1,0]) = 0.0325 — the integer
    numerator Σ(s−y·S)² = 1300 at S=100; perfect → 0, anti-perfect
    → 1; NULL rows excluded; empty group → NULL (never NaN)."""
    from blockchain_data_engineering_spark.operators.ml_eval import (
        brier_score,
    )

    rows = [(80, True), (30, False), (100, True), (0, False)]
    df = spark.createDataFrame(rows, "s long, y boolean")
    [r] = brier_score(df, F.col("y"), F.col("s"), s_max=100).collect()
    assert r["n"] == 4 and int(r["brier_num"]) == 1300
    assert r["brier"] == 1300 / (4 * 100 * 100) == 0.0325

    anti = spark.createDataFrame(
        [(0, True), (100, False)], "s long, y boolean"
    )
    [a] = brier_score(anti, F.col("y"), F.col("s"), s_max=100).collect()
    assert a["brier"] == 1.0

    nulls = spark.createDataFrame(
        [(80, None), (None, True)], "s long, y boolean"
    )
    [e] = brier_score(nulls, F.col("y"), F.col("s"), s_max=100).collect()
    assert e["n"] == 0 and int(e["brier_num"]) == 0 and e["brier"] is None


def test_rrf_fuse_known_values(spark):
    """Hand-computed fusion of two 3-deep lists at c=60:
    lcm(61..63) = 238266, so contributions are the exact integers
    3906/3843/3782 for ranks 1/2/3; an item ranked by both lists
    overtakes single-list items; ties break by item."""
    from blockchain_data_engineering_spark.operators.ml_eval import (
        rrf_constant,
        rrf_fuse,
    )

    lcm = rrf_constant(3, 60)
    assert lcm == 238266
    la = spark.createDataFrame(
        [("q", "a", 1), ("q", "b", 2), ("q", "c", 3)],
        "qid string, item string, rank long",
    )
    lb = spark.createDataFrame(
        [("q", "b", 1), ("q", "d", 2), ("q", "c", 3)],
        "qid string, item string, rank long",
    )
    got = {
        r["item"]: (r["rrf_num"], r["fused_rank"])
        for r in rrf_fuse([la, lb], k=3, c=60).collect()
    }
    r1, r2, r3 = lcm // 61, lcm // 62, lcm // 63
    assert got["b"] == (r2 + r1, 1)
    assert got["c"] == (2 * r3, 2)
    assert got["a"] == (r1, 3)
    assert got["d"] == (r2, 4)

    # rank > k rows are ignored; a fused_rank filter truncates
    lc = spark.createDataFrame(
        [("q", "z", 9)], "qid string, item string, rank long"
    )
    top = rrf_fuse([la, lb, lc], k=3, c=60).where("fused_rank <= 2").collect()
    assert sorted(r["item"] for r in top) == ["b", "c"]

    import pytest

    with pytest.raises(ValueError):
        rrf_fuse([], k=3)
    with pytest.raises(ValueError):
        rrf_fuse([la], k=0)


def test_zonemap_pruning_decisions_and_summary(spark):
    """Zone-map logic on hand-built file stats: a file is scanned iff
    EVERY dimension's [min, max] overlaps the predicate's [lo, hi];
    NULL stats scan conservatively (the reader rule); the summary
    counts files and rows scanned per predicate."""
    from blockchain_data_engineering_spark.sources.io import (
        zonemap_prune_summary,
        zonemap_scan_decisions,
    )

    stats = spark.createDataFrame(
        [
            ("f1", 10, 0, 9, 0, 9),
            ("f2", 20, 10, 19, 0, 9),
            ("f3", 30, 0, 9, 10, 19),
            ("f4", 40, None, None, 0, 19),  # NULL x stats → scan
        ],
        "file string, n_rows long, x_min long, x_max long, "
        "y_min long, y_max long",
    )
    preds = spark.createDataFrame(
        [("px", 0, 5, 0, 19), ("pxy", 0, 9, 0, 9), ("pnone", 50, 60, 50, 60)],
        "pred_id string, x_lo long, x_hi long, y_lo long, y_hi long",
    )
    dims = [
        ("x_min", "x_max", "x_lo", "x_hi"),
        ("y_min", "y_max", "y_lo", "y_hi"),
    ]
    dec = {
        (r["pred_id"], r["file"]): r["must_scan"]
        for r in zonemap_scan_decisions(stats, preds, dims).collect()
    }
    assert dec[("px", "f1")] and dec[("px", "f3")] and not dec[("px", "f2")]
    assert dec[("px", "f4")]  # NULL stats: conservative
    assert dec[("pxy", "f1")] and not dec[("pxy", "f2")]
    assert not dec[("pxy", "f3")]  # y misses
    # NULL stats are conservative PER DIMENSION, not per file: f4's
    # known y range still excludes it from the far box
    assert not dec[("pnone", "f1")] and not dec[("pnone", "f4")]

    summ = {
        r["pred_id"]: (r["n_files"], r["files_scanned"], r["rows_scanned"])
        for r in zonemap_prune_summary(
            stats, preds, dims, pred_keys=["pred_id"]
        ).collect()
    }
    assert summ["px"] == (4, 3, 10 + 30 + 40)
    assert summ["pxy"] == (4, 2, 10 + 40)
    assert summ["pnone"] == (4, 0, 0)


def test_rank_validity_filters_and_empty_conventions(spark):
    """Hardened edges: rank 0 / negative rows are FILTERED (not a
    crash in NDCG's element_at, not a sign-flip in RRF/MRR); the
    global empty-input aggregates carry 0s and NULL rates, never
    NULLed counts or NaN."""
    import pytest

    from blockchain_data_engineering_spark.operators.ml_eval import (
        average_precision,
        multiclass_macro_f1,
        ndcg_at_k,
        retrieval_eval,
        rrf_fuse,
    )

    bad_ranks = spark.createDataFrame(
        [("q", "a", 0), ("q", "b", -61), ("q", "c", 1)],
        "qid string, item string, rank long",
    )
    truth = spark.createDataFrame(
        [("q", "a", 2), ("q", "c", 1)], "qid string, item string, rel long"
    )
    [n] = ndcg_at_k(bad_ranks, truth, k=3).collect()
    assert n["n_queries"] == 1 and n["ndcg"] is not None  # no crash
    fused = {
        r["item"] for r in rrf_fuse([bad_ranks], k=3, c=60).collect()
    }
    assert fused == {"c"}  # rank-0/negative rows ignored
    [rv] = retrieval_eval(
        bad_ranks, truth.select("qid", "item"), k=3
    ).collect()
    assert rv["mrr_num"] == 6  # only the rank-1 hit counts

    empty = spark.createDataFrame([], "s long, y boolean")
    [a] = average_precision(empty, F.col("y"), F.col("s")).collect()
    assert (a["n_pos"], a["n_thresholds"], int(a["ap_num"])) == (0, 0, 0)
    assert a["ap"] is None

    empty2 = spark.createDataFrame([], "y string, p string")
    [m] = multiclass_macro_f1(empty2, F.col("y"), F.col("p")).collect()
    assert (m["n"], m["n_classes"], int(m["macro_f1_num"])) == (0, 0, 0)
    assert m["accuracy"] is None and m["macro_f1"] is None

    from blockchain_data_engineering_spark.operators.heavy_hitters import (
        heavy_hitters_above,
        heavy_hitters_state,
    )
    from blockchain_data_engineering_spark.sources.io import (
        zonemap_scan_decisions,
    )

    st = heavy_hitters_state(
        spark.createDataFrame([("a",)], "it string"), "it", 2
    )
    with pytest.raises(ValueError):
        heavy_hitters_above(st, 1, 0)
    with pytest.raises(ValueError):
        zonemap_scan_decisions(st, st, [])


def test_review_fixes_sql_twins_and_null_bounds(spark, duck):
    """Post-review hardening: (1) the AP / macro-F1 SQL twins match
    the Spark empty-input convention (0s, not NULLs) on a fully
    filtered table; (2) a NULL zone-map predicate bound means
    UNBOUNDED (scan side), never a NULL must_scan that reads as
    pruned; (3) rrf_fuse rejects negative c; (4) the global
    heavy-hitter state over an empty input carries 0s."""
    import pytest

    from blockchain_data_engineering_spark.operators.heavy_hitters import (
        heavy_hitters_state,
    )
    from blockchain_data_engineering_spark.operators.ml_eval import rrf_fuse
    from blockchain_data_engineering_spark.plans.oracles import (
        average_precision_sql,
        multiclass_macro_f1_from_cells_sql,
    )
    from blockchain_data_engineering_spark.sources.io import (
        zonemap_prune_summary,
    )

    duck.execute("CREATE OR REPLACE TEMP TABLE t8(y BOOLEAN, s BIGINT)")
    [row] = duck.execute(
        average_precision_sql("y", "s", "t8")
    ).fetchall()
    assert row[0] == 0 and row[1] == 0 and row[2] == "0" and row[3] is None
    duck.execute(
        "CREATE OR REPLACE TEMP TABLE t9(a VARCHAR, p VARCHAR)"
    )
    [m] = duck.execute(
        multiclass_macro_f1_from_cells_sql(
            "(SELECT a AS actual, p AS predicted, 1 AS n FROM t9)"
        )
    ).fetchall()
    assert m[0] == 0 and m[1] == 0 and m[2] is None and m[3] == "0"
    assert m[4] is None

    stats = spark.createDataFrame(
        [("f1", 5, 0, 9, 0, 9)],
        "file string, n_rows long, x_min long, x_max long, "
        "y_min long, y_max long",
    )
    preds = spark.createDataFrame(
        [("open_hi", 5, None, 0, 9), ("open_lo", None, 3, 0, 9),
         ("miss", 50, None, 0, 9)],
        "pred_id string, x_lo long, x_hi long, y_lo long, y_hi long",
    )
    dims = [
        ("x_min", "x_max", "x_lo", "x_hi"),
        ("y_min", "y_max", "y_lo", "y_hi"),
    ]
    summ = {
        r["pred_id"]: (r["files_scanned"], r["rows_scanned"])
        for r in zonemap_prune_summary(
            stats, preds, dims, pred_keys=["pred_id"]
        ).collect()
    }
    assert summ["open_hi"] == (1, 5)  # x >= 5, unbounded above
    assert summ["open_lo"] == (1, 5)  # x <= 3, unbounded below
    assert summ["miss"] == (0, 0)  # x >= 50 misses [0, 9]

    la = spark.createDataFrame(
        [("q", "a", 1)], "qid string, item string, rank long"
    )
    with pytest.raises(ValueError):
        rrf_fuse([la], k=3, c=-1)

    empty = spark.createDataFrame([], "it string")
    [st] = heavy_hitters_state(empty, "it", 4).collect()
    assert st["n_total"] == 0 and st["err"] == 0 and st["counters"] == []
