"""The confusion-cell family of ``operators/ml_eval``: confusion
counts and Matthews correlation, macro-F1 and the per-class report,
Cohen's and weighted kappa, label mutual information, adjusted Rand,
and the eval-cell store (``streaming/sketches``) that serves them.
Every statistic reads (keys…, actual, predicted, n) cells built by
``confusion_cells``, from facts or from cells with an ``n`` column.
Hand-computed known values, edge conventions and store-read
identities; DuckDB parity runs in test_oracle_parity."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from blockchain_data_engineering_spark.operators.ml_eval import (
    cohens_kappa,
    krippendorff_alpha,
    label_mutual_information,
    matthews_corr,
    weighted_kappa,
)

G = 1000  # the label-MI share grid


def _read_cells(statistic, cells, **kw):
    """``statistic`` over (…, actual, predicted, n) cell rows."""
    return statistic(
        cells, F.col("actual"), F.col("predicted"), n=F.col("n"), **kw
    )


# ---------------------------------------------------------------------------
# binary confusion matrix: confusion_counts and Matthews correlation
# ---------------------------------------------------------------------------
def test_confusion_counts_known_values(spark):
    from blockchain_data_engineering_spark.operators.ml_eval import (
        confusion_counts,
    )

    df = spark.createDataFrame(
        # (label, pred): 3 TP, 1 FP, 2 FN, 4 TN
        [(True, True)] * 3 + [(False, True)] + [(True, False)] * 2
        + [(False, False)] * 4,
        "y boolean, p boolean",
    )
    r = confusion_counts(df, F.col("y"), F.col("p")).first()
    assert (r.tp, r.fp, r.fn, r.tn) == (3, 1, 2, 4)
    assert r.precision == 3 / 4 and r.recall == 3 / 5
    assert r.f1 == 6 / 9


def test_matthews_corr_known_values(spark):
    """tp=6 fp=1 fn=2 tn=3: num = 18−2 = 16, d1 = 7·8 = 56,
    d2 = 4·5 = 20, MCC = 16/(√56·√20) — computed with the SAME
    pairwise-root float recipe the operator documents."""
    rows = (
        [(True, True)] * 6 + [(False, True)] * 1
        + [(True, False)] * 2 + [(False, False)] * 3
    )
    df = spark.createDataFrame(rows, "y boolean, p boolean")
    [r] = matthews_corr(df, F.col("y"), F.col("p")).collect()
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (6, 1, 2, 3)
    assert int(r["mcc_num"]) == 16
    assert int(r["mcc_d1"]) == 56 and int(r["mcc_d2"]) == 20
    assert r["mcc"] == 16 / (math.sqrt(56.0) * math.sqrt(20.0))
    # perfect classifier → exactly 1.0 (num == √d1·√d2 when balanced)
    perf = spark.createDataFrame(
        [(True, True)] * 2 + [(False, False)] * 2, "y boolean, p boolean"
    )
    [p] = matthews_corr(perf, F.col("y"), F.col("p")).collect()
    assert p["mcc"] == 1.0


def test_matthews_corr_degenerate_and_nulls(spark):
    """A degenerate margin (never-positive predictor → d1 = 0) gives
    mcc NULL, never the silent sklearn 0; NULL label/pred rows are
    excluded (module convention)."""
    rows = [(True, False), (False, False), (None, True), (True, None)]
    df = spark.createDataFrame(rows, "y boolean, p boolean")
    [r] = matthews_corr(df, F.col("y"), F.col("p")).collect()
    assert r["tp"] == 0 and r["fp"] == 0
    assert int(r["mcc_d1"]) == 0 and r["mcc"] is None


# ---------------------------------------------------------------------------
# macro-F1 and the per-class report it aggregates
# ---------------------------------------------------------------------------
def test_macro_f1_known_values(spark):
    """Hand-computed 3-class matrix: per-class F1 = 4/7, 1/2, 0 →
    macro = their quantized-mean; accuracy = Σtp/n exactly; a label
    appearing ONLY as a prediction adds no class (sklearn's
    labels=present-in-y_true convention) but does count as that
    class's fp through pred_total."""
    from blockchain_data_engineering_spark.operators.ml_eval import (
        _AP_SCALE,
        multiclass_macro_f1,
    )

    rows = [
        ("a", "a"), ("a", "a"), ("a", "b"),
        ("b", "b"), ("b", "a"),
        ("c", "a"),
    ]
    df = spark.createDataFrame(rows, "y string, p string")
    [r] = multiclass_macro_f1(df, F.col("y"), F.col("p")).collect()
    s = _AP_SCALE
    assert r["n"] == 6 and r["n_classes"] == 3
    assert r["accuracy"] == 0.5
    expected = (4 * s) // 7 + (2 * s) // 4 + 0
    assert int(r["macro_f1_num"]) == expected
    assert r["macro_f1"] == expected / (3 * s)

    # prediction-only label 'd': no new class, but a's support grows
    df2 = spark.createDataFrame(rows + [("a", "d")], "y string, p string")
    [r2] = multiclass_macro_f1(df2, F.col("y"), F.col("p")).collect()
    assert r2["n_classes"] == 3 and r2["n"] == 7
    # a: tp 2, support 4, pred_total 4 → f1q = 4S div 8 = S/2
    assert int(r2["macro_f1_num"]) == (4 * s) // 8 + (2 * s) // 4 + 0


def test_macro_f1_perfect_and_keys(spark):
    from blockchain_data_engineering_spark.operators.ml_eval import (
        multiclass_macro_f1,
    )

    rows = [("g", "x", "x"), ("g", "y", "y"), ("h", "x", "y")]
    df = spark.createDataFrame(rows, "k string, y string, p string")
    got = {
        r["k"]: r
        for r in multiclass_macro_f1(
            df, F.col("y"), F.col("p"), keys=["k"]
        ).collect()
    }
    assert got["g"]["macro_f1"] == 1.0 and got["g"]["accuracy"] == 1.0
    assert got["h"]["macro_f1"] == 0.0 and got["h"]["accuracy"] == 0.0


def test_macro_f1_from_cells_excludes_null_keys(spark):
    """r11 sweep of the r10 NULL-group-key class: the per-class LEFT
    join matches by_actual to by_pred on `keys` — before the entry
    exclusion a NULL-keyed group's pred_total silently read 0 and its
    macro-F1 deflated. Now excluded, same as every keyed agreement
    operator."""
    from blockchain_data_engineering_spark.operators.ml_eval import (
        multiclass_macro_f1,
    )

    cells = spark.createDataFrame(
        [(None, "a", "a", 10), ("g", "a", "a", 8), ("g", "a", "b", 2)],
        "k string, actual string, predicted string, n long",
    )
    rows = _read_cells(multiclass_macro_f1, cells, keys=["k"]).collect()
    assert {r["k"] for r in rows} == {"g"}
    assert rows[0].n == 10 and rows[0].accuracy == 0.8
    # and the weighted twin keeps rejecting NULL keys the same way
    wrows = _read_cells(
        weighted_kappa,
        spark.createDataFrame(
            [(None, 1, 1, 5), ("g", 1, 1, 5), ("g", 1, 2, 5)],
            "k string, actual long, predicted long, n long",
        ),
        keys=["k"],
    ).collect()
    assert {r["k"] for r in wrows} == {"g"}


def test_class_report_known_values(spark):
    from blockchain_data_engineering_spark.operators.ml_eval import (
        multiclass_class_report,
    )

    # confusion: en{en:3, fr:1}, fr{fr:2, zz:1} — 'zz' predicted-only
    rows = (
        [("en", "en")] * 3 + [("en", "fr")] + [("fr", "fr")] * 2
        + [("fr", "zz")]
    )
    df = spark.createDataFrame(rows, "a string, p string")
    rep = {
        r["class"]: r
        for r in multiclass_class_report(
            df, F.col("a"), F.col("p")
        ).collect()
    }
    # 'zz' has no actual support -> no row; its mass is fr's fp? no —
    # zz was PREDICTED for an fr-actual row, so it is fr's fn side,
    # and zz itself (never actual) gets no recall row
    assert set(rep) == {"en", "fr"}
    en, fr = rep["en"], rep["fr"]
    assert (en.support, en.tp, en.fp, en.fn) == (4, 3, 0, 1)
    assert (fr.support, fr.tp, fr.fp, fr.fn) == (3, 2, 1, 1)
    assert en.precision == 1.0 and en.recall == 0.75
    assert fr.precision == 2 / 3 and fr.recall == 2 / 3
    assert en.f1 == 2 * 3 / (4 + 3) and fr.f1 == 2 * 2 / (3 + 3)
    # never-predicted actual class: precision NULL, f1 = 0 via
    # support-only denominator
    df2 = spark.createDataFrame(
        [("a", "b"), ("b", "b")], "a string, p string"
    )
    rep2 = {
        r["class"]: r
        for r in multiclass_class_report(
            df2, F.col("a"), F.col("p")
        ).collect()
    }
    assert rep2["a"].precision is None and rep2["a"].f1 == 0.0
    assert rep2["a"].fp == 0 and rep2["a"].fn == 1


def test_class_report_sums_to_macro_scalars(spark):
    """The drill-down contract: sum(f1_num) == macro_f1_num and
    sum(tp)/sum(support) == accuracy, integer-for-integer — the rows
    ARE the scalar, disaggregated."""
    from blockchain_data_engineering_spark.operators.ml_eval import (
        multiclass_class_report,
        multiclass_macro_f1,
    )

    import random

    rng = random.Random(11)
    cls = ["en", "fr", "de", "es", "zz"]
    rows = [
        ("g%d" % (i % 3), rng.choice(cls[:4]), rng.choice(cls))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "k string, a string, p string")
    rep = multiclass_class_report(
        df, F.col("a"), F.col("p"), keys=["k"]
    ).collect()
    mac = {
        r["k"]: r
        for r in multiclass_macro_f1(
            df, F.col("a"), F.col("p"), keys=["k"]
        ).collect()
    }
    sums = defaultdict(lambda: [0, 0, 0, 0])
    for r in rep:
        s = sums[r["k"]]
        s[0] += int(r["f1_num"])
        s[1] += r["tp"]
        s[2] += r["support"]
        s[3] += 1
    for k, m in mac.items():
        assert sums[k][0] == int(m["macro_f1_num"])
        assert sums[k][1] / sums[k][2] == m["accuracy"]
        assert sums[k][3] == m["n_classes"]


def test_class_report_excludes_null_keys_and_repartition(spark):
    from blockchain_data_engineering_spark.operators.ml_eval import (
        multiclass_class_report,
    )

    cells = spark.createDataFrame(
        [(None, "a", "a", 10), ("g", "a", "a", 8), ("g", "a", "b", 2)],
        "k string, actual string, predicted string, n long",
    )
    rows = _read_cells(multiclass_class_report, cells, keys=["k"]).collect()
    assert {r["k"] for r in rows} == {"g"}
    base = rows[0]
    for parts in (1, 7):
        again = _read_cells(
            multiclass_class_report, cells.repartition(parts), keys=["k"]
        ).collect()
        assert sorted(map(tuple, again)) == [tuple(base)]


# ---------------------------------------------------------------------------
# Cohen's kappa
# ---------------------------------------------------------------------------
def test_cohens_kappa_known_values(spark):
    """The classic 2×2 worked example: 20 (x,x), 5 (x,y), 10 (y,x),
    15 (y,y) → p_o = 0.7, p_e = 0.5, κ = 0.4 — exactly 500/1250."""
    rows = (
        [("x", "x")] * 20 + [("x", "y")] * 5
        + [("y", "x")] * 10 + [("y", "y")] * 15
    )
    df = spark.createDataFrame(rows, "a string, b string")
    [r] = cohens_kappa(df, F.col("a"), F.col("b")).collect()
    assert r["n"] == 50 and r["n_labels"] == 2
    assert int(r["kappa_num"]) == 500 and int(r["kappa_den"]) == 1250
    assert r["kappa"] == 0.4


def test_cohens_kappa_label_sets_and_degenerates(spark):
    """A label seen by only ONE rater still counts in n_labels but
    adds 0 to p_e; both-raters-constant-and-identical → denominator 0
    → κ NULL (the sklearn NaN case); both constant but DIFFERENT →
    κ = 0 exactly."""
    rows = (
        [("x", "x")] * 20 + [("x", "y")] * 5
        + [("y", "x")] * 10 + [("y", "y")] * 15 + [("z", "x")] * 2
    )
    df = spark.createDataFrame(rows, "a string, b string")
    [r] = cohens_kappa(df, F.col("a"), F.col("b")).collect()
    assert r["n"] == 52 and r["n_labels"] == 3
    assert int(r["kappa_num"]) == 52 * 35 - 1300
    assert int(r["kappa_den"]) == 52 * 52 - 1300
    assert r["kappa"] == (52 * 35 - 1300) / (52 * 52 - 1300)

    same = spark.createDataFrame([("q", "q")] * 4, "a string, b string")
    [s] = cohens_kappa(same, F.col("a"), F.col("b")).collect()
    assert int(s["kappa_den"]) == 0 and s["kappa"] is None

    diff = spark.createDataFrame([("a", "b")] * 3, "a string, b string")
    [d] = cohens_kappa(diff, F.col("a"), F.col("b")).collect()
    assert d["kappa"] == 0.0 and int(d["kappa_den"]) == 9


# ---------------------------------------------------------------------------
# weighted kappa
# ---------------------------------------------------------------------------
def _py_weighted_kappa(pairs, weighting):
    n = len(pairs)
    cells = Counter(pairs)
    ra = Counter(a for a, _ in pairs)
    cb = Counter(b for _, b in pairs)
    wf = (
        (lambda i, j: abs(i - j))
        if weighting == "linear"
        else (lambda i, j: (i - j) ** 2)
    )
    obs = sum(wf(a, b) * c for (a, b), c in cells.items())
    exp = sum(wf(i, j) * ra[i] * cb[j] for i in ra for j in cb)
    if exp == 0:
        return None
    return 1 - n * obs / exp


def test_weighted_kappa_known_values(spark):
    pairs = (
        [(0, 0)] * 10 + [(1, 1)] * 5 + [(2, 2)] * 5
        + [(0, 1)] * 3 + [(1, 2)] * 2 + [(0, 2)] * 1
    )
    df = spark.createDataFrame(pairs, "a long, b long")
    for weighting in ("linear", "quadratic"):
        out = weighted_kappa(
            df, F.col("a"), F.col("b"), weighting
        ).collect()[0]
        assert out.n == 26 and out.n_labels == 3
        ref = _py_weighted_kappa(pairs, weighting)
        assert out.kappa == pytest.approx(ref, abs=1e-12)
    # sklearn cross-check when available (not in this container's
    # baked set — the pure-python reference above implements the same
    # cohen_kappa_score(weights=...) formula)
    try:
        from sklearn.metrics import cohen_kappa_score
    except ImportError:
        pass
    else:
        ys = [a for a, _ in pairs]
        ps = [b for _, b in pairs]
        for weighting in ("linear", "quadratic"):
            out = weighted_kappa(
                df, F.col("a"), F.col("b"), weighting
            ).collect()[0]
            assert out.kappa == pytest.approx(
                cohen_kappa_score(ys, ps, weights=weighting), abs=1e-9
            )


def test_weighted_kappa_binary_equals_unweighted(spark):
    """On BINARY integer labels both weightings coincide with plain
    Cohen's kappa (|i−j| = (i−j)² = the 0/1 disagreement indicator)."""
    pairs = [(1, 1)] * 8 + [(1, 0)] * 2 + [(0, 0)] * 5 + [(0, 1)] * 1
    df = spark.createDataFrame(pairs, "a long, b long")
    k = cohens_kappa(df, F.col("a"), F.col("b")).collect()[0]
    for weighting in ("linear", "quadratic"):
        w = weighted_kappa(
            df, F.col("a"), F.col("b"), weighting
        ).collect()[0]
        assert w.kappa == pytest.approx(k.kappa, abs=1e-12)


def test_weighted_kappa_degenerate_and_validation(spark):
    # both raters constant → no disagreement expressible → NULL
    df = spark.createDataFrame([(3, 3), (3, 3)], "a long, b long")
    out = weighted_kappa(df, F.col("a"), F.col("b"), "linear").collect()[0]
    assert out.kappa is None and int(out.kappa_den) == 0
    with pytest.raises(ValueError, match="weighting"):
        weighted_kappa(df, F.col("a"), F.col("b"), "cubic").collect()


def test_weighted_kappa_envelope_guard(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    bad = spark.createDataFrame([(1, 1), (10001, 2)], "a long, b long")
    with pytest.raises(
        (SparkRuntimeException, Py4JJavaError), match="exactness envelope"
    ):
        weighted_kappa(bad, F.col("a"), F.col("b")).collect()
    # the boundary |label| == 10^4 stays legal (and negative labels
    # inside the envelope too)
    ok = spark.createDataFrame(
        [(10000, 10000), (-10000, 9999), (0, 10000)], "a long, b long"
    )
    out = weighted_kappa(ok, F.col("a"), F.col("b")).collect()[0]
    assert out.n == 3


# ---------------------------------------------------------------------------
# label mutual information
# ---------------------------------------------------------------------------
def _py_mi(pairs, g):
    """Float MI/H of the floor-quantized share vectors — what the
    integer design computes exactly (up to the 1e-12 table error)."""
    n = len(pairs)
    cell = Counter(pairs)
    am = Counter(a for a, _ in pairs)
    pm = Counter(p for _, p in pairs)
    qc = {k: v * g // n for k, v in cell.items()}
    qa = {k: v * g // n for k, v in am.items()}
    qp = {k: v * g // n for k, v in pm.items()}
    mi = sum(
        (q / g) * (math.log(q) - math.log(qa[a]) - math.log(qp[p]) + math.log(g))
        for (a, p), q in qc.items()
        if q > 0
    )
    ha = sum((q / g) * (math.log(g) - math.log(q)) for q in qa.values() if q > 0)
    hp = sum((q / g) * (math.log(g) - math.log(q)) for q in qp.values() if q > 0)
    return mi, ha, hp


def test_label_mi_known_values(spark):
    pairs = (
        [("en", "en")] * 40
        + [("en", "de")] * 10
        + [("de", "de")] * 30
        + [("de", "fr")] * 5
        + [("fr", "fr")] * 15
    )
    df = spark.createDataFrame(pairs, "a string, p string")
    out = label_mutual_information(df, F.col("a"), F.col("p")).collect()[0]
    mi, ha, hp = _py_mi(pairs, G)
    assert out.n == 100
    assert out.n_classes_actual == 3 and out.n_classes_predicted == 3
    assert abs(out.mi - mi) < 1e-9
    assert abs(out.h_actual - ha) < 1e-9
    assert abs(out.h_predicted - hp) < 1e-9
    assert abs(out.nmi - 2 * mi / (ha + hp)) < 1e-9
    assert 0 < out.nmi < 1  # informative but imperfect labeler


def test_label_mi_permutation_and_independence(spark):
    # a BIJECTIVE relabeling carries full information: the quantized
    # diagonal cells equal the marginals, so mi_num == ha_num ==
    # hp_num and NMI == 1.0 EXACTLY (integer identity, not approx)
    pairs = [("en", "EN")] * 37 + [("de", "DE")] * 21 + [("fr", "FR")] * 42
    df = spark.createDataFrame(pairs, "a string, p string")
    out = label_mutual_information(df, F.col("a"), F.col("p")).collect()[0]
    assert out.mi_num == out.ha_num == out.hp_num
    assert out.nmi == 1.0
    # a CONSTANT prediction carries none: q_p = G, q_cell = q_a, the
    # ln terms cancel exactly → MI = 0 (and NMI ∈ {0} since H_a > 0)
    pairs = [("en", "X")] * 30 + [("de", "X")] * 70
    df = spark.createDataFrame(pairs, "a string, p string")
    out = label_mutual_information(df, F.col("a"), F.col("p")).collect()[0]
    assert int(out.mi_num) == 0 and out.mi == 0.0 and out.nmi == 0.0
    assert out.h_predicted == 0.0  # one class → zero entropy exactly


def test_label_mi_edges(spark):
    # NULL labels excluded; NULL KEYS excluded (keyed-join alignment)
    df = spark.createDataFrame(
        [("g", "a", "x"), ("g", "a", None), ("g", None, "x"),
         (None, "a", "x"), ("g", "b", "y")],
        "k string, a string, p string",
    )
    rows = {
        r["k"]: r
        for r in label_mutual_information(
            df, F.col("a"), F.col("p"), keys=["k"]
        ).collect()
    }
    assert set(rows) == {"g"} and rows["g"].n == 2
    # empty input: one global row of zeros, NULL scalars
    empty = spark.createDataFrame([], "a string, p string")
    e = label_mutual_information(empty, F.col("a"), F.col("p")).collect()[0]
    assert e.n == 0 and e.mi is None and e.nmi is None
    assert int(e.mi_num) == 0 and int(e.ha_num) == 0
    # from_cells: duplicate cells sum (per-batch deltas merge) — the
    # split store reads identically to the whole
    cells = spark.createDataFrame(
        [("a", "x", 30), ("a", "x", 10), ("b", "y", 60)],
        "actual string, predicted string, n long",
    )
    whole = spark.createDataFrame(
        [("a", "x", 40), ("b", "y", 60)],
        "actual string, predicted string, n long",
    )
    r1 = _read_cells(label_mutual_information, cells).collect()[0]
    r2 = _read_cells(label_mutual_information, whole).collect()[0]
    assert r1 == r2


def test_label_mi_determinism_under_repartition(spark):
    import random

    rng = random.Random(5)
    pairs = [
        (f"a{rng.randrange(4)}", f"p{rng.randrange(5)}") for _ in range(600)
    ]
    df = spark.createDataFrame(pairs, "a string, p string")
    x = label_mutual_information(df, F.col("a"), F.col("p")).collect()[0]
    y = label_mutual_information(
        df.repartition(17), F.col("a"), F.col("p")
    ).collect()[0]
    assert (x.mi_num, x.ha_num, x.hp_num, x.mi, x.nmi) == (
        y.mi_num,
        y.ha_num,
        y.hp_num,
        y.mi,
        y.nmi,
    )
    mi, ha, hp = _py_mi(pairs, G)
    assert abs(x.mi - mi) < 1e-9


# ---------------------------------------------------------------------------
# adjusted Rand index
# ---------------------------------------------------------------------------
def _py_ari(pairs):
    """Textbook Hubert-Arabie ARI (float) + raw Rand index."""
    cell = Counter(pairs)
    am = Counter(a for a, _ in pairs)
    pm = Counter(p for _, p in pairs)
    n = len(pairs)
    c2 = lambda x: x * (x - 1) // 2  # noqa: E731
    s = sum(c2(v) for v in cell.values())
    a = sum(c2(v) for v in am.values())
    b = sum(c2(v) for v in pm.values())
    t = c2(n)
    den = 0.5 * (a + b) - a * b / t
    ari = (s - a * b / t) / den if den else None
    ri = (t + 2 * s - a - b) / t if t else None
    return ari, ri


def test_adjusted_rand_known_values(spark):
    from blockchain_data_engineering_spark.operators.ml_eval import (
        adjusted_rand_index,
    )

    pairs = (
        [("x", "P")] * 30 + [("x", "Q")] * 10
        + [("y", "Q")] * 25 + [("y", "R")] * 5
        + [("z", "R")] * 30
    )
    df = spark.createDataFrame(pairs, "a string, p string")
    out = adjusted_rand_index(df, F.col("a"), F.col("p")).collect()[0]
    ari, ri = _py_ari(pairs)
    assert out.n == 100
    assert out.ari == pytest.approx(ari, abs=1e-12)
    assert out.rand_index == pytest.approx(ri, abs=1e-12)
    # a bijective relabeling is a PERFECT partition match: ari and
    # rand_index are exactly 1 (integer identity num == den)
    perm = spark.createDataFrame(
        [("a", "A")] * 7 + [("b", "B")] * 13 + [("c", "C")] * 4,
        "a string, p string",
    )
    o = adjusted_rand_index(perm, F.col("a"), F.col("p")).collect()[0]
    assert o.ari == 1.0 and o.rand_index == 1.0
    assert o.ari_num == o.ari_den
    # degenerate: both labelings one cluster → chance == observation,
    # adjustment undefined (NULL), rand index still defined (1.0)
    const = spark.createDataFrame(
        [("a", "A")] * 5, "a string, p string"
    )
    c = adjusted_rand_index(const, F.col("a"), F.col("p")).collect()[0]
    assert c.ari is None and int(c.ari_den) == 0 and c.rand_index == 1.0
    # empty input: one global row of zeros, NULL scalars
    empty = spark.createDataFrame([], "a string, p string")
    e = adjusted_rand_index(empty, F.col("a"), F.col("p")).collect()[0]
    assert e.n == 0 and e.ari is None and e.rand_index is None


def test_adjusted_rand_determinism_and_cells(spark):
    import random

    from blockchain_data_engineering_spark.operators.ml_eval import (
        adjusted_rand_index,
    )

    rng = random.Random(31)
    pairs = [
        (f"a{rng.randrange(5)}", f"p{rng.randrange(4)}") for _ in range(700)
    ]
    df = spark.createDataFrame(pairs, "a string, p string")
    x = adjusted_rand_index(df, F.col("a"), F.col("p")).collect()[0]
    y = adjusted_rand_index(
        df.repartition(23), F.col("a"), F.col("p")
    ).collect()[0]
    assert (x.ari_num, x.ari_den, x.ari, x.rand_index) == (
        y.ari_num,
        y.ari_den,
        y.ari,
        y.rand_index,
    )
    ari, _ = _py_ari(pairs)
    assert x.ari == pytest.approx(ari, abs=1e-12)
    # duplicate cells sum (per-batch deltas merge)
    cells = spark.createDataFrame(
        [("a", "x", 30), ("a", "x", 10), ("b", "y", 60)],
        "actual string, predicted string, n long",
    )
    whole = spark.createDataFrame(
        [("a", "x", 40), ("b", "y", 60)],
        "actual string, predicted string, n long",
    )
    assert (
        _read_cells(adjusted_rand_index, cells).collect()
        == _read_cells(adjusted_rand_index, whole).collect()
    )


# ---------------------------------------------------------------------------
# NULL keys: one rule for every keyed agreement reader
# ---------------------------------------------------------------------------
def test_agreement_ops_exclude_null_keys(spark):
    """Review regression (r10): every keyed agreement operator joins
    its sub-aggregates on `keys`; NULL keys can't match, so before
    the entry exclusion a NULL-keyed group either vanished silently
    (weighted_kappa) or reported a spurious all-zero row
    (krippendorff). All now follow the kendall_tau exclusion."""
    from blockchain_data_engineering_spark.operators.ml_eval import (
        fleiss_kappa,
    )

    votes = spark.createDataFrame(
        [(None, "u2", "a"), (None, "u2", "b"), ("g", "u3", "a"),
         ("g", "u3", "a"), ("g", "u4", "a"), ("g", "u4", "b")],
        "k string, item string, cat string",
    )
    a = krippendorff_alpha(votes, "item", "cat", keys=["k"]).collect()
    assert {r["k"] for r in a} == {"g"} and a[0].n_units == 2
    f = fleiss_kappa(votes, "item", "cat", n_raters=2, keys=["k"]).collect()
    assert {r["k"] for r in f} == {"g"} and f[0].n_items == 2
    pairs = spark.createDataFrame(
        [(None, 1, 2), (None, 2, 1), ("g", 1, 2), ("g", 2, 2)],
        "k string, a long, b long",
    )
    w = weighted_kappa(
        pairs, F.col("a"), F.col("b"), "quadratic", keys=["k"]
    ).collect()
    assert {r["k"] for r in w} == {"g"} and w[0].n == 2
    c = cohens_kappa(pairs, F.col("a"), F.col("b"), keys=["k"]).collect()
    assert {r["k"] for r in c} == {"g"} and c[0].n == 2


def test_adjusted_rand_null_keys_match_both_sql_twins(spark, duck):
    """ARI keyed by a column holding NULL: the Spark reader, from
    facts and from cells, drops the NULL-keyed rows like a NULL label
    — the suite's one rule — and agrees row for row with both DuckDB
    twins (``adjusted_rand_sql`` over the facts,
    ``adjusted_rand_from_cells_sql`` over the cells)."""
    from blockchain_data_engineering_spark.operators.ml_eval import (
        adjusted_rand_index,
    )
    from blockchain_data_engineering_spark.plans.oracles import (
        adjusted_rand_from_cells_sql,
        adjusted_rand_sql,
    )

    facts = [
        ("g", "a", "x"), ("g", "a", "x"), ("g", "b", "y"), ("g", "b", "x"),
        (None, "a", "x"), (None, "b", "y"), (None, "b", "y"),
        ("g", None, "x"),
    ]
    # the same facts as cells, one of them split in two deltas
    cells = [
        ("g", "a", "x", 1), ("g", "a", "x", 1), ("g", "b", "y", 1),
        ("g", "b", "x", 1), (None, "a", "x", 1), (None, "b", "y", 2),
    ]
    fdf = spark.createDataFrame(facts, "k string, a string, p string")
    cdf = spark.createDataFrame(
        cells, "k string, actual string, predicted string, n long"
    )
    duck.execute(
        "CREATE OR REPLACE TEMP TABLE ari_f(k VARCHAR, a VARCHAR, p VARCHAR)"
    )
    duck.executemany("INSERT INTO ari_f VALUES (?, ?, ?)", facts)
    duck.execute(
        "CREATE OR REPLACE TEMP TABLE ari_c"
        "(k VARCHAR, actual VARCHAR, predicted VARCHAR, n BIGINT)"
    )
    duck.executemany("INSERT INTO ari_c VALUES (?, ?, ?, ?)", cells)

    def rows(found):
        # ari_num/ari_den: DECIMAL in Spark, VARCHAR in DuckDB
        return sorted(
            (tuple(str(v) if i in (4, 5) else v for i, v in enumerate(r))
             for r in found),
            key=repr,
        )

    spark_facts = rows(
        adjusted_rand_index(fdf, F.col("a"), F.col("p"), keys=["k"]).collect()
    )
    assert [r[0] for r in spark_facts] == ["g"]
    spark_cells = rows(
        _read_cells(adjusted_rand_index, cdf, keys=["k"]).collect()
    )
    duck_facts = rows(
        duck.execute(adjusted_rand_sql("a", "p", "ari_f", keys=["k"])).fetchall()
    )
    duck_cells = rows(
        duck.execute(adjusted_rand_from_cells_sql("ari_c", keys=["k"])).fetchall()
    )
    assert spark_facts == spark_cells == duck_facts == duck_cells


# ---------------------------------------------------------------------------
# the eval-cell store: every read equals the statistic over all facts
# ---------------------------------------------------------------------------
def test_eval_cells_store_serving_matches_direct_kappa(spark, sf_dir):
    """The gate query's additivity contract, pinned independently of
    the oracle: kappa served from the two-batch cell store must equal
    plain cohens_kappa over all the facts."""
    from blockchain_data_engineering_spark.plans.streaming_queries import (
        ml_kappa_from_store,
    )
    from blockchain_data_engineering_spark.catalog import load_table
    from blockchain_data_engineering_spark.operators import text as TX

    served = ml_kappa_from_store(spark, sf_dir).collect()[0]
    docs = load_table(spark, sf_dir, "documents")
    direct = cohens_kappa(
        docs.select(
            F.col("lang").cast("string").alias("a"),
            TX.lang_id(F.col("text")).cast("string").alias("b"),
        ),
        F.col("a"),
        F.col("b"),
    ).collect()[0]
    assert served.n == direct.n
    assert served.kappa_num == str(direct.kappa_num)
    assert served.kappa_den == str(direct.kappa_den)
    assert served.kappa == direct.kappa


def test_streaming_eval_cells_store_matches_batch(spark, tmp_path):
    """The eval-cell delta store (r9 agreement family): per-batch
    (actual, predicted) cell counts land as _batch_id partitions; the
    store read sums them, so the stream's Cohen's kappa is EXACTLY the
    batch kappa over every fact ever streamed (cells are additive —
    no error term, unlike the CMS/HLL/MG members of the store family).
    Replaying a batch leaves the read unchanged."""
    from blockchain_data_engineering_spark.operators.ml_eval import (
        cohens_kappa,
        confusion_cells,
    )
    from blockchain_data_engineering_spark.streaming.sketches import delta_sink

    src = tmp_path / "cells_stream"
    src.mkdir()
    # declared;predicted pairs with a deterministic disagreement mix
    pairs = [
        ("en", "en") if i % 5 < 3 else ("en", "fr") if i % 5 == 3
        else ("fr", "fr")
        for i in range(200)
    ]
    for part in range(4):
        (src / f"p{part}.txt").write_text(
            "\n".join(f"{a};{b}" for a, b in pairs[part::4]) + "\n"
        )

    store = str(tmp_path / "cells_store")
    stream = spark.readStream.option("maxFilesPerTrigger", 1).text(str(src))
    split = stream.select(
        F.split("value", ";")[0].alias("actual"),
        F.split("value", ";")[1].alias("predicted"),
    )
    q = (
        split.writeStream.foreachBatch(
            delta_sink(
                store,
                lambda b: confusion_cells(b, F.col("actual"), F.col("predicted")),
            )
        )
        .option("checkpointLocation", str(tmp_path / "cellsckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    [got] = _read_cells(cohens_kappa, spark.read.parquet(store)).collect()
    batch = spark.createDataFrame(pairs, "a string, b string")
    [want] = cohens_kappa(batch, F.col("a"), F.col("b")).collect()
    assert got["n"] == want["n"] == 200
    assert str(got["kappa_num"]) == str(want["kappa_num"])
    assert str(got["kappa_den"]) == str(want["kappa_den"])
    assert got["kappa"] == want["kappa"]

    # the SAME store answers macro-F1/accuracy (second reader of the
    # one maintained cell state)
    from blockchain_data_engineering_spark.operators.ml_eval import (
        multiclass_macro_f1,
    )

    [gm] = _read_cells(multiclass_macro_f1, spark.read.parquet(store)).collect()
    [wm] = multiclass_macro_f1(batch, F.col("a"), F.col("b")).collect()
    assert gm["n"] == wm["n"] and gm["accuracy"] == wm["accuracy"]
    assert str(gm["macro_f1_num"]) == str(wm["macro_f1_num"])
    assert gm["macro_f1"] == wm["macro_f1"]

    # replay idempotence: batch 0's delta rewritten over itself
    d0 = spark.read.parquet(f"{store}/_batch_id=0")
    delta_sink(store, lambda b: b)(d0, 0)
    [got2] = _read_cells(cohens_kappa, spark.read.parquet(store)).collect()
    assert (str(got2["kappa_num"]), str(got2["kappa_den"])) == (
        str(got["kappa_num"]),
        str(got["kappa_den"]),
    )


def _split_store(spark, tmp_path):
    """Eight (a, p) facts landed as two eval-cell store deltas over a
    split. Returns the facts, the store's delta rows, and the cells
    the store saw summed from its deltas (``subtract`` dedups, so the
    store holds a sub-multiset of the facts)."""
    from blockchain_data_engineering_spark.operators.ml_eval import (
        confusion_cells,
    )
    from blockchain_data_engineering_spark.streaming.sketches import delta_sink

    rows = [("en", "en"), ("en", "de"), ("de", "de"), ("fr", "fr"),
            ("fr", "en"), ("de", "de"), ("en", "en"), ("fr", "fr")]
    df = spark.createDataFrame(rows, "a string, p string")
    store = str(tmp_path / "cells")
    sink = delta_sink(
        store,
        lambda b: confusion_cells(
            b, F.col("a").cast("string"), F.col("p").cast("string")
        ),
    )
    sink(df.limit(3), 0)
    sink(df.subtract(df.limit(3)), 1)  # two deltas over a split
    seen = spark.read.parquet(store).groupBy("actual", "predicted").agg(
        F.sum("n").alias("n")
    )
    return df, spark.read.parquet(store), seen


def test_macro_f1_store_read_equals_direct(spark, tmp_path):
    from blockchain_data_engineering_spark.operators.ml_eval import (
        multiclass_macro_f1,
    )

    df, store_cells, seen = _split_store(spark, tmp_path)
    # cell additivity: the store sum must serve the same numbers as
    # the direct batch statistic over the multiset the store saw
    served = _read_cells(multiclass_macro_f1, store_cells).collect()[0]
    direct = multiclass_macro_f1(df, F.col("a"), F.col("p")).collect()[0]
    direct2 = _read_cells(multiclass_macro_f1, seen).collect()[0]
    assert served == direct2
    assert served.n_classes == direct.n_classes


def test_ari_store_read_equals_direct(spark, tmp_path):
    from blockchain_data_engineering_spark.operators.ml_eval import (
        adjusted_rand_index,
    )

    _, store_cells, seen = _split_store(spark, tmp_path)
    served = _read_cells(adjusted_rand_index, store_cells).collect()[0]
    direct = _read_cells(adjusted_rand_index, seen).collect()[0]
    assert served == direct


def test_class_report_store_read_equals_direct(spark, tmp_path):
    from blockchain_data_engineering_spark.operators.ml_eval import (
        multiclass_class_report,
    )

    _, store_cells, seen = _split_store(spark, tmp_path)
    served = sorted(
        map(tuple, _read_cells(multiclass_class_report, store_cells).collect())
    )
    direct = sorted(
        map(tuple, _read_cells(multiclass_class_report, seen).collect())
    )
    assert served == direct
