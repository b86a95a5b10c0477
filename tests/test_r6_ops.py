"""Round-6 operator unit tests: known-value and property checks for
the model-eval aggregates, compaction planner, int8 quantizer,
hashing-trick featurizer, ER clustering, and the FK audit — beyond
the DuckDB parity the registered queries already get."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

# The confusion-cell tests live in test_agreement.py; importing them
# here keeps each one collected under this module's name as well.
from test_agreement import test_confusion_counts_known_values  # noqa: F401


def test_auc_exact_known_values_with_ties(spark):
    """Hand-computed Mann-Whitney AUC on a 4-row fixture with a tie
    straddling the classes: scores [1,2,2,3], labels [-,-,+,+] →
    ranks [1, 2.5, 2.5, 4], Σ2r over positives = 5+8 = 13,
    AUC = (13 − 2·3) / (2·2·2) = 7/8."""
    from blockchain_data_engineering_spark.operators.ml_eval import auc_exact

    df = spark.createDataFrame(
        [(1, False), (2, False), (2, True), (3, True)], "s long, y boolean"
    )
    row = auc_exact(df, F.col("y"), F.col("s")).first()
    assert (row.n_pos, row.n_neg) == (2, 2)
    assert (row.auc_num, row.auc_den) == (7, 8)
    assert row.auc == 7 / 8

    # perfect separation → 1.0; inverted → 0.0; one-class → NULL
    perfect = spark.createDataFrame(
        [(1, False), (2, True)], "s long, y boolean"
    )
    assert auc_exact(perfect, F.col("y"), F.col("s")).first().auc == 1.0
    inverted = spark.createDataFrame(
        [(2, False), (1, True)], "s long, y boolean"
    )
    assert auc_exact(inverted, F.col("y"), F.col("s")).first().auc == 0.0
    one_class = spark.createDataFrame([(1, True), (2, True)], "s long, y boolean")
    r = auc_exact(one_class, F.col("y"), F.col("s")).first()
    assert r.auc is None and r.auc_den == 0


def test_compaction_plan_bins_and_big_file_skip(spark):
    """Cumsum binning: bins fill to ≈ target in file order, a file
    already ≥ target is skipped (bin NULL) and consumes no budget,
    and no bin's total overshoots target by more than one file."""
    from blockchain_data_engineering_spark.sources.io import compaction_plan

    files = spark.createDataFrame(
        [
            ("a", "f01", 40),
            ("a", "f02", 40),
            ("a", "f03", 200),  # ≥ target → skip
            ("a", "f04", 40),
            ("a", "f05", 40),
            ("a", "f06", 40),
            ("b", "f01", 90),
            ("b", "f02", 90),
        ],
        "part string, file string, size_bytes long",
    )
    got = {
        (r.part, r.file): r.bin
        for r in compaction_plan(
            files, target_bytes=100, group_cols=["part"]
        ).collect()
    }
    # group a: cumsum over small files 0,40,80,120,160 → bins 0,0,1,1,1 ; f03 skipped
    assert got[("a", "f01")] == 0 and got[("a", "f02")] == 0
    assert got[("a", "f03")] is None
    assert got[("a", "f04")] == 0  # cum_before = 80 < 100
    assert got[("a", "f05")] == 1 and got[("a", "f06")] == 1
    # group b bins independently
    assert got[("b", "f01")] == 0 and got[("b", "f02")] == 0

    # bound property: every bin's byte total < target + max member size
    rows = compaction_plan(files, target_bytes=100, group_cols=["part"]).where(
        F.col("bin").isNotNull()
    )
    per_bin = rows.groupBy("part", "bin").agg(
        F.sum("size_bytes").alias("tot"), F.max("size_bytes").alias("mx")
    )
    assert per_bin.where(F.col("tot") >= 100 + F.col("mx")).count() == 0


def test_quantize_int8_roundtrip_and_zero_vector(spark):
    from blockchain_data_engineering_spark.operators.similarity import (
        quantize_int8,
    )

    df = spark.createDataFrame(
        [
            (1, [0.5, -1.0, 0.25, 0.0]),
            (2, [0.0, 0.0]),  # zero vector
            (3, [2.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = quantize_int8(df).collect()
    byid = {}
    for r in out:
        byid.setdefault(r.id, {})[r.dim_idx] = (r.q8, r.scale)
    # vec 1: scale 1.0 → q = [64, -127, 32, 0] (floor(x·127+0.5))
    assert [byid[1][i][0] for i in range(4)] == [64, -127, 32, 0]
    assert byid[1][0][1] == 1.0
    # zero vector → all q 0, scale 0
    assert [byid[2][i] for i in range(2)] == [(0, 0.0), (0, 0.0)]
    # max element maps exactly to 127
    assert byid[3][0] == (127, 2.0)
    # dequantization bound: |x − q·scale/127| ≤ scale/254 (+ float eps)
    for vid, vec in ((1, [0.5, -1.0, 0.25, 0.0]), (3, [2.0])):
        scale = byid[vid][0][1]
        for i, x in enumerate(vec):
            q = byid[vid][i][0]
            assert abs(x - q * scale / 127) <= scale / 254 + 1e-6


def test_hashed_features_deterministic_and_bounded(spark):
    from blockchain_data_engineering_spark.operators.text import hashed_features

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "THE CAT"), (3, "")],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, hashed_features(docs).collect()))
    b = sorted(map(tuple, hashed_features(docs).collect()))
    assert a == b and a  # deterministic, non-empty
    # case folding: doc 2's terms hash identically to doc 1's
    feats = {(r.id, r.feat_idx): r.weight for r in hashed_features(docs).collect()}
    d1 = {k[1] for k in feats if k[0] == 1}
    d2 = {k[1] for k in feats if k[0] == 2}
    assert d2 <= d1
    # Σ|weight| ≤ token count per doc
    tot1 = sum(abs(v) for k, v in feats.items() if k[0] == 1)
    assert tot1 <= 6
    # empty doc → no rows
    assert not [k for k in feats if k[0] == 3]
    # all indexes within range
    assert all(0 <= k[1] < 256 for k in feats)


def test_entity_clusters_transitive_closure(spark):
    """A≈B and B≈C (A–C never paired) must land all three in ONE
    cluster keyed by the lexicographic minimum."""
    from blockchain_data_engineering_spark.operators.linkage import (
        entity_clusters,
    )

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")],
        "name_a string, name_b string",
    )
    got = {
        r.entity: (r.cluster_id, r.cluster_size)
        for r in entity_clusters(pairs).collect()
    }
    assert got == {
        "a": ("a", 3),
        "b": ("a", 3),
        "c": ("a", 3),
        "x": ("x", 2),
        "y": ("x", 2),
    }
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_referential_integrity_orphans_and_null_fks(spark):
    from blockchain_data_engineering_spark.operators.dq import (
        referential_integrity,
    )

    child = spark.createDataFrame(
        [(1,), (2,), (99,), (None,)], "fk bigint"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk bigint")
    r = referential_integrity(child, parent, ["fk"], ["pk"], "c->p").first()
    assert (r.relationship, r.n_child, r.n_orphans, r.n_null_fk) == (
        "c->p", 4, 1, 1,
    )
    with pytest.raises(ValueError, match="arity"):
        referential_integrity(child, parent, ["fk"], ["pk", "pk2"], "bad")


def test_bloom_prefilter_no_false_negatives_and_fp_bounded(spark):
    """Bloom contract: every true member passes (NO false negatives —
    the property that makes the prefilter safe to compose with the
    real join), non-members pass only at the false-positive rate, and
    the word table stays ≤ m/32 rows."""
    from blockchain_data_engineering_spark.operators.relational import (
        bloom_bits,
        bloom_prefilter,
    )

    build = spark.range(0, 500).select((F.col("id") * 3).alias("key"))
    bits = bloom_bits(build, "key", m_bits=8192)
    assert bits.count() <= 8192 // 32
    probe = spark.range(0, 3000).select(F.col("id").alias("key"))
    passed = {r.key for r in bloom_prefilter(
        probe, "key", bits, m_bits=8192
    ).collect()}
    members = {i * 3 for i in range(500)}
    assert members <= passed  # no false negatives
    fp = len(passed - members)
    # n=500, m=8192, k=2 → fp rate ≈ (1−e^(−2·500/8192))^2 ≈ 1.3%;
    # 2500 non-members → expect ~33, assert a generous ceiling
    assert fp < 2500 * 0.05, fp


def test_bloom_m_for_matches_textbook_rate():
    """The sizing helper inverts fp = (1 − e^{−kn/m})^k: plugging the
    returned m back in must land at-or-under the target, and shrinking
    m by one word must overshoot it (the bound is tight, not just
    safe). Also pins the m ≈ 8n rule-of-thumb anchor at k=2/5%."""
    import math

    from blockchain_data_engineering_spark.operators.relational import (
        bloom_m_for,
    )

    def rate(n, m, k):
        return (1.0 - math.exp(-k * n / m)) ** k

    for n in (100, 3_000, 30_000, 10**7):
        for fp in (0.01, 0.05, 0.2):
            for k in (1, 2, 4):
                m = bloom_m_for(n, fp, k)
                assert m % 32 == 0
                assert rate(n, m, k) <= fp, (n, fp, k, m)
                if m > 32:
                    assert rate(n, m - 32, k) > fp * 0.9, (n, fp, k, m)
    assert 7 * 3000 <= bloom_m_for(3000, 0.05, 2) <= 9 * 3000
    with pytest.raises(ValueError, match="target_fp"):
        bloom_m_for(100, 1.5)
    assert bloom_m_for(0, 0.05) == 32


@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_bloom_sized_fp_under_target(spark, sf):
    """r7 judge ask #6 end-to-end: size the filter from the build-side
    count (bloom_bits_sized) and the ACHIEVED fp rate on real keys at
    two SFs stays under target — the regime the fixed-m gate demo
    saturates in at the larger SF. Membership stays exact (no false
    negatives)."""
    from blockchain_data_engineering_spark.catalog import load_table
    from blockchain_data_engineering_spark.operators.relational import (
        bloom_prefilter,
        bloom_bits_sized,
    )

    target = 0.05
    orders = load_table(spark, sf, "orders")
    build = (
        orders.where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("key"))
        .distinct()
    )
    bits, m_bits = bloom_bits_sized(build, "key", target_fp=target)
    li = load_table(spark, sf, "lineitem")
    probe = li.where(F.col("l_orderkey").isNotNull()).select(
        F.col("l_orderkey").alias("key")
    )
    n_probe = probe.count()
    n_pass = bloom_prefilter(probe, "key", bits, m_bits=m_bits).count()
    n_match = probe.join(build, "key", "left_semi").count()
    assert n_pass >= n_match  # no false negatives
    n_non_members = n_probe - n_match
    achieved = (n_pass - n_match) / max(n_non_members, 1)
    # expected fp ≤ 5%; allow sampling slack on the realized rate
    assert achieved <= target * 1.5, (sf, m_bits, achieved)


def test_er_clusters_converged_at_configured_rounds(spark, sf_dir):
    """The 2-round bound in plans.linkage_queries is a real
    convergence, not a parity artifact: one more pointer-jump round
    must not change a single label at this SF."""
    from blockchain_data_engineering_spark.catalog import load_table, spread
    from blockchain_data_engineering_spark.operators import linkage as L
    from blockchain_data_engineering_spark.plans.linkage_queries import (
        ER_CLUSTER_ROUNDS,
        ER_MAX_DIST,
    )

    part = spread(load_table(spark, sf_dir, "part"))
    first_tok = lambda df: F.element_at(F.split(F.col("p_name"), " "), 1)  # noqa: E731
    last_tok = lambda df: F.element_at(F.split(F.col("p_name"), " "), -1)  # noqa: E731
    pairs = L.fuzzy_pairs(
        part, name_col="p_name", block_keys=[first_tok, last_tok],
        max_distance=ER_MAX_DIST,
    ).localCheckpoint(eager=True)
    a = sorted(map(tuple, L.entity_clusters(pairs, rounds=ER_CLUSTER_ROUNDS).collect()))
    b = sorted(map(tuple, L.entity_clusters(pairs, rounds=ER_CLUSTER_ROUNDS + 1).collect()))
    assert a == b and a


def test_auc_exact_sql_generator_matches_spark_without_keys(spark):
    """The oracle generator's empty-keys branch (global AUC) must
    produce the same numbers as the Spark operator on one fixture —
    keeps the generator honest where no registered query exercises
    it."""
    import duckdb

    from blockchain_data_engineering_spark.operators.ml_eval import auc_exact
    from blockchain_data_engineering_spark.plans.oracles import auc_exact_sql

    rows = [(3, True), (1, False), (2, True), (2, False), (5, False)]
    sp = auc_exact(
        spark.createDataFrame(rows, "s long, y boolean"),
        F.col("y"),
        F.col("s"),
    ).first()
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES " +
                ", ".join(f"({s}, {str(y).lower()})" for s, y in rows) +
                ") v(s, y)")
    dk = con.execute(auc_exact_sql("y", "s", "t")).fetchone()
    con.close()
    # Spark: DECIMAL(38,0) totals; SQL twin: VARCHAR (gate string
    # serialization) — compare as exact ints
    assert (sp.n_pos, sp.n_neg, int(sp.auc_num), int(sp.auc_den), sp.auc) == (
        dk[0],
        dk[1],
        int(dk[2]),
        int(dk[3]),
        dk[4],
    )


def test_pr_curve_known_values_and_edges(spark):
    """Hand-computed PR sweep: scores {5: +, 3: +/−(tie), 1: −} →
    thresholds DESC give (tp, fp) = (1,0), (2,1), (2,2); a group with
    no positives yields NULL recall at every threshold; NULL
    label/score rows are excluded (module NULL convention)."""
    from blockchain_data_engineering_spark.operators.ml_eval import pr_curve

    rows = [
        ("g", 5, True),
        ("g", 3, True),
        ("g", 3, False),
        ("g", 1, False),
        ("h", 2, False),
        ("h", 4, False),
        ("g", None, True),  # NULL score → excluded
        (None, 7, None),  # NULL label → excluded (key NULL too)
    ]
    df = spark.createDataFrame(rows, "k string, s long, y boolean")
    got = {
        (r["k"], r["threshold"]): (r["tp"], r["fp"], r["precision"], r["recall"])
        for r in pr_curve(df, F.col("y"), F.col("s"), keys=["k"]).collect()
    }
    assert got[("g", 5)] == (1, 0, 1.0, 0.5)
    assert got[("g", 3)] == (2, 1, 2 / 3, 1.0)
    assert got[("g", 1)] == (2, 2, 0.5, 1.0)
    assert got[("h", 4)] == (0, 1, 0.0, None)
    assert got[("h", 2)] == (0, 2, 0.0, None)
    assert len(got) == 5  # the two NULL rows contributed nothing


def test_retrieval_eval_known_values(spark):
    """Hand-computed: q1 hits at rank 2 (rr 1/2), q2 at rank 1 (rr 1),
    q3 never → hit_rate 2/3, MRR = (1/2 + 1 + 0)/3 = 1/2; with
    lcm(1..3)=6 the integer numerator is 3+6=9. A query with a truth
    item OUTSIDE its top-k contributes zero, not an error."""
    from blockchain_data_engineering_spark.operators.ml_eval import (
        retrieval_eval,
    )

    results = spark.createDataFrame(
        [
            ("q1", "a", 1), ("q1", "b", 2), ("q1", "c", 3),
            ("q2", "x", 1), ("q2", "y", 2),
            ("q3", "m", 1), ("q3", "n", 2),
        ],
        "qid string, item string, rank long",
    )
    truth = spark.createDataFrame(
        [("q1", "b"), ("q2", "x"), ("q3", "zz")],
        "qid string, item string",
    )
    [row] = retrieval_eval(results, truth, k=3).collect()
    assert row["n_queries"] == 3 and row["n_hit"] == 2
    assert row["hit_rate"] == 2 / 3
    assert row["mrr_num"] == 9  # 6/2 + 6/1
    assert row["mrr"] == 9 / 18  # == 0.5 exactly

    # no hits at all: zeros, never NULL/empty
    [z] = retrieval_eval(
        results, truth.where(F.lit(False)), k=3
    ).collect()
    assert (z["n_queries"], z["n_hit"], z["mrr_num"]) == (3, 0, 0)
    assert z["hit_rate"] == 0.0 and z["mrr"] == 0.0

    # empty RESULTS: counts are zeros and the rates are NULL — never
    # an IEEE NaN leaking out of a 0/0
    [e] = retrieval_eval(
        results.where(F.lit(False)), truth, k=3
    ).collect()
    assert (e["n_queries"], e["n_hit"], e["mrr_num"]) == (0, 0, 0)
    assert e["hit_rate"] is None and e["mrr"] is None


def test_quantile_query_rank_convention(spark):
    """Rank selection is ceil(q·k) clamped to [1, k] in pure integer
    arithmetic: q=1bp → first order statistic, q=10000 → the max;
    verified on a fully-known 10-element sample."""
    from blockchain_data_engineering_spark.operators.quantiles import (
        quantile_sketch,
        quantile_sketch_query,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate([10, 20, 30, 40, 50, 60, 70, 80, 90, 100])],
        "rid long, v long",
    )
    st = quantile_sketch(df, "v", ["rid"], k=64)  # n=10 ≤ k → exact
    got = {
        r["q_bp"]: r["est_v"]
        for r in quantile_sketch_query(
            st, [1, 1000, 1001, 5000, 5001, 10000]
        ).collect()
    }
    # ceil(q·10): 1bp→1st, 10%→1st, 10.01%→2nd, 50%→5th, 50.01%→6th
    assert got == {
        1: 10,
        1000: 10,
        1001: 20,
        5000: 50,
        5001: 60,
        10000: 100,
    }


def test_schema_drift_reports_add_remove_retype_only(spark):
    from blockchain_data_engineering_spark.operators.dq import schema_drift

    old = spark.createDataFrame([], "a bigint, b string, c double")
    new = spark.createDataFrame([], "a bigint, b bigint, d string")
    got = {r.column: (r.old_type, r.new_type, r.status)
           for r in schema_drift(old, new).collect()}
    assert got == {
        "b": ("string", "bigint", "type_changed"),
        "c": ("double", None, "removed"),
        "d": (None, "string", "added"),
    }
    # identical schemas → empty report
    assert schema_drift(old, old).count() == 0
