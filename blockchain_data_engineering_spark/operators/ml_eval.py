"""Model-evaluation aggregates, distributed: the classification suite
(exact AUC-ROC, PR curve + average precision + cumulative gain/lift,
confusion matrices + macro-F1 + the per-class precision/recall/F1
report + Matthews correlation, calibration's Brier score + expected
calibration error — binary AND top-label/k-class — + log-loss), the
agreement suite (Cohen's kappa for two labelers, weighted kappa for
ordinal labels, Fleiss' kappa for fixed-n rater ensembles,
Krippendorff's alpha for ragged multi-rater coverage + its per-unit
disagreement drill-down, label mutual information and adjusted Rand
for labelings without a shared category space, Spearman/Kendall rank
correlation for two rankers over a shared item set, rank-biased
overlap for top-weighted lists that need not share items), and the
ranking suite (hit-rate@k + MRR, NDCG@k, reciprocal rank fusion).

A training-data pipeline that learns filters (the quality classifier,
dedup verifiers, contamination flags) needs to EVALUATE them at the
same scale it applies them — sklearn on a driver-side sample silently
mis-ranks classifiers whose errors concentrate in the tail the sample
missed. Every operator here is a pure aggregate/join plan over the
full fact table (no reference counterpart — the reference engine has
no ML surface at all; this extends the training-data superset
alongside operators/text.py's quality classifier).

Exactness: every statistic is integer arithmetic until (at most) one
final IEEE division of exact integer operands — bit-identical in any
engine, the repo-wide float contract (plans/parity.py).

Scale shape:

- ``auc_exact`` is the rank-sum (Mann-Whitney U) formulation with
  average ranks for ties, computed WITHOUT a row-grain global sort:
  one map-side-combinable ``groupBy(keys, score)`` collapses the fact
  table to score grain, then a window ordered by score runs over the
  DISTINCT-score table only — |distinct scores| rows per key group,
  orders of magnitude smaller than the facts. With empty ``keys`` the
  window is single-partition, bounded by distinct scores (document the
  cardinality or bucket the scores first).
- ``confusion_counts`` is ONE hash aggregate (four conditional sums),
  map-side combinable, output grain = |key groups|.
- The k-class agreement statistics — ``multiclass_macro_f1`` and the
  ``multiclass_class_report`` it aggregates, ``cohens_kappa``,
  ``weighted_kappa``, ``label_mutual_information`` and
  ``adjusted_rand_index`` — all read ONE ``confusion_cells``
  aggregate: ≤ k² (keys…, actual, predicted, n) rows per group, built
  from facts or from already-counted cells (the eval-cell store's
  rows, ``streaming/sketches.py``), so everything after it runs at
  cell or class grain.
- ``pr_curve`` is the full threshold sweep from the SAME
  distinct-score grain as ``auc_exact``: cumulative tp/fp via a window
  over the score aggregate — every operating point of the classifier
  without ever sorting the facts. Its OUTPUT grain is also |distinct
  scores| per group — bounded for quantized/bucketed scores, unbounded
  for raw continuous ones. Bucket the scores first (``plans.parity.
  quanta`` or coarser) before calling ``pr_curve`` on a 10^10-row raw
  score column: the curve is the output a user will try to PLOT, and
  no plot needs more operating points than score buckets.
  ``average_precision`` collapses the same sweep to its scalar summary
  without materializing the curve.
- The scalar summaries whose exact terms are rationals with VARYING
  denominators — ``average_precision`` (per-threshold precision),
  ``multiclass_macro_f1`` (per-class F1), ``ndcg_at_k`` (per-query
  dcg/idcg) — floor-quantize each term to an exact integer and
  integer-sum (order-free, engine-identical, floor error bounded and
  documented per operator). ``brier_score`` needs no quantization at
  all: its numerator Σ (s − y·s_max)² is already a pure integer sum.
  ``retrieval_eval`` (MRR) and ``rrf_fuse`` have BOUNDED denominators
  (ranks ≤ k), so their reciprocal sums run exactly via lcm
  numerators with zero error.
- The r9 additions need NO quantization at all: ``ece``'s per-bin
  weights cancel algebraically (see its docstring) leaving a pure
  integer numerator like ``brier_score``'s; ``cohens_kappa``,
  ``matthews_corr``, ``spearman_rho``, ``kendall_tau`` and
  ``cumulative_gain`` are each ratios of exact DECIMAL(38,0)
  integers with one final IEEE division (and, for MCC only, two
  IEEE square roots of exact integers — correctly rounded per
  IEEE-754 in both engines, hence still bit-identical).
- The r10 agreement completions stay exact the same way:
  ``weighted_kappa``'s disagreement weights are integer functions of
  the ordinal label values, and ``krippendorff_alpha``'s per-unit
  1/(m_u−1) weights clear through lcm(1..max_raters−1). ``log_loss``
  is the sanctioned quantized member: its per-row terms are the
  integer literals of ``log_loss_table`` (the NDCG discount-table
  pattern — logs of a bounded score grid are constants of the
  metric, never an engine ``log``), error ≤ 0.5·10^-12 per row.

NULL convention (r6 ADVICE): rows with a NULL label or NULL score are
EXCLUDED at entry by ``auc_exact`` and ``pr_curve`` — a NULL score has
no rank and a NULL label is neither class; silently counting NULL
labels as negatives (the old ``otherwise(1)`` behavior) mis-scored
partially-labeled data, and NULL score placement diverged between
Spark's NULLS FIRST and DuckDB's NULLS LAST window order.

Overflow (r6 ADVICE): ``auc_exact``'s rank-sum totals are
DECIMAL(38,0), not BIGINT — ``rank2_sum ~ 2·n_pos·n`` wraps signed
64-bit once a key group exceeds ~2×10^9 rows, exactly the scale this
module exists for. The SQL twin uses HUGEINT intermediates cast to
DECIMAL(38,0). ``pr_curve``'s counts are plain row counts (≤ n), so
BIGINT holds them.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from blockchain_data_engineering_spark.cache import finalize


def auc_exact(
    df: DataFrame,
    label: Column,
    score: Column,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Exact AUC-ROC per ``keys`` group: ``label`` is a boolean column
    (positive class), ``score`` an exactly-comparable column (integer
    quanta for float scores — ``plans.parity.quanta``). Ties get
    average ranks (the Mann-Whitney convention), kept integer by
    working in DOUBLED ranks: the average rank of a tie run occupying
    rows ``cb+1 .. cb+t`` is ``cb + (t+1)/2``, so its double is
    ``2·cb + t + 1`` — an integer.

    Returns one row per key group: ``n_pos``, ``n_neg``,
    ``auc_num = Σ_pos 2r − n_pos·(n_pos+1)``,
    ``auc_den = 2·n_pos·n_neg`` (both DECIMAL(38,0) — see module
    docstring), and ``auc`` (the one IEEE division; NULL when a group
    lacks both classes). NULL-label/NULL-score rows are excluded.
    """
    keyed = list(keys)
    per_score = _per_score_counts(df, label, score, keyed)
    w = Window.partitionBy(*keyed).orderBy("__s")
    cum_before = F.coalesce(
        F.sum(F.col("np") + F.col("nn")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    # doubled average rank of this score's tie run, weighted by its
    # positive count: Σ_pos 2r in one pass. The cumulative count and
    # the per-score np/nn fit BIGINT (they are row counts); the
    # PRODUCT is where 64 bits run out, so it is computed — and
    # summed — in DECIMAL(38,0).
    contrib = F.col("np").cast("decimal(38,0)") * (
        2 * cum_before + F.col("np") + F.col("nn") + 1
    )
    totals = per_score.select(
        *keyed,
        contrib.alias("__c"),
        F.col("np").alias("__np"),
        F.col("nn").alias("__nn"),
    ).groupBy(*keyed).agg(
        F.sum("__np").cast("long").alias("n_pos"),
        F.sum("__nn").cast("long").alias("n_neg"),
        F.sum("__c").cast("decimal(38,0)").alias("__rank2_sum"),
    )
    npos_d = F.col("n_pos").cast("decimal(38,0)")
    num = F.col("__rank2_sum") - npos_d * (F.col("n_pos") + 1)
    den = F.lit(2).cast("decimal(38,0)") * npos_d * F.col("n_neg")
    return totals.select(
        *keyed,
        "n_pos",
        "n_neg",
        num.cast("decimal(38,0)").alias("auc_num"),
        den.cast("decimal(38,0)").alias("auc_den"),
        F.when(
            den > 0, num.cast("double") / den.cast("double")
        ).alias("auc"),
    )


def _per_score_counts(
    df: DataFrame, label: Column, score: Column, keyed: list[str]
) -> DataFrame:
    """Shared first stage of ``auc_exact`` / ``pr_curve``: collapse the
    facts to distinct-score grain with per-score positive / negative
    counts — ONE map-side-combinable aggregate; NULL labels and scores
    excluded (module NULL convention)."""
    return (
        df.where(label.isNotNull() & score.isNotNull())
        .select(*keyed, label.alias("__pos"), score.alias("__s"))
        .groupBy(*keyed, "__s")
        .agg(
            F.sum(F.when(F.col("__pos"), 1).otherwise(0)).alias("np"),
            F.sum(F.when(F.col("__pos"), 0).otherwise(1)).alias("nn"),
        )
    )


def auc_exact_sql(
    label_sql: str,
    score_sql: str,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """DuckDB twin of :func:`auc_exact` — same doubled-rank algebra,
    same NULL exclusion, same column names. HUGEINT intermediates;
    ``auc_num``/``auc_den`` serialize as VARCHAR (the netflow_decimal
    recipe: both engines print integers identically and the string
    survives the driver's pandas round-trip losslessly), so the Spark
    side of a gate query must cast its decimals to string too."""
    keyed = list(keys)
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    part = f"PARTITION BY {kcols} " if keyed else ""
    grp = f"GROUP BY {kcols}" if keyed else ""
    return f"""
    WITH per_score AS (
      SELECT {kpre}{score_sql} AS s,
             sum(CASE WHEN {label_sql} THEN 1 ELSE 0 END) AS np,
             sum(CASE WHEN {label_sql} THEN 0 ELSE 1 END) AS nn
      FROM {table}
      WHERE ({label_sql}) IS NOT NULL AND ({score_sql}) IS NOT NULL
      GROUP BY {kpre.rstrip(", ") + ", " if keyed else ""}s
    ),
    ranked AS (
      SELECT {kpre}np, nn,
             coalesce(sum(np + nn) OVER ({part}ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM per_score
    ),
    totals AS (
      SELECT {kpre}
             CAST(sum(np) AS BIGINT) AS n_pos,
             CAST(sum(nn) AS BIGINT) AS n_neg,
             sum(CAST(np AS HUGEINT) * (2 * cb + np + nn + 1))
               AS rank2_sum
      FROM ranked {grp}
    )
    SELECT {kpre}n_pos, n_neg,
           CAST(rank2_sum - CAST(n_pos AS HUGEINT) * (n_pos + 1)
                AS VARCHAR) AS auc_num,
           CAST(2 * CAST(n_pos AS HUGEINT) * n_neg AS VARCHAR)
             AS auc_den,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             CAST(rank2_sum - CAST(n_pos AS HUGEINT) * (n_pos + 1)
                  AS DOUBLE)
               / CAST(2 * CAST(n_pos AS HUGEINT) * n_neg AS DOUBLE)
           END AS auc
    FROM totals
    """


def pr_curve(
    df: DataFrame,
    label: Column,
    score: Column,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Precision/recall at EVERY distinct score threshold per ``keys``
    group — the full PR curve, not one operating point: at threshold t
    the classifier predicts positive iff ``score ≥ t``, so cumulative
    ``tp``/``fp`` are running sums over scores DESCENDING. Computed
    from the same distinct-score-grain aggregate as :func:`auc_exact`
    (one map-side-combinable groupBy collapses the facts), with ONE
    window partitioning serving both the running counts and the group
    positive total (two frames, one sort, over |distinct scores| rows
    — never a row-grain sort; plan-pinned). Returns one row per
    (group, threshold): ``threshold, tp, fp, precision, recall`` —
    precision/recall each a single IEEE division of exact longs
    (``tp + fp ≥ 1`` at every emitted threshold by construction;
    ``recall`` NULL for a group with no positives)."""
    keyed = list(keys)
    per_score = _per_score_counts(df, label, score, keyed)
    w = Window.partitionBy(*keyed).orderBy(F.col("__s").desc())
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    whole = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    counted = per_score.select(
        *keyed,
        F.col("__s").alias("threshold"),
        F.sum("np").over(run).cast("long").alias("tp"),
        F.sum("nn").over(run).cast("long").alias("fp"),
        F.sum("np").over(whole).cast("long").alias("__n_pos"),
    )
    tp, fp, n_pos = F.col("tp"), F.col("fp"), F.col("__n_pos")
    return counted.select(
        *keyed,
        "threshold",
        "tp",
        "fp",
        (tp.cast("double") / (tp + fp).cast("double")).alias("precision"),
        F.when(
            n_pos > 0, tp.cast("double") / n_pos.cast("double")
        ).alias("recall"),
    )


def pr_curve_sql(
    label_sql: str,
    score_sql: str,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """DuckDB twin of :func:`pr_curve` — same distinct-score grain,
    same NULL exclusion, same column names."""
    keyed = list(keys)
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    part = f"PARTITION BY {kcols} " if keyed else ""
    return f"""
    WITH per_score AS (
      SELECT {kpre}{score_sql} AS s,
             sum(CASE WHEN {label_sql} THEN 1 ELSE 0 END) AS np,
             sum(CASE WHEN {label_sql} THEN 0 ELSE 1 END) AS nn
      FROM {table}
      WHERE ({label_sql}) IS NOT NULL AND ({score_sql}) IS NOT NULL
      GROUP BY {kpre.rstrip(", ") + ", " if keyed else ""}s
    ),
    swept AS (
      SELECT {kpre}s AS threshold,
             CAST(sum(np) OVER ({part}ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS tp,
             CAST(sum(nn) OVER ({part}ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS fp,
             CAST(sum(np) OVER ({part.rstrip() or 'PARTITION BY 1'})
               AS BIGINT) AS n_pos
      FROM per_score
    )
    SELECT {kpre}threshold, tp, fp,
           CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
           CASE WHEN n_pos > 0
                THEN CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE)
           END AS recall
    FROM swept
    """


# Per-term quantization scale for average_precision: each threshold's
# precision contribution is floored to parts-per-10^9 BEFORE summing,
# making the sum pure integer arithmetic (order-free, engine-identical)
# at an absolute AP error < |thresholds| / (n_pos · 10^9). The quotient
# np_t·tp_t·S div (tp_t+fp_t) ≤ np_t·S must fit the BIGINT that
# Spark's integral `div` returns — fine until a single score bucket
# holds > 9·10^9 positives, far past any sane bucketing.
_AP_SCALE = 10**9


def average_precision(
    df: DataFrame,
    label: Column,
    score: Column,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Average precision (= area under the PR curve by the step-wise
    sklearn definition, AP = Σ_t (R_t − R_{t−1})·P_t over thresholds
    descending) per ``keys`` group — the scalar summary of
    :func:`pr_curve`, computed from the SAME distinct-score-grain
    aggregate and window (never a row-grain sort).

    Exactness treatment: AP·n_pos = Σ_t np_t·tp_t/(tp_t+fp_t) is a sum
    of rationals with VARYING denominators — no lcm trick applies
    (contrast ``retrieval_eval``'s MRR, where ranks bound the
    denominators). Instead each term is floor-quantized to the exact
    integer ``(np_t·tp_t·10^9) div (tp_t+fp_t)`` (the product in
    DECIMAL(38,0), the quotient a BIGINT) and the terms integer-sum in
    DECIMAL(38,0) — order-free and bit-identical in any engine, with
    the summed floor error < |thresholds|/10^9 of AP·n_pos (documented,
    bounded, and identical on both sides of the oracle gate).

    Returns one row per group: ``n_pos``, ``n_thresholds``, ``ap_num``
    (the quantized integer numerator, DECIMAL(38,0) — gate queries
    serialize it as a string, the netflow_decimal recipe) and
    ``ap = ap_num / (n_pos·10^9)`` (one IEEE division; NULL when the
    group has no positives). NULL labels/scores are excluded (module
    convention)."""
    keyed = list(keys)
    per_score = _per_score_counts(df, label, score, keyed)
    w = Window.partitionBy(*keyed).orderBy(F.col("__s").desc())
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counted = per_score.select(
        *keyed,
        F.col("np"),
        F.sum("np").over(run).cast("long").alias("tp"),
        F.sum("nn").over(run).cast("long").alias("fp"),
    )
    term = F.expr(
        f"(CAST(np AS DECIMAL(38,0)) * tp * {_AP_SCALE}) div (tp + fp)"
    )
    # coalesce: a GLOBAL (keys=()) aggregate over an empty/filtered-out
    # input still emits one row — its counts are 0, never NULL (the
    # repo empty-input convention, retrieval_eval)
    totals = counted.select(
        *keyed, term.alias("__t"), F.col("np").alias("__np")
    ).groupBy(*keyed).agg(
        F.coalesce(F.sum("__np"), F.lit(0)).cast("long").alias("n_pos"),
        F.count(F.lit(1)).cast("long").alias("n_thresholds"),
        F.coalesce(F.sum("__t"), F.lit(0))
        .cast("decimal(38,0)")
        .alias("ap_num"),
    )
    den = (
        F.col("n_pos").cast("decimal(38,0)") * F.lit(_AP_SCALE)
    ).cast("decimal(38,0)")
    return totals.select(
        *keyed,
        "n_pos",
        "n_thresholds",
        "ap_num",
        F.when(
            F.col("n_pos") > 0,
            F.col("ap_num").cast("double") / den.cast("double"),
        ).alias("ap"),
    )


def average_precision_sql(
    label_sql: str,
    score_sql: str,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """DuckDB twin of :func:`average_precision` — same quantized-term
    algebra (HUGEINT product, ``//`` floor quotient), same NULL
    exclusion; ``ap_num`` serializes as VARCHAR."""
    keyed = list(keys)
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    part = f"PARTITION BY {kcols} " if keyed else ""
    grp = f"GROUP BY {kcols}" if keyed else ""
    return f"""
    WITH per_score AS (
      SELECT {kpre}{score_sql} AS s,
             sum(CASE WHEN {label_sql} THEN 1 ELSE 0 END) AS np,
             sum(CASE WHEN {label_sql} THEN 0 ELSE 1 END) AS nn
      FROM {table}
      WHERE ({label_sql}) IS NOT NULL AND ({score_sql}) IS NOT NULL
      GROUP BY {kpre.rstrip(", ") + ", " if keyed else ""}s
    ),
    swept AS (
      SELECT {kpre}np,
             CAST(sum(np) OVER ({part}ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS tp,
             CAST(sum(nn) OVER ({part}ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS fp
      FROM per_score
    ),
    totals AS (
      -- coalesce: the GLOBAL aggregate over an empty/filtered-out
      -- input emits 0s, never NULLs (matches the Spark twin)
      SELECT {kpre}
             CAST(coalesce(sum(np), 0) AS BIGINT) AS n_pos,
             CAST(count(*) AS BIGINT) AS n_thresholds,
             coalesce(sum((CAST(np AS HUGEINT) * tp * {_AP_SCALE})
                          // (tp + fp)), 0)
               AS ap_num
      FROM swept {grp}
    )
    SELECT {kpre}n_pos, n_thresholds,
           CAST(ap_num AS VARCHAR) AS ap_num,
           CASE WHEN n_pos > 0 THEN
             CAST(ap_num AS DOUBLE)
               / CAST(CAST(n_pos AS HUGEINT) * {_AP_SCALE} AS DOUBLE)
           END AS ap
    FROM totals
    """


# NDCG discount quanta: 10^12/log2(1+r) for rank r, precomputed ONCE
# in Python and embedded as integer LITERALS in both engines — the
# discounts are constants of the metric, not engine log() calls whose
# low bits could diverge. Per-rank contributions rel·disc are exact
# integers, so every sum is order-free.
_NDCG_SCALE = 10**12
# per-query ndcg ratio quantization (dcg/idcg ≤ 1 → quotient ≤ 10^9)
_NDCG_RATIO_SCALE = 10**9


def ndcg_discounts(k: int) -> list[int]:
    """The literal integer discount table [rank 1..k]:
    round(10^12 / log2(1+rank))."""
    import math

    return [round(_NDCG_SCALE / math.log2(1 + r)) for r in range(1, k + 1)]


def ndcg_at_k(
    results: DataFrame,
    truth: DataFrame,
    query_col: str = "qid",
    item_col: str = "item",
    rank_col: str = "rank",
    rel_col: str = "rel",
    k: int = 10,
) -> DataFrame:
    """NDCG@k — the GRADED-relevance ranking metric completing
    :func:`retrieval_eval`'s binary hit-rate/MRR: given per-query
    ranked ``results`` (rank 1..k, one row per (query, item)) and a
    ``truth`` set carrying integer relevance grades ``rel_col`` ≥ 1
    (one row per (query, item); non-positive/NULL grades are excluded
    — an item with no grade is simply irrelevant), returns ONE row:
    ``n_queries`` (queries with a non-empty truth set — only they have
    a defined ideal), ``ndcg_num`` (DECIMAL(38,0) — serialize as
    string in gate queries) and ``ndcg`` (the mean; NULL when no query
    has truth).

    Exactness: per-rank discounts are the literal integer quanta of
    :func:`ndcg_discounts` (constants of the metric — never an engine
    ``log``), so per-query DCG = Σ rel·disc_q[rank] and ideal DCG
    (grades re-ranked descending, item tiebreak) are exact integer
    sums. The per-query ratio is floor-quantized to
    ``(dcg·10^9) div idcg`` (≤ 10^9 since dcg ≤ idcg) and the corpus
    mean integer-sums those — the same quanta-sum policy as
    ``average_precision``, absolute error < 10^-9 per query.

    Scale shape: one hits equi-join (truth broadcastable or
    co-partitioned), one per-query sum over ≤ k hit rows, one ranked
    window over the truth set bounded to k (WindowGroupLimit), two
    grand aggregates."""
    if not 1 <= k <= 64:
        raise ValueError(f"k must be in 1..64, got {k}")
    disc = ndcg_discounts(k)
    disc_arr = F.array(*[F.lit(int(d)).cast("long") for d in disc])
    graded = truth.where(
        F.col(rel_col).isNotNull() & (F.col(rel_col) > 0)
    ).select(
        F.col(query_col).alias("__q"),
        F.col(item_col).alias("__i"),
        F.col(rel_col).cast("long").alias("__rel"),
    )
    # per-query DCG over the ≤ k hits (missing ranks contribute 0).
    # rank ≥ 1 is part of the filter, not just the contract: rank 0
    # would crash element_at and a negative rank would silently index
    # the discount table from the END
    hits = results.where(
        (F.col(rank_col) >= 1) & (F.col(rank_col) <= k)
    ).join(
        graded,
        (F.col(query_col) == F.col("__q"))
        & (F.col(item_col) == F.col("__i")),
        "inner",
    )
    dcg = hits.select(
        F.col("__q").alias("__qd"),
        (
            F.col("__rel").cast("decimal(38,0)")
            * F.element_at(disc_arr, F.col(rank_col).cast("int"))
        ).alias("__g"),
    ).groupBy("__qd").agg(
        F.sum("__g").cast("decimal(38,0)").alias("__dcg")
    )
    # ideal DCG: grades descending (item tiebreak), top k —
    # WindowGroupLimit-bounded
    wi = Window.partitionBy("__q").orderBy(
        F.col("__rel").desc(), F.col("__i")
    )
    idcg = (
        graded.withColumn("__rn", F.row_number().over(wi))
        .where(F.col("__rn") <= k)
        .select(
            "__q",
            (
                F.col("__rel").cast("decimal(38,0)")
                * F.element_at(disc_arr, F.col("__rn").cast("int"))
            ).alias("__g"),
        )
        .groupBy("__q")
        .agg(F.sum("__g").cast("decimal(38,0)").alias("__idcg"))
    )
    per_query = idcg.join(
        dcg, idcg["__q"] == dcg["__qd"], "left"
    ).select(
        F.expr(
            f"(coalesce(__dcg, CAST(0 AS DECIMAL(38,0)))"
            f" * {_NDCG_RATIO_SCALE}) div __idcg"
        ).alias("__nq")
    )
    agg = per_query.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum("__nq").cast("decimal(38,0)").alias("ndcg_num"),
    )
    den = (
        F.col("n_queries").cast("decimal(38,0)")
        * F.lit(_NDCG_RATIO_SCALE)
    ).cast("decimal(38,0)")
    return agg.select(
        "n_queries",
        F.coalesce(
            F.col("ndcg_num"), F.lit(0).cast("decimal(38,0)")
        ).alias("ndcg_num"),
        F.when(
            F.col("n_queries") > 0,
            F.coalesce(F.col("ndcg_num"), F.lit(0)).cast("double")
            / den.cast("double"),
        ).alias("ndcg"),
    )


def retrieval_eval(
    results: DataFrame,
    truth: DataFrame,
    query_col: str = "qid",
    item_col: str = "item",
    rank_col: str = "rank",
    k: int = 10,
) -> DataFrame:
    """Ranking-evaluation aggregate — the retrieval sibling of the
    classification triad (AUC / PR / confusion / calibration): given
    per-query ranked ``results`` (rank 1..k) and a ``truth`` relevance
    set, returns ONE row: ``n_queries`` (distinct queried ids),
    ``n_hit`` (queries whose top-k contains ≥ 1 relevant item),
    ``hit_rate`` (= recall-any@k), ``mrr_num`` (Σ lcm/first_hit_rank —
    see below) and ``mrr`` (mean reciprocal rank).

    Exactness trick: reciprocal ranks are NOT summed as doubles (sum
    order differs between engines) — with ranks bounded by k, every
    1/r is an exact multiple of 1/lcm(1..k), so the sum runs as the
    INTEGER Σ lcm/r and one final IEEE division yields a bit-identical
    ``mrr`` (the quanta-sum policy of plans/parity.py applied to
    rationals with bounded denominators). Keep k modest (lcm(1..25)
    still fits a BIGINT; lcm(1..43) overflows).

    Scale shape: one equi-join of results to the (broadcastable or
    co-partitioned) truth set, one per-query min aggregate over the
    HITS only (≤ |truth∩results|, usually ≪ results), one grand
    aggregate. Queries with no relevant item in the top-k contribute 0
    to both numerators — the standard convention.
    """
    import math

    if not (1 <= k <= 42):
        raise ValueError(
            f"k must be in 1..42, got {k}: the exact-integer MRR sum "
            "needs lcm(1..k) as a 64-bit literal and lcm(1..43) "
            "overflows BIGINT"
        )
    lcm = math.lcm(*range(1, k + 1))
    # rank ≥ 1 in the filter (not just the contract): a 0/negative
    # rank would turn the exact `lcm div first` into a NULL or a
    # sign-flipped contribution
    hits = results.where(
        (F.col(rank_col) >= 1) & (F.col(rank_col) <= k)
    ).join(
        truth.select(
            F.col(query_col).alias("__q"), F.col(item_col).alias("__i")
        ),
        (F.col(query_col) == F.col("__q"))
        & (F.col(item_col) == F.col("__i")),
        "inner",
    )
    first_hit = hits.groupBy(query_col).agg(
        F.min(rank_col).alias("__first")
    )
    n_q = results.agg(
        F.count_distinct(F.col(query_col)).alias("n_queries")
    )
    agg = first_hit.agg(
        F.count(F.lit(1)).cast("long").alias("n_hit"),
        # integer div: __first always divides lcm exactly
        F.sum(F.expr(f"{int(lcm)}L div __first"))
        .cast("long")
        .alias("mrr_num"),
    )
    # grand agg ⋈ grand agg: two 1-row frames; rates are NULL (not
    # IEEE NaN) for an empty results set — the repo-wide
    # empty-denominator convention (confusion_counts, pr_curve)
    out = n_q.crossJoin(agg)
    nq_pos = F.col("n_queries") > 0
    return out.select(
        "n_queries",
        F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
        F.when(
            nq_pos,
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
            / F.col("n_queries").cast("double"),
        ).alias("hit_rate"),
        F.coalesce(F.col("mrr_num"), F.lit(0)).alias("mrr_num"),
        F.when(
            nq_pos,
            F.coalesce(F.col("mrr_num"), F.lit(0)).cast("double")
            / (F.col("n_queries") * F.lit(int(lcm))).cast("double"),
        ).alias("mrr"),
    )


def confusion_cells(
    df: DataFrame,
    actual: Column,
    predicted: Column,
    keys: Sequence[str] = (),
    n: Column | None = None,
) -> DataFrame:
    """The ``(keys…, actual, predicted, n)`` confusion cells every
    agreement statistic reads, and the row shape of the eval-cell
    store (``streaming/sketches.eval_cells_delta_sink``). Without
    ``n`` each input row is one fact and is counted; with ``n`` each
    input row is a cell and ``n`` is summed, so duplicate cells (the
    store's per-batch deltas) merge. Rows with a NULL label or a NULL
    key are dropped: a NULL is no label, and the statistics re-join
    their sub-aggregates on ``keys``, where NULL never matches NULL
    (``coalesce`` a key upstream if NULL should be a real group).

    Scale shape: ONE map-side-combinable aggregate; the output grain
    is ≤ k² rows per group."""
    keyed = list(keys)
    ok = actual.isNotNull() & predicted.isNotNull()
    for c in keyed:
        ok = ok & F.col(c).isNotNull()
    count = F.count(F.lit(1)) if n is None else F.sum(n.cast("long"))
    return (
        df.where(ok)
        .groupBy(*keyed, actual.alias("actual"), predicted.alias("predicted"))
        .agg(count.cast("long").alias("n"))
    )


def _join_groups(
    left: DataFrame, right: DataFrame, keys: Sequence[str], how: str = "inner"
) -> DataFrame:
    """Join two per-group frames on ``keys``. With no keys both sides
    are global — one row, or one row per label — and every left row
    pairs with every row of the broadcast right side; ``how`` is moot
    there, since no caller's right side is empty while its left side
    is not. (A constant-key equi join would plan the same: Catalyst
    folds the literal keys into a key-less nested-loop join.)"""
    if keys:
        return left.join(right, list(keys), how)
    return left.crossJoin(F.broadcast(right))


def multiclass_macro_f1(
    df: DataFrame,
    actual: Column,
    predicted: Column,
    keys: Sequence[str] = (),
    n: Column | None = None,
) -> DataFrame:
    """Macro-averaged F1 + accuracy per ``keys`` group — the scalar
    summary of the k×k confusion matrix (``ml_multiclass_confusion``),
    the way :func:`average_precision` summarizes the PR sweep: one
    aggregate over the :func:`multiclass_class_report` rows, which
    are the same numbers disaggregated. Classes are the distinct
    ACTUAL labels (every class with support ≥ 1; a label that only
    ever appears as a prediction has no recall and is not averaged —
    the sklearn ``labels=present-in-y_true`` convention). Input rows
    are facts, or cells with an ``n`` column (:func:`confusion_cells`).

    Exactness: per-class F1 = 2tp/(2tp+fp+fn) where the denominator is
    ``support + predicted_total`` (= (tp+fn) + (tp+fp)) — rationals
    with varying denominators, so the macro mean gets the same
    quantized-sum treatment as :func:`average_precision`: each class's
    F1 floors to the exact integer ``f1_num = (2·tp·10^9) div
    (support + predicted_total)``, the sum is DECIMAL(38,0), and one
    IEEE division yields the mean (absolute error < |classes|/10^9 of
    the numerator). ``accuracy = Σtp/n`` is a single exact division
    (micro-F1 ≡ accuracy for single-label multiclass).

    Returns one row per group: ``n``, ``n_classes``, ``accuracy``,
    ``macro_f1_num`` (DECIMAL(38,0) — serialize as string in gate
    queries) and ``macro_f1``."""
    keyed = list(keys)
    # coalesce: the GLOBAL empty-input row carries 0s, never NULLs
    # (the repo empty-input convention)
    totals = (
        multiclass_class_report(df, actual, predicted, keys, n)
        .groupBy(*keyed)
        .agg(
            F.coalesce(F.sum("support"), F.lit(0)).cast("long").alias("n"),
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.coalesce(F.sum("tp"), F.lit(0)).cast("long").alias("__tp_sum"),
            F.coalesce(F.sum("f1_num"), F.lit(0))
            .cast("decimal(38,0)")
            .alias("macro_f1_num"),
        )
    )
    den = (
        F.col("n_classes").cast("decimal(38,0)") * F.lit(_AP_SCALE)
    ).cast("decimal(38,0)")
    return totals.select(
        *keyed,
        "n",
        "n_classes",
        F.when(
            F.col("n") > 0,
            F.col("__tp_sum").cast("double") / F.col("n").cast("double"),
        ).alias("accuracy"),
        "macro_f1_num",
        F.when(
            F.col("n_classes") > 0,
            F.col("macro_f1_num").cast("double") / den.cast("double"),
        ).alias("macro_f1"),
    )


def multiclass_macro_f1_from_cells_sql(
    cells_sql: str,
    actual_col: str = "actual",
    predicted_col: str = "predicted",
    n_col: str = "n",
    keys: Sequence[str] = (),
) -> str:
    """DuckDB twin of :func:`multiclass_macro_f1` over cells (``n``
    given) — the oracle for MAINTAINED cell stores (``streaming/sketches.py``):
    ``cells_sql`` is a FROM-able fragment exposing (actual,
    predicted, count) rows, possibly with duplicates (per-batch
    deltas) — they re-aggregate exactly as the Spark store read does,
    then the quantized-F1 algebra of :func:`multiclass_macro_f1` runs
    over the summed cells (the ``cohens_kappa_from_cells_sql``
    pattern); facts read as cells with ``n = 1``."""
    keyed = list(keys)
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    grp = f"GROUP BY {kcols}" if keyed else ""
    kgrp_ap = f"{kcols}, a, p" if keyed else "a, p"
    kgrp_a = f"{kcols}, a" if keyed else "a"
    kgrp_p = f"{kcols}, p" if keyed else "p"
    key_nn = "".join(f" AND ({c}) IS NOT NULL" for c in keyed)
    kjoin = " AND ".join(f"ba.{c} = bp.{c}" for c in keyed)
    on = f"ba.a = bp.p{' AND ' + kjoin if keyed else ''}"
    kpre_ba = ", ".join(f"ba.{c}" for c in keyed) + (", " if keyed else "")
    return f"""
    WITH cells AS (
      SELECT {kpre}{actual_col} AS a, {predicted_col} AS p,
             CAST(sum({n_col}) AS BIGINT) AS n
      FROM {cells_sql}
      WHERE ({actual_col}) IS NOT NULL AND ({predicted_col}) IS NOT NULL
        {key_nn}
      GROUP BY {kgrp_ap}
    ),
    by_actual AS (
      SELECT {kpre}a, CAST(sum(n) AS BIGINT) AS support,
             CAST(sum(CASE WHEN a = p THEN n ELSE 0 END) AS BIGINT) AS tp
      FROM cells GROUP BY {kgrp_a}
    ),
    by_pred AS (
      SELECT {kpre}p, CAST(sum(n) AS BIGINT) AS pred_total
      FROM cells GROUP BY {kgrp_p}
    ),
    per_class AS (
      SELECT {kpre_ba}ba.support, ba.tp,
             coalesce(bp.pred_total, 0) AS pred_total
      FROM by_actual ba LEFT JOIN by_pred bp ON {on}
    ),
    totals AS (
      SELECT {kpre}
             CAST(coalesce(sum(support), 0) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_classes,
             CAST(coalesce(sum(tp), 0) AS BIGINT) AS tp_sum,
             coalesce(sum((2 * CAST(tp AS HUGEINT) * {_AP_SCALE})
                 // (support + pred_total)), 0) AS macro_f1_num
      FROM per_class {grp}
    )
    SELECT {kpre}n, n_classes,
           CASE WHEN n > 0
                THEN CAST(tp_sum AS DOUBLE) / CAST(n AS DOUBLE)
           END AS accuracy,
           CAST(macro_f1_num AS VARCHAR) AS macro_f1_num,
           CASE WHEN n_classes > 0 THEN
             CAST(macro_f1_num AS DOUBLE)
               / CAST(CAST(n_classes AS HUGEINT) * {_AP_SCALE} AS DOUBLE)
           END AS macro_f1
    FROM totals
    """


def multiclass_class_report(
    df: DataFrame,
    actual: Column,
    predicted: Column,
    keys: Sequence[str] = (),
    n: Column | None = None,
) -> DataFrame:
    """Per-CLASS precision/recall/F1 drill-down per ``keys`` group —
    the classification report behind :func:`multiclass_macro_f1`'s
    scalar: when the macro-F1 gate dips, these are the rows that say
    WHICH class is failing and HOW (precision collapse = the filter
    over-fires into the class; recall collapse = the class leaks
    away). Input rows are facts, or cells with an ``n`` column
    (:func:`confusion_cells`).

    One row per (keys, class) where classes are the distinct ACTUAL
    labels (the sklearn ``labels=present-in-y_true`` convention
    :func:`multiclass_macro_f1` documents — a label that only ever
    appears as a prediction has no recall and no row; its mass still
    shows up as the true classes' ``fp``). Columns: ``support``
    (= tp+fn), ``tp``, ``fp`` (= pred_total − tp), ``fn``,
    ``precision`` (tp/(tp+fp), NULL when the class is never
    predicted), ``recall`` (tp/support — support ≥ 1 by
    construction), ``f1`` (2tp/(support + pred_total)) and ``f1_num``
    (DECIMAL(38,0) — serialize as string in gate queries).

    The drill-down contract (pinned in tests): per group,
    ``sum(f1_num) == macro_f1_num`` and ``sum(tp)/sum(support) ==
    accuracy`` of :func:`multiclass_macro_f1`, which aggregates these
    rows — never a parallel approximation that can disagree with the
    gate. ``f1_num`` is the floor-quantized integer ``(2·tp·10^9) div
    (support + pred_total)``; ``precision``/``recall``/``f1`` are
    single IEEE divisions of exact integers (correctly rounded,
    engine-identical).

    Scale shape: the cell aggregate, two class-grain
    re-aggregations + one ≤ k-row equi join (the
    :func:`distribution_drift_explain` idiom applied to the confusion
    matrix). Output grain = |classes| per group."""
    keyed = list(keys)
    cells = confusion_cells(df, actual, predicted, keys, n)
    by_actual = cells.groupBy(*keyed, F.col("actual").alias("class")).agg(
        F.sum("n").cast("long").alias("support"),
        F.sum(F.when(F.col("actual") == F.col("predicted"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("tp"),
    )
    by_pred = cells.groupBy(*keyed, F.col("predicted").alias("class")).agg(
        F.sum("n").cast("long").alias("pred_total")
    )
    per_class = by_actual.join(by_pred, keyed + ["class"], "left").select(
        *keyed,
        "class",
        "support",
        "tp",
        F.coalesce(F.col("pred_total"), F.lit(0)).alias("pred_total"),
    )
    f1_num = F.expr(
        f"(CAST(2 AS DECIMAL(38,0)) * tp * {_AP_SCALE})"
        " div (support + pred_total)"
    ).cast("decimal(38,0)")
    return per_class.select(
        *keyed,
        "class",
        "support",
        "tp",
        (F.col("pred_total") - F.col("tp")).cast("long").alias("fp"),
        (F.col("support") - F.col("tp")).cast("long").alias("fn"),
        F.when(
            F.col("pred_total") > 0,
            F.col("tp").cast("double") / F.col("pred_total").cast("double"),
        ).alias("precision"),
        (F.col("tp").cast("double") / F.col("support").cast("double")).alias(
            "recall"
        ),
        (
            F.lit(2).cast("double")
            * F.col("tp").cast("double")
            / (F.col("support") + F.col("pred_total")).cast("double")
        ).alias("f1"),
        f1_num.alias("f1_num"),
    )


def multiclass_class_report_sql(
    actual_sql: str,
    predicted_sql: str,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """DuckDB twin of :func:`multiclass_class_report` — same cell
    grain, same per-class integer algebra; ``f1_num`` serializes as
    VARCHAR."""
    keyed = list(keys)
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    kgrp_a = f"{kcols}, a" if keyed else "a"
    kgrp_p = f"{kcols}, p" if keyed else "p"
    kjoin = " AND ".join(f"ba.{c} = bp.{c}" for c in keyed)
    on = f"ba.a = bp.p{' AND ' + kjoin if keyed else ''}"
    kpre_ba = ", ".join(f"ba.{c}" for c in keyed) + (", " if keyed else "")
    key_nn = "".join(f" AND ({c}) IS NOT NULL" for c in keyed)
    return f"""
    WITH cells AS (
      SELECT {kpre}{actual_sql} AS a, {predicted_sql} AS p,
             count(*) AS n
      FROM {table}
      WHERE ({actual_sql}) IS NOT NULL AND ({predicted_sql}) IS NOT NULL
        {key_nn}
      GROUP BY {kgrp_a}, p
    ),
    by_actual AS (
      SELECT {kpre}a, CAST(sum(n) AS BIGINT) AS support,
             CAST(sum(CASE WHEN a = p THEN n ELSE 0 END) AS BIGINT) AS tp
      FROM cells GROUP BY {kgrp_a}
    ),
    by_pred AS (
      SELECT {kpre}p, CAST(sum(n) AS BIGINT) AS pred_total
      FROM cells GROUP BY {kgrp_p}
    ),
    per_class AS (
      SELECT {kpre_ba}ba.a AS class, ba.support, ba.tp,
             coalesce(bp.pred_total, 0) AS pred_total
      FROM by_actual ba LEFT JOIN by_pred bp ON {on}
    )
    SELECT {kpre}class, support, tp,
           CAST(pred_total - tp AS BIGINT) AS fp,
           CAST(support - tp AS BIGINT) AS fn,
           CASE WHEN pred_total > 0 THEN
             CAST(tp AS DOUBLE) / CAST(pred_total AS DOUBLE)
           END AS precision,
           CAST(tp AS DOUBLE) / CAST(support AS DOUBLE) AS recall,
           2 * CAST(tp AS DOUBLE)
             / CAST(support + pred_total AS DOUBLE) AS f1,
           CAST((2 * CAST(tp AS HUGEINT) * {_AP_SCALE})
                // (support + pred_total) AS VARCHAR) AS f1_num
    FROM per_class
    """


def adjusted_rand_index(
    df: DataFrame,
    actual: Column,
    predicted: Column,
    keys: Sequence[str] = (),
    n: Column | None = None,
) -> DataFrame:
    """Adjusted Rand index (+ the raw Rand index) between two label
    columns per ``keys`` group — the pair-counting clustering-
    agreement statistic (Hubert & Arabie 1985), the companion lens to
    :func:`label_mutual_information`: MI asks "how much information",
    ARI asks "how many PAIRS of items do the two labelings co-group
    the same way, beyond chance" — bounded above by 1 (identical
    partitions), ~0 for independent labelings, negative for
    worse-than-chance. Like MI it needs no shared category space.
    Input rows are facts, or cells with an ``n`` column
    (:func:`confusion_cells`); pair binomials are not additive across
    cells, but the cells are, so duplicate cells merge before any
    binomial is taken.

    Definition: with pair counts ``S = Σ_ij C(n_ij,2)``,
    ``A = Σ_i C(a_i,2)``, ``B = Σ_j C(b_j,2)``, ``T = C(n,2)``:
    ``ARI = (S − A·B/T) / (½(A+B) − A·B/T)`` and
    ``RI = (T + 2S − A − B)/T`` (the fraction of item pairs the two
    labelings treat consistently — together or apart).

    Exactness — EXACT, no quantization at all (unlike MI, whose
    ln() forces the share grid): every binomial is an integer
    (``C(x,2) = (x·(x−1)) div 2`` — the product of consecutive
    integers is even, so the flooring div is exact), and clearing T
    gives ``ari = (2·T·S − 2·A·B) / (T·(A+B) − 2·A·B)`` — pure
    DECIMAL(38,0)/HUGEINT integers (T, A, B, S ≤ n², so the cross
    terms stay inside 38 digits to n ~ 10^9), one IEEE division.
    NULL when the denominator is 0: both labelings all-singletons or
    both one-cluster — chance equals observation and adjustment is
    degenerate (the standard convention). ``rand_index`` is NULL for
    n < 2 (no pairs).

    Scale shape: the cell aggregate (≤ k² rows per group), two
    marginal re-aggregations, then ONE tagged-union aggregation —
    cell rows carry (n_ij, C(n_ij,2)), marginal rows carry their
    C(·,2) mass and a class counter — NO joins, NO windows, nothing
    above cell grain (the leanest member of the agreement suite).
    Returns ``n``, ``n_classes_actual``, ``n_classes_predicted``,
    ``ari_num``/``ari_den`` (DECIMAL(38,0) — serialize as strings in
    gate queries), ``ari`` and ``rand_index``."""
    keyed = list(keys)
    cells = confusion_cells(df, actual, predicted, keys, n)
    pair2 = lambda c: F.expr(  # noqa: E731  C(x,2), exact: x(x−1) even
        f"(CAST({c} AS DECIMAL(38,0)) * ({c} - 1)) div 2"
    ).cast("decimal(38,0)")
    by_a = cells.groupBy(*keyed, "actual").agg(
        F.sum("n").cast("long").alias("__m")
    )
    by_p = cells.groupBy(*keyed, "predicted").agg(
        F.sum("n").cast("long").alias("__m")
    )
    null_d = F.lit(None).cast("decimal(38,0)")
    null_l = F.lit(None).cast("long")
    cell_rows = cells.select(
        *keyed,
        F.col("n").alias("__tn"),
        pair2("n").alias("__ts"),
        null_d.alias("__ta"),
        null_d.alias("__tb"),
        F.lit(0).alias("__ca"),
        F.lit(0).alias("__cp"),
    )
    a_rows = by_a.select(
        *keyed,
        null_l.alias("__tn"),
        null_d.alias("__ts"),
        pair2("__m").alias("__ta"),
        null_d.alias("__tb"),
        F.lit(1).alias("__ca"),
        F.lit(0).alias("__cp"),
    )
    p_rows = by_p.select(
        *keyed,
        null_l.alias("__tn"),
        null_d.alias("__ts"),
        null_d.alias("__ta"),
        pair2("__m").alias("__tb"),
        F.lit(0).alias("__ca"),
        F.lit(1).alias("__cp"),
    )
    agg = (
        cell_rows.unionByName(a_rows)
        .unionByName(p_rows)
        .groupBy(*keyed)
        .agg(
            F.coalesce(F.sum("__tn"), F.lit(0)).cast("long").alias("n"),
            F.coalesce(F.sum("__ca"), F.lit(0))
            .cast("long")
            .alias("n_classes_actual"),
            F.coalesce(F.sum("__cp"), F.lit(0))
            .cast("long")
            .alias("n_classes_predicted"),
            F.coalesce(F.sum("__ts"), F.lit(0))
            .cast("decimal(38,0)")
            .alias("__s"),
            F.coalesce(F.sum("__ta"), F.lit(0))
            .cast("decimal(38,0)")
            .alias("__A"),
            F.coalesce(F.sum("__tb"), F.lit(0))
            .cast("decimal(38,0)")
            .alias("__B"),
        )
    )
    t = pair2("n")
    two = F.lit(2).cast("decimal(38,0)")
    num = (two * t * F.col("__s") - two * F.col("__A") * F.col("__B")).cast(
        "decimal(38,0)"
    )
    den = (
        t * (F.col("__A") + F.col("__B"))
        - two * F.col("__A") * F.col("__B")
    ).cast("decimal(38,0)")
    ri_num = (
        t + two * F.col("__s") - F.col("__A") - F.col("__B")
    ).cast("decimal(38,0)")
    return agg.select(
        *keyed,
        "n",
        "n_classes_actual",
        "n_classes_predicted",
        num.alias("ari_num"),
        den.alias("ari_den"),
        F.when(
            den != 0, num.cast("double") / den.cast("double")
        ).alias("ari"),
        F.when(
            F.col("n") >= 2,
            ri_num.cast("double") / t.cast("double"),
        ).alias("rand_index"),
    )


def adjusted_rand_sql(
    actual_sql: str,
    predicted_sql: str,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """DuckDB twin of :func:`adjusted_rand_index` — same cell grain
    (NULL labels and NULL keys dropped), same cleared-binomial
    integers; ``ari_num``/``ari_den`` serialize as VARCHAR."""
    keyed = list(keys)
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    grp = f"GROUP BY {kcols}" if keyed else ""
    kgrp_ap = f"{kcols}, a, p" if keyed else "a, p"
    kgrp_a = f"{kcols}, a" if keyed else "a"
    kgrp_p = f"{kcols}, p" if keyed else "p"
    key_nn = "".join(f" AND ({c}) IS NOT NULL" for c in keyed)
    p2 = lambda c: f"(({c}::HUGEINT * ({c} - 1)) // 2)"  # noqa: E731
    return f"""
    WITH cells AS (
      SELECT {kpre}{actual_sql} AS a, {predicted_sql} AS p,
             CAST(count(*) AS BIGINT) AS n
      FROM {table}
      WHERE ({actual_sql}) IS NOT NULL AND ({predicted_sql}) IS NOT NULL{key_nn}
      GROUP BY {kgrp_ap}
    ),
    by_a AS (
      SELECT {kpre}a, CAST(sum(n) AS BIGINT) AS m
      FROM cells GROUP BY {kgrp_a}
    ),
    by_p AS (
      SELECT {kpre}p, CAST(sum(n) AS BIGINT) AS m
      FROM cells GROUP BY {kgrp_p}
    ),
    tagged AS (
      SELECT {kpre}n AS tn, {p2('n')} AS ts,
             NULL::HUGEINT AS ta, NULL::HUGEINT AS tb,
             0 AS ca, 0 AS cp
      FROM cells
      UNION ALL
      SELECT {kpre}NULL, NULL, {p2('m')}, NULL, 1, 0 FROM by_a
      UNION ALL
      SELECT {kpre}NULL, NULL, NULL, {p2('m')}, 0, 1 FROM by_p
    ),
    agg AS (
      SELECT {kpre}
             CAST(coalesce(sum(tn), 0) AS BIGINT) AS n,
             CAST(coalesce(sum(ca), 0) AS BIGINT) AS n_classes_actual,
             CAST(coalesce(sum(cp), 0) AS BIGINT) AS n_classes_predicted,
             coalesce(sum(ts), 0) AS s,
             coalesce(sum(ta), 0) AS aa,
             coalesce(sum(tb), 0) AS bb
      FROM tagged {grp}
    ),
    terms AS (
      SELECT {kpre}n, n_classes_actual, n_classes_predicted, s, aa, bb,
             {p2('n')} AS t
      FROM agg
    )
    SELECT {kpre}n, n_classes_actual, n_classes_predicted,
           CAST(2 * t * s - 2 * aa * bb AS VARCHAR) AS ari_num,
           CAST(t * (aa + bb) - 2 * aa * bb AS VARCHAR) AS ari_den,
           CASE WHEN t * (aa + bb) - 2 * aa * bb <> 0 THEN
             CAST(2 * t * s - 2 * aa * bb AS DOUBLE)
               / CAST(t * (aa + bb) - 2 * aa * bb AS DOUBLE)
           END AS ari,
           CASE WHEN n >= 2 THEN
             CAST(t + 2 * s - aa - bb AS DOUBLE) / CAST(t AS DOUBLE)
           END AS rand_index
    FROM terms
    """


def adjusted_rand_from_cells_sql(
    cells_sql: str,
    actual_col: str = "actual",
    predicted_col: str = "predicted",
    n_col: str = "n",
    keys: Sequence[str] = (),
) -> str:
    """DuckDB twin of :func:`adjusted_rand_index` over cells (``n``
    given) — the oracle for MAINTAINED cell stores (``streaming/sketches.py``):
    ``cells_sql`` is a FROM-able fragment exposing (actual,
    predicted, count) rows, possibly with duplicates (per-batch
    deltas) — they re-aggregate exactly as the Spark store read does,
    then the :func:`adjusted_rand_sql` algebra runs over the summed
    cells (the ``cohens_kappa_from_cells_sql`` pattern)."""
    keyed = list(keys)
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    grp = f"GROUP BY {kcols}" if keyed else ""
    kgrp_ap = f"{kcols}, a, p" if keyed else "a, p"
    kgrp_a = f"{kcols}, a" if keyed else "a"
    kgrp_p = f"{kcols}, p" if keyed else "p"
    key_nn = "".join(f" AND ({c}) IS NOT NULL" for c in keyed)
    p2 = lambda c: f"(({c}::HUGEINT * ({c} - 1)) // 2)"  # noqa: E731
    return f"""
    WITH cells AS (
      SELECT {kpre}{actual_col} AS a, {predicted_col} AS p,
             CAST(sum({n_col}) AS BIGINT) AS n
      FROM {cells_sql}
      WHERE ({actual_col}) IS NOT NULL AND ({predicted_col}) IS NOT NULL
        {key_nn}
      GROUP BY {kgrp_ap}
    ),
    by_a AS (
      SELECT {kpre}a, CAST(sum(n) AS BIGINT) AS m
      FROM cells GROUP BY {kgrp_a}
    ),
    by_p AS (
      SELECT {kpre}p, CAST(sum(n) AS BIGINT) AS m
      FROM cells GROUP BY {kgrp_p}
    ),
    tagged AS (
      SELECT {kpre}n AS tn, {p2('n')} AS ts,
             NULL::HUGEINT AS ta, NULL::HUGEINT AS tb,
             0 AS ca, 0 AS cp
      FROM cells
      UNION ALL
      SELECT {kpre}NULL, NULL, {p2('m')}, NULL, 1, 0 FROM by_a
      UNION ALL
      SELECT {kpre}NULL, NULL, NULL, {p2('m')}, 0, 1 FROM by_p
    ),
    agg AS (
      SELECT {kpre}
             CAST(coalesce(sum(tn), 0) AS BIGINT) AS n,
             CAST(coalesce(sum(ca), 0) AS BIGINT) AS n_classes_actual,
             CAST(coalesce(sum(cp), 0) AS BIGINT) AS n_classes_predicted,
             coalesce(sum(ts), 0) AS s,
             coalesce(sum(ta), 0) AS aa,
             coalesce(sum(tb), 0) AS bb
      FROM tagged {grp}
    ),
    terms AS (
      SELECT {kpre}n, n_classes_actual, n_classes_predicted, s, aa, bb,
             {p2('n')} AS t
      FROM agg
    )
    SELECT {kpre}n, n_classes_actual, n_classes_predicted,
           CAST(2 * t * s - 2 * aa * bb AS VARCHAR) AS ari_num,
           CAST(t * (aa + bb) - 2 * aa * bb AS VARCHAR) AS ari_den,
           CASE WHEN t * (aa + bb) - 2 * aa * bb <> 0 THEN
             CAST(2 * t * s - 2 * aa * bb AS DOUBLE)
               / CAST(t * (aa + bb) - 2 * aa * bb AS DOUBLE)
           END AS ari,
           CASE WHEN n >= 2 THEN
             CAST(t + 2 * s - aa - bb AS DOUBLE) / CAST(t AS DOUBLE)
           END AS rand_index
    FROM terms
    """


def label_mutual_information(
    df: DataFrame,
    actual: Column,
    predicted: Column,
    keys: Sequence[str] = (),
    share_grid: int = 1000,
    n: Column | None = None,
) -> DataFrame:
    """Mutual information (+ marginal entropies + normalized MI)
    between two label columns per ``keys`` group — the standard
    clustering-agreement statistic and the capstone of the agreement
    suite: κ/α ask "do the labelers agree", MI asks "how much does
    one labeling TELL YOU about the other", which is the right lens
    when the two labelings need not even share a category space
    (predicted clusters vs declared classes). Input rows are facts,
    or cells with an ``n`` column (:func:`confusion_cells`); shares
    are taken of the merged cells.

    Definition: ``MI = Σ_ij p_ij·ln(p_ij/(p_i·p_j))`` with
    ``H(A) = −Σ_i p_i·ln(p_i)``, ``H(P) = −Σ_j p_j·ln(p_j)`` and
    ``NMI = 2·MI/(H(A)+H(P))`` (the arithmetic-mean normalization —
    symmetric, 1 iff the labelings are permutations of each other).

    Quantization design (the literal ln-quanta table — the
    ``distribution_psi``/``distribution_js`` recipe, sanctioned
    because logs of a bounded integer grid are constants, never an
    engine ``log``): counts cannot index a literal table (they are
    unbounded), but SHARES floor-quantized to the ``G = share_grid``
    grid can: ``q_ij = (n_ij·G) div n``, ``q_i = (n_i·G) div n``
    (marginals quantized from the EXACT marginal counts, not from
    sums of quantized cells), and with ``T[i] = round(10^12·ln i)``
    (``psi_ln_table``) every term is an integer:
    ``mi_num = Σ_ij [q_ij > 0] q_ij·(T[q_ij] − T[q_i] − T[q_j] + T[G])``
    (``ln(p_ij/(p_i·p_j)) = ln q_ij − ln q_i − ln q_j + ln G``; a
    zero quantized cell contributes 0 — the 0·ln 0 convention taken
    on the integer side; ``q_ij ≥ 1 ⇒ q_i, q_j ≥ 1`` so no log of 0
    is ever looked up), ``ha_num = Σ_i [q_i > 0] q_i·(T[G] − T[q_i])``
    and likewise ``hp_num``. ``mi = mi_num/(G·10^12)`` etc. are one
    IEEE division each; ``nmi = 2·mi_num/(ha_num + hp_num)`` is one
    IEEE division of exact integers. What is computed is EXACTLY the
    MI/H functionals of the quantized share vectors: each true share
    is perturbed by < 1/G (floor), so — like :func:`distribution_js
    <blockchain_data_engineering_spark.operators.dq.distribution_js>`
    — the quantized MI can read a hair below 0 on pathological
    many-tiny-cell inputs (true MI is ≥ 0 by Gibbs' inequality on
    normalized vectors; the floor-grid sub-normalization voids the
    premise by < k²/G). With the default G = 1000 and dashboard-scale
    label counts the slack is ≪ any threshold NMI is read against;
    raise G (≤ 4096) for finer mixes.

    Scale shape: the cell re-aggregation (≤ k² rows per group), the
    group total via ONE bounded window at cell grain (the
    ``_drift_share_grain`` idiom — never a 1-row-frame join, whose
    constant-key compose Catalyst folds into a nested-loop join),
    two marginal re-aggregations, three literal-array ``get`` lookups
    of the G-entry ln table (:func:`~.dq.psi_ln_lookup`, no join) —
    T[q_i]/T[q_j] are looked up ONCE at marginal grain and carried to
    the cells by the two broadcast-hash marginal joins, so the cell
    grain pays a single lookup; ``T[G]`` is one literal —
    and ONE tagged-union aggregation combining the cell-grain MI
    terms with the two marginal-grain entropy terms (the graph-ops
    recombination pattern; no final compose joins). Returns ``n``,
    ``n_classes_actual``, ``n_classes_predicted``, ``mi_num``/
    ``ha_num``/``hp_num`` (DECIMAL(38,0) — serialize as strings in
    gate queries), ``mi``, ``h_actual``, ``h_predicted`` and ``nmi``
    (NULL when the group is empty / both entropies are 0 — two
    constant labelings carry no information to normalize)."""
    from blockchain_data_engineering_spark.operators.dq import (
        _PSI_GRID_MAX,
        _PSI_LN_SCALE,
        psi_ln_lookup,
        psi_ln_table,
    )

    g = int(share_grid)
    tab = psi_ln_table(g)  # validates 2 <= g <= _PSI_GRID_MAX
    assert g <= _PSI_GRID_MAX
    t_g = int(tab[g - 1])  # T[G] = round(10^12·ln G) — one literal
    keyed = list(keys)
    cells = confusion_cells(df, actual, predicted, keys, n)
    # group total via ONE bounded window at the ≤ k² cell grain — the
    # _drift_share_grain idiom; never a 1-row-frame compose join
    w = Window.partitionBy(*keyed)
    cells_t = cells.withColumn(
        "__nt", F.sum("n").over(w).cast("long")
    )
    q_of = lambda cnt: F.expr(  # noqa: E731
        f"(CAST({cnt} AS DECIMAL(38,0)) * {g}) div __nt"
    )
    # marginal grains: quantize ONCE, look the ln up ONCE (literal-
    # array psi_ln_lookup, r12 — same NULL/0 arms as the old LEFT
    # joins), carry both to the cells via the (keys, label) equi join
    def marginal(label_col: str, q_out: str, l_out: str) -> DataFrame:
        m = cells_t.groupBy(*keyed, label_col).agg(
            F.sum("n").cast("long").alias("__nm"),
            F.max("__nt").cast("long").alias("__nt"),
        )
        m = m.select(*keyed, label_col, q_of("__nm").alias(q_out))
        return m.withColumn(l_out, psi_ln_lookup(tab, F.col(q_out)))

    by_a = marginal("actual", "__qa", "__la")
    by_p = marginal("predicted", "__qp", "__lp")
    quant = (
        cells_t.select(*keyed, "actual", "predicted", "n", q_of("n").alias("__q"))
        .join(by_a.select(*keyed, "actual", "__qa", "__la"), keyed + ["actual"])
        .join(by_p.select(*keyed, "predicted", "__qp", "__lp"), keyed + ["predicted"])
        .withColumn("__lc", psi_ln_lookup(tab, F.col("__q")))
    )
    zero_d = F.lit(0).cast("decimal(38,0)")
    null_d = F.lit(None).cast("decimal(38,0)")
    mi_term = F.when(
        F.col("__q") > 0,
        F.col("__q").cast("decimal(38,0)")
        * (F.col("__lc") - F.col("__la") - F.col("__lp") + F.lit(t_g)),
    ).otherwise(zero_d)
    ent_term = lambda q, l: F.when(  # noqa: E731
        F.col(q) > 0,
        F.col(q).cast("decimal(38,0)") * (F.lit(t_g) - F.col(l)),
    ).otherwise(zero_d)
    # ONE tagged-union aggregation: cell rows carry (n, mi term),
    # marginal rows carry their entropy term + a class counter — no
    # group-grain compose joins (whose global constant-key form
    # Catalyst folds into a BroadcastNestedLoopJoin)
    cell_rows = quant.select(
        *keyed,
        F.col("n").alias("__tn"),
        mi_term.alias("__tmi"),
        null_d.alias("__tha"),
        null_d.alias("__thp"),
        F.lit(0).alias("__ca"),
        F.lit(0).alias("__cp"),
    )
    a_rows = by_a.select(
        *keyed,
        F.lit(None).cast("long").alias("__tn"),
        null_d.alias("__tmi"),
        ent_term("__qa", "__la").alias("__tha"),
        null_d.alias("__thp"),
        F.lit(1).alias("__ca"),
        F.lit(0).alias("__cp"),
    )
    p_rows = by_p.select(
        *keyed,
        F.lit(None).cast("long").alias("__tn"),
        null_d.alias("__tmi"),
        null_d.alias("__tha"),
        ent_term("__qp", "__lp").alias("__thp"),
        F.lit(0).alias("__ca"),
        F.lit(1).alias("__cp"),
    )
    out = (
        cell_rows.unionByName(a_rows)
        .unionByName(p_rows)
        .groupBy(*keyed)
        .agg(
            F.coalesce(F.sum("__tn"), F.lit(0)).cast("long").alias("n"),
            F.coalesce(F.sum("__ca"), F.lit(0))
            .cast("long")
            .alias("n_classes_actual"),
            F.coalesce(F.sum("__cp"), F.lit(0))
            .cast("long")
            .alias("n_classes_predicted"),
            F.coalesce(F.sum("__tmi"), F.lit(0))
            .cast("decimal(38,0)")
            .alias("mi_num"),
            F.coalesce(F.sum("__tha"), F.lit(0))
            .cast("decimal(38,0)")
            .alias("ha_num"),
            F.coalesce(F.sum("__thp"), F.lit(0))
            .cast("decimal(38,0)")
            .alias("hp_num"),
        )
    )
    den = (F.lit(g).cast("decimal(38,0)") * F.lit(_PSI_LN_SCALE)).cast(
        "decimal(38,0)"
    )
    h_den = (F.col("ha_num") + F.col("hp_num")).cast("decimal(38,0)")
    return out.select(
        *keyed,
        "n",
        "n_classes_actual",
        "n_classes_predicted",
        "mi_num",
        "ha_num",
        "hp_num",
        F.when(
            F.col("n") > 0,
            F.col("mi_num").cast("double") / den.cast("double"),
        ).alias("mi"),
        F.when(
            F.col("n") > 0,
            F.col("ha_num").cast("double") / den.cast("double"),
        ).alias("h_actual"),
        F.when(
            F.col("n") > 0,
            F.col("hp_num").cast("double") / den.cast("double"),
        ).alias("h_predicted"),
        F.when(
            h_den != 0,
            (F.lit(2).cast("decimal(38,0)") * F.col("mi_num")).cast("double")
            / h_den.cast("double"),
        ).alias("nmi"),
    )


def label_mi_sql(
    actual_sql: str,
    predicted_sql: str,
    table: str,
    keys: Sequence[str] = (),
    share_grid: int = 1000,
) -> str:
    """DuckDB twin of :func:`label_mutual_information` — same cell
    grain, same share quantization, the SAME literal ln table as a
    VALUES relation; ``mi_num``/``ha_num``/``hp_num`` serialize as
    VARCHAR."""
    from blockchain_data_engineering_spark.operators.dq import (
        psi_ln_table,
    )

    g = int(share_grid)
    tab = psi_ln_table(g)
    t_g = int(tab[g - 1])
    vals = ", ".join(f"({i + 1}, {t}::BIGINT)" for i, t in enumerate(tab))
    keyed = list(keys)
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    grp = f"GROUP BY {kcols}" if keyed else ""
    kgrp_ap = f"{kcols}, a, p" if keyed else "a, p"
    kgrp_a = f"{kcols}, a" if keyed else "a"
    kgrp_p = f"{kcols}, p" if keyed else "p"
    key_nn = "".join(f" AND ({c}) IS NOT NULL" for c in keyed)
    using_k = f"USING ({kcols})" if keyed else "ON 1 = 1"
    using_ka = f"USING ({kpre}a)" if keyed else "USING (a)"
    using_kp = f"USING ({kpre}p)" if keyed else "USING (p)"
    tkpre = ", ".join(f"t.{c}" for c in keyed) + (", " if keyed else "")
    scale = 10**12  # _PSI_LN_SCALE — the table's quantum
    return f"""
    WITH ln_tab AS (SELECT * FROM (VALUES {vals}) AS t(i, lnv)),
    cells AS (
      SELECT {kpre}{actual_sql} AS a, {predicted_sql} AS p,
             CAST(count(*) AS BIGINT) AS cnt
      FROM {table}
      WHERE ({actual_sql}) IS NOT NULL AND ({predicted_sql}) IS NOT NULL
        {key_nn}
      GROUP BY {kgrp_ap}
    ),
    tot AS (
      SELECT {kpre}CAST(coalesce(sum(cnt), 0) AS BIGINT) AS nt
      FROM cells {grp}
    ),
    cells_t AS (
      SELECT cells.*, tot.nt FROM cells JOIN tot {using_k}
    ),
    by_a AS (
      SELECT {kpre}a,
             (sum(cnt)::HUGEINT * {g}) // any_value(nt) AS qa
      FROM cells_t GROUP BY {kgrp_a}
    ),
    by_a_l AS (
      SELECT by_a.*, la.lnv AS la FROM by_a
      LEFT JOIN ln_tab la ON la.i = by_a.qa
    ),
    by_p AS (
      SELECT {kpre}p,
             (sum(cnt)::HUGEINT * {g}) // any_value(nt) AS qp
      FROM cells_t GROUP BY {kgrp_p}
    ),
    by_p_l AS (
      SELECT by_p.*, lp.lnv AS lp FROM by_p
      LEFT JOIN ln_tab lp ON lp.i = by_p.qp
    ),
    ha AS (
      SELECT {kpre}CAST(count(*) AS BIGINT) AS n_classes_actual,
             coalesce(sum(CASE WHEN qa > 0
               THEN qa * ({t_g}::HUGEINT - la) ELSE 0 END), 0) AS ha_num
      FROM by_a_l {grp}
    ),
    hp AS (
      SELECT {kpre}CAST(count(*) AS BIGINT) AS n_classes_predicted,
             coalesce(sum(CASE WHEN qp > 0
               THEN qp * ({t_g}::HUGEINT - lp) ELSE 0 END), 0) AS hp_num
      FROM by_p_l {grp}
    ),
    quant AS (
      SELECT {kpre}a, p, (cnt::HUGEINT * {g}) // nt AS q
      FROM cells_t
    ),
    mi AS (
      SELECT {kpre}
             coalesce(sum(CASE WHEN q > 0
               THEN q * (lc.lnv - ba.la - bp.lp + {t_g}::HUGEINT)
               ELSE 0 END), 0) AS mi_num
      FROM quant
      JOIN by_a_l ba {using_ka}
      JOIN by_p_l bp {using_kp}
      LEFT JOIN ln_tab lc ON lc.i = quant.q
      {grp}
    )
    SELECT {tkpre}t.nt AS n,
           coalesce(ha.n_classes_actual, 0) AS n_classes_actual,
           coalesce(hp.n_classes_predicted, 0) AS n_classes_predicted,
           CAST(coalesce(mi.mi_num, 0) AS VARCHAR) AS mi_num,
           CAST(coalesce(ha.ha_num, 0) AS VARCHAR) AS ha_num,
           CAST(coalesce(hp.hp_num, 0) AS VARCHAR) AS hp_num,
           CASE WHEN t.nt > 0 THEN
             CAST(coalesce(mi.mi_num, 0) AS DOUBLE)
               / CAST({g}::HUGEINT * {scale} AS DOUBLE) END AS mi,
           CASE WHEN t.nt > 0 THEN
             CAST(coalesce(ha.ha_num, 0) AS DOUBLE)
               / CAST({g}::HUGEINT * {scale} AS DOUBLE) END AS h_actual,
           CASE WHEN t.nt > 0 THEN
             CAST(coalesce(hp.hp_num, 0) AS DOUBLE)
               / CAST({g}::HUGEINT * {scale} AS DOUBLE) END AS h_predicted,
           CASE WHEN coalesce(ha.ha_num, 0) + coalesce(hp.hp_num, 0) <> 0
             THEN CAST(2 * coalesce(mi.mi_num, 0) AS DOUBLE)
               / CAST(coalesce(ha.ha_num, 0) + coalesce(hp.hp_num, 0)
                      AS DOUBLE) END AS nmi
    FROM tot t
    LEFT JOIN mi {using_k}
    LEFT JOIN ha {using_k}
    LEFT JOIN hp {using_k}
    """


def brier_score(
    df: DataFrame,
    label: Column,
    score_q: Column,
    s_max: int,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Brier score per ``keys`` group — the SCALAR summary of the
    calibration leg (``ml_calibration_bins`` shows the reliability
    curve; this is the number a monitored filter tracks):
    ``mean((p − y)²)`` where ``p = score_q / s_max``. ``score_q`` must
    be an integer-quanta probability in [0, s_max] (the module's
    bucket-scores-first stance), ``label`` boolean.

    Exactness — EXACT, not quantized: with integer scores,
    ``(p − y)² = (score_q − y·s_max)² / s_max²``, so the numerator
    ``Σ (score_q − y·s_max)²`` is an exact integer sum (order-free,
    engine-identical, DECIMAL(38,0) against the 10^10-row·s_max² worst
    case) and the one IEEE division by ``n·s_max²`` is bit-identical —
    no floor error at all, unlike the AP/NDCG/macro-F1 quantized
    means. NULL label/score rows are excluded; ``brier`` is NULL for
    an empty group. ONE map-side-combinable aggregate; returns ``n``,
    ``brier_num`` (DECIMAL(38,0) — serialize as string in gate
    queries) and ``brier``."""
    keyed = list(keys)
    base = df.where(label.isNotNull() & score_q.isNotNull()).select(
        *keyed,
        (
            score_q.cast("decimal(38,0)")
            - F.when(label, F.lit(int(s_max))).otherwise(0)
        ).alias("__d"),
    )
    totals = base.groupBy(*keyed).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("__d") * F.col("__d"))
        .cast("decimal(38,0)")
        .alias("brier_num"),
    )
    den = (
        F.col("n").cast("decimal(38,0)")
        * F.lit(int(s_max) * int(s_max))
    ).cast("decimal(38,0)")
    return totals.select(
        *keyed,
        "n",
        F.coalesce(
            F.col("brier_num"), F.lit(0).cast("decimal(38,0)")
        ).alias("brier_num"),
        F.when(
            F.col("n") > 0,
            F.col("brier_num").cast("double") / den.cast("double"),
        ).alias("brier"),
    )


def brier_score_sql(
    label_sql: str,
    score_q_sql: str,
    s_max: int,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """DuckDB twin of :func:`brier_score` — same exact integer
    algebra; ``brier_num`` serializes as VARCHAR."""
    keyed = list(keys)
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    grp = f"GROUP BY {kcols}" if keyed else ""
    d = (
        f"(CAST({score_q_sql} AS HUGEINT) - CASE WHEN {label_sql} "
        f"THEN {int(s_max)} ELSE 0 END)"
    )
    return f"""
    WITH totals AS (
      SELECT {kpre}
             CAST(count(*) AS BIGINT) AS n,
             sum({d} * {d}) AS brier_num
      FROM {table}
      WHERE ({label_sql}) IS NOT NULL AND ({score_q_sql}) IS NOT NULL
      {grp}
    )
    SELECT {kpre}n,
           CAST(coalesce(brier_num, 0) AS VARCHAR) AS brier_num,
           CASE WHEN n > 0 THEN
             CAST(brier_num AS DOUBLE)
               / CAST(CAST(n AS HUGEINT)
                      * {int(s_max) * int(s_max)} AS DOUBLE)
           END AS brier
    FROM totals
    """


def rrf_constant(k: int, c: int = 60) -> int:
    """The exact-sum scale for reciprocal rank fusion: lcm(c+1 .. c+k),
    so every 1/(c+r) term is the exact integer lcm/(c+r)."""
    import math

    return math.lcm(*range(c + 1, c + k + 1))


def rrf_fuse(
    results_list: Sequence[DataFrame],
    query_col: str = "qid",
    item_col: str = "item",
    rank_col: str = "rank",
    k: int = 10,
    c: int = 60,
    top_n: int | None = None,
) -> DataFrame:
    """Reciprocal rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    combine N per-query rankings into one —
    ``score(item) = Σ_lists 1/(c + rank)`` over the lists that ranked
    the item in their top k (c = 60, the paper's constant). The fusion
    step every multi-retriever pipeline (BM25 ⊕ ANN ⊕ recency) runs
    BEFORE the eval operators above score it.

    Exactness: ranks are bounded, so the reciprocal sum runs as the
    exact integer ``Σ lcm(c+1..c+k)/(c+r)`` — the retrieval_eval MRR
    trick with shifted denominators — and ties in the fused score are
    REAL ties, broken deterministically by item. Validates that
    ``n_lists · lcm/(c+1)`` fits BIGINT up front.

    Scale shape: one union of the (already top-k-bounded) input
    rankings, one (query, item) sum aggregate — map-side combinable —
    and one per-query rank window over ≤ n_lists·k fused rows per
    query (WindowGroupLimit-bounded when ``top_n`` is set). Returns
    ``(query_col, item_col, rrf_num, fused_rank)``; ``rrf_num`` is the
    exact integer score (descending ⇔ descending true RRF score).

    Input contract: each frame carries (query_col, item_col, rank_col)
    with one row per (query, item); rows with rank > k are ignored.
    """
    if not results_list:
        raise ValueError("rrf_fuse needs at least one rankings frame")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if c < 0:
        # c = -1 would put 0 in the lcm range (lcm = 0, every
        # contribution 0); more negative c divides by zero at rank = -c
        raise ValueError(f"c must be >= 0, got {c}")
    lcm = rrf_constant(k, c)
    # lcm itself must fit the BIGINT literal below BEFORE the n_lists
    # product check: for k/c combos with lcm in [2^63, (c+1)·2^63) the
    # product test alone would pass and the query would later die with
    # an opaque ParseException instead of this ValueError (r9 ADVICE;
    # mirrors retrieval_eval's k ≤ 42 validation)
    if lcm >= 2**63:
        raise ValueError(
            f"rrf_fuse overflow: lcm(c+1..c+k) = {lcm} does not fit a "
            "BIGINT literal — lower k or c"
        )
    if len(results_list) * (lcm // (c + 1)) >= 2**63:
        raise ValueError(
            f"rrf_fuse overflow: {len(results_list)} lists at "
            f"lcm(c+1..c+k) = {lcm} cannot sum inside BIGINT — "
            "lower k or c"
        )
    cols = [query_col, item_col, rank_col]
    stacked = results_list[0].select(*cols)
    for other in results_list[1:]:
        stacked = stacked.unionByName(other.select(*cols))
    # rank_col is backtick-quoted: a dotted, spaced, or reserved-word
    # column name must resolve as an identifier, not parse as SQL
    # (r8 verdict "what's wrong" #2)
    safe_rank = rank_col.replace("`", "``")
    contrib = F.expr(f"{int(lcm)}L div ({int(c)}L + `{safe_rank}`)")
    # rank ≥ 1 in the filter: a rank ≤ −c row would otherwise divide
    # by zero or flip the contribution's sign
    fused = (
        stacked.where((F.col(rank_col) >= 1) & (F.col(rank_col) <= k))
        .select(query_col, item_col, contrib.alias("__c"))
        .groupBy(query_col, item_col)
        .agg(F.sum("__c").cast("long").alias("rrf_num"))
    )
    w = Window.partitionBy(query_col).orderBy(
        F.col("rrf_num").desc(), F.col(item_col)
    )
    out = fused.withColumn("fused_rank", F.row_number().over(w))
    if top_n is not None:
        out = out.where(F.col("fused_rank") <= top_n)
    return out


def confusion_counts(
    df: DataFrame,
    label: Column,
    pred: Column,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Per-group confusion matrix + derived metrics in ONE hash
    aggregate: ``tp/fp/fn/tn`` exact counts, then ``precision``,
    ``recall``, and ``f1`` each as a single IEEE division of exact
    integers (NULL when the denominator is 0, never NaN)."""
    keyed = list(keys)
    lab, prd = label.alias("__y"), pred.alias("__p")
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    agg = (
        df.select(*keyed, lab, prd)
        .groupBy(*keyed)
        .agg(
            cnt(F.col("__y") & F.col("__p")).alias("tp"),
            cnt(~F.col("__y") & F.col("__p")).alias("fp"),
            cnt(F.col("__y") & ~F.col("__p")).alias("fn"),
            cnt(~F.col("__y") & ~F.col("__p")).alias("tn"),
        )
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    div = lambda n, d: F.when(d > 0, n.cast("double") / d.cast("double"))  # noqa: E731
    return agg.select(
        *keyed,
        "tp",
        "fp",
        "fn",
        "tn",
        div(tp, tp + fp).alias("precision"),
        div(tp, tp + fn).alias("recall"),
        div(2 * tp, 2 * tp + fp + fn).alias("f1"),
    )


def ece(
    df: DataFrame,
    label: Column,
    score_q: Column,
    s_max: int,
    n_bins: int,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Expected calibration error per ``keys`` group — the number a
    model card quotes from the reliability curve
    (``ml_calibration_bins`` plots it; ``brier_score`` is the proper
    score; this is the binned |accuracy − confidence| summary):
    ``ECE = Σ_b (n_b/n)·|acc_b − conf_b|`` over ``n_bins`` equal-width
    probability bins, with ``acc_b = Σ_b y / n_b`` and
    ``conf_b = Σ_b s / (n_b·s_max)``. ``score_q`` must be an
    integer-quanta probability in [0, s_max] (rows outside that range,
    or with NULL label/score, are excluded — they are no probability);
    ``label`` boolean. This is the BINARY form; for a k-class model
    the standard top-label ECE is this same bin aggregate fed
    ``label = (argmax class == actual)`` and ``score_q = the argmax
    class's score`` (:func:`ece_top_label` does exactly that) — and
    the logarithmic objective itself has a k-class entry point in
    :func:`log_loss_multiclass`. Bins here are FIXED-WIDTH; when
    scores concentrate and the middle bins empty out, read
    :func:`ece_adaptive` (equal-mass bins by rank) alongside.

    Exactness — EXACT, not quantized: the per-bin weight cancels,
    ``(n_b/n)·|acc_b − conf_b| = |s_max·Σ_b y − Σ_b s| / (n·s_max)``,
    so the numerator ``Σ_b |s_max·n_pos_b − s_sum_b|`` is a pure
    integer sum in DECIMAL(38,0) (order-free, engine-identical — the
    ``brier_score`` treatment; no floor error, unlike the AP/NDCG
    quantized means) and ``ece`` is one IEEE division by ``n·s_max``.

    Bin assignment is the exact integer ``(s·n_bins) div s_max``
    capped at ``n_bins − 1`` (so ``s = s_max`` lands in the top bin);
    non-negative operands make Spark's truncating ``div`` and DuckDB's
    flooring ``//`` agree. ``n_bins ≤ s_max`` is required (validated):
    with more bins than score quanta, ``n_bins − s_max`` bins are
    STRUCTURALLY empty and ``n_bins_used`` reads misleadingly low —
    the arithmetic would still be correct, but the reliability summary
    would not mean what its reader assumes.

    Producing ``score_q`` from a float probability: ROUND to the
    nearest quantum (``floor(p·s_max + 0.5)`` — the ``parity.quanta``
    recipe), don't truncate — a bare ``cast("long")`` on ``p·s_max``
    floors, so a double like 0.79999 lands one quantum below its IEEE
    value and the "integer-quanta probability" contract silently
    inherits a half-quantum downward bias.

    Scale shape: ONE map-side-combinable bin
    aggregate (≤ n_bins rows per group) + one re-aggregation at bin
    grain. Returns ``n``, ``n_bins_used`` (non-empty bins), ``ece_num``
    (DECIMAL(38,0) — serialize as string in gate queries) and ``ece``
    (NULL for an empty group)."""
    keyed = list(keys)
    base = _ece_input(df, label, score_q, s_max, n_bins, keyed)
    if n_bins > s_max:
        raise ValueError(
            f"n_bins ({n_bins}) > s_max ({s_max}): scores have only "
            f"{s_max + 1} distinct quanta, so {n_bins - s_max} bins "
            "would be structurally empty — raise the score resolution "
            "or lower n_bins"
        )
    binned = base.select(
        *keyed,
        F.least(
            F.expr(
                f"(CAST(__s AS DECIMAL(38,0)) * {int(n_bins)})"
                f" div {int(s_max)}"
            ),
            F.lit(int(n_bins) - 1).cast("long"),
        ).alias("__b"),
        F.col("__y"),
        F.col("__s"),
    ).groupBy(*keyed, "__b").agg(
        F.count(F.lit(1)).cast("long").alias("__nb"),
        F.sum(F.when(F.col("__y"), 1).otherwise(0))
        .cast("long")
        .alias("__pos"),
        F.sum(F.col("__s").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("__ssum"),
    )
    return _ece_totals(binned, keyed, s_max)


def _ece_input(
    df: DataFrame,
    label: Column,
    score_q: Column,
    s_max: int,
    n_bins: int,
    keyed: list[str],
) -> DataFrame:
    """The input step :func:`ece` and :func:`ece_adaptive` share:
    validate ``n_bins``/``s_max``, then keep the rows that are a
    probability (non-NULL label and score, score in [0, s_max]) as
    (keys…, ``__y``, ``__s``)."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    if s_max < 1:
        raise ValueError(f"s_max must be >= 1, got {s_max}")
    return df.where(
        label.isNotNull()
        & score_q.isNotNull()
        & (score_q >= 0)
        & (score_q <= int(s_max))
    ).select(*keyed, label.alias("__y"), score_q.alias("__s"))


def _ece_totals(binned: DataFrame, keyed: list[str], s_max: int) -> DataFrame:
    """The readout :func:`ece` and :func:`ece_adaptive` share, from
    per-bin rows (keys…, ``__nb`` count, ``__pos`` positives,
    ``__ssum`` score sum): per group ``n``, ``n_bins_used``, the exact
    numerator ``ece_num = Σ_b |s_max·__pos − __ssum|`` and
    ``ece = ece_num / (n·s_max)`` (NULL for an empty group)."""
    term = F.abs(
        F.lit(int(s_max)).cast("decimal(38,0)") * F.col("__pos")
        - F.col("__ssum")
    )
    totals = binned.select(
        *keyed, F.col("__nb"), term.alias("__t")
    ).groupBy(*keyed).agg(
        F.coalesce(F.sum("__nb"), F.lit(0)).cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_bins_used"),
        F.coalesce(F.sum("__t"), F.lit(0))
        .cast("decimal(38,0)")
        .alias("ece_num"),
    )
    den = (
        F.col("n").cast("decimal(38,0)") * F.lit(int(s_max))
    ).cast("decimal(38,0)")
    return totals.select(
        *keyed,
        "n",
        "n_bins_used",
        "ece_num",
        F.when(
            F.col("n") > 0,
            F.col("ece_num").cast("double") / den.cast("double"),
        ).alias("ece"),
    )


def ece_sql(
    label_sql: str,
    score_q_sql: str,
    s_max: int,
    n_bins: int,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """DuckDB twin of :func:`ece` — same bin assignment, same exact
    integer numerator; ``ece_num`` serializes as VARCHAR."""
    if n_bins < 1 or s_max < 1 or n_bins > s_max:
        raise ValueError(
            f"require 1 <= n_bins <= s_max, got n_bins={n_bins}, "
            f"s_max={s_max} (see ece())"
        )
    keyed = list(keys)
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    grp = f"GROUP BY {kcols}" if keyed else ""
    kgrp_b = f"{kcols}, b" if keyed else "b"
    return f"""
    WITH binned AS (
      SELECT {kpre}
             least((CAST({score_q_sql} AS HUGEINT) * {int(n_bins)})
                     // {int(s_max)},
                   {int(n_bins) - 1}) AS b,
             CAST(count(*) AS BIGINT) AS nb,
             CAST(sum(CASE WHEN {label_sql} THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos,
             sum(CAST({score_q_sql} AS HUGEINT)) AS ssum
      FROM {table}
      WHERE ({label_sql}) IS NOT NULL AND ({score_q_sql}) IS NOT NULL
        AND ({score_q_sql}) >= 0 AND ({score_q_sql}) <= {int(s_max)}
      GROUP BY {kgrp_b}
    ),
    totals AS (
      SELECT {kpre}
             CAST(coalesce(sum(nb), 0) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_bins_used,
             coalesce(sum(abs({int(s_max)}::HUGEINT * pos - ssum)), 0)
               AS ece_num
      FROM binned {grp}
    )
    SELECT {kpre}n, n_bins_used,
           CAST(ece_num AS VARCHAR) AS ece_num,
           CASE WHEN n > 0 THEN
             CAST(ece_num AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * {int(s_max)} AS DOUBLE)
           END AS ece
    FROM totals
    """


def ece_top_label(
    df: DataFrame,
    item_col: str,
    class_col: str,
    score_col: str,
    actual_col: str,
    s_max: int,
    n_bins: int,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Top-label expected calibration error (Guo et al. 2017,
    "On Calibration of Modern Neural Networks") per ``keys`` group —
    the k-class calibration read :func:`ece`'s docstring prescribes:
    from LONG-form per-(item, class) scores, take each item's argmax
    class, then run the same exact binned |accuracy − confidence|
    aggregate with ``label = (argmax class == actual)`` and
    ``score_q = the argmax score``. Completes the multi-class
    evaluation pair: :func:`log_loss_multiclass` scores the TRUE
    class's probability; top-label ECE asks whether the confidence
    the model ACTS on (its argmax) is honest.

    Input: one row per (item, candidate class) with the integer-quanta
    score in [0, s_max] (:func:`ece`'s ROUND-don't-truncate contract)
    and the item's ``actual`` class (functionally dependent on the
    item — the argmax row's value is the one read). Rows with NULL
    item/class/score/actual or an out-of-range score are excluded
    BEFORE the argmax (an invalid score is no candidate — dropping it
    after would instead drop the whole item).

    Determinism: the argmax breaks score ties by ``class`` ASC
    (row_number, never rank) — with md5-derived or quantized scores
    ties are routine, and an unordered tie-break would hash-diverge
    between engines. Class values must order identically in Spark and
    DuckDB (binary/ASCII class names — the module's string-order
    convention).

    Exactness: the argmax selects existing integer rows (no
    arithmetic), then :func:`ece`'s numerator is the usual exact
    DECIMAL(38,0) sum — no quantization beyond the caller's score
    grid.

    Scale shape: one row_number window partitioned by (keys, item) —
    Catalyst rewrites the rn=1 filter to WindowGroupLimit, so the
    per-item state is O(1), never a sort materialization — then the
    ≤ n_bins aggregate. At 100 TB the window's shuffle on item is the
    plan's only wide exchange; pre-partitioning the scores by item
    (the natural layout for a per-item score map) makes it
    exchange-free. Returns :func:`ece`'s columns (``n`` counts
    ITEMS)."""
    keyed = list(keys)
    base = df.where(
        F.col(item_col).isNotNull()
        & F.col(class_col).isNotNull()
        & F.col(actual_col).isNotNull()
        & F.col(score_col).isNotNull()
        & (F.col(score_col) >= 0)
        & (F.col(score_col) <= int(s_max))
    ).select(
        *keyed,
        F.col(item_col).alias("__i"),
        F.col(class_col).alias("__c"),
        F.col(score_col).cast("long").alias("__s"),
        F.col(actual_col).alias("__act"),
    )
    w = Window.partitionBy(*keyed, "__i").orderBy(
        F.col("__s").desc(), F.col("__c").asc()
    )
    top = base.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") == 1
    )
    return ece(
        top,
        label=F.col("__c") == F.col("__act"),
        score_q=F.col("__s"),
        s_max=s_max,
        n_bins=n_bins,
        keys=keyed,
    )


def ece_top_label_sql(
    item_sql: str,
    class_sql: str,
    score_sql: str,
    actual_sql: str,
    s_max: int,
    n_bins: int,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """DuckDB twin of :func:`ece_top_label` — same pre-argmax
    filters, same (score DESC, class ASC) row_number tie-break
    (scores floored via ``CAST(floor(·) AS BIGINT)`` to match
    Spark's truncating cast — the :func:`log_loss_sql` convention),
    then :func:`ece_sql` over the argmax rows."""
    keyed = list(keys)
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    part = f"PARTITION BY {kpre}i" if keyed else "PARTITION BY i"
    # no NULL-key exclusion: like ece, this plan has no keyed joins —
    # NULL keys form their own window partition/group identically in
    # both engines (the kendall convention applies only where
    # sub-aggregates REJOIN on keys)
    top = f"""(
      SELECT {kpre}(c = act) AS hit, s FROM (
        SELECT {kpre}i, c, s, act,
               row_number() OVER ({part} ORDER BY s DESC, c ASC) AS rn
        FROM (
          SELECT {kpre}{item_sql} AS i, {class_sql} AS c,
                 CAST(floor({score_sql}) AS BIGINT) AS s,
                 {actual_sql} AS act
          FROM {table}
          WHERE ({item_sql}) IS NOT NULL AND ({class_sql}) IS NOT NULL
            AND ({actual_sql}) IS NOT NULL AND ({score_sql}) IS NOT NULL
            AND ({score_sql}) >= 0 AND ({score_sql}) <= {int(s_max)}
        ) scored
      ) ranked WHERE rn = 1
    )"""
    return ece_sql("hit", "s", s_max, n_bins, top, keyed)


def ece_adaptive(
    df: DataFrame,
    label: Column,
    score_q: Column,
    s_max: int,
    n_bins: int,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Adaptive (equal-mass-bin) expected calibration error per
    ``keys`` group — the fixed-width-bin :func:`ece` is the model-card
    default, but when scores concentrate (a well-trained model pushes
    most mass to the extremes) its middle bins go empty and the
    summary leans on a handful of over-full edge bins; the adaptive
    variant (Nixon et al. 2019, "Measuring Calibration in Deep
    Learning" — ACE/TACE) re-draws the bin EDGES so each bin holds
    ~n/n_bins predictions, which keeps every |acc − conf| term
    equally supported.

    Binning is by RANK over the distinct-score grain: per group, each
    distinct score's rows belong wholly to the bin of the score's
    first rank — ``bin = (rows_before_this_score · n_bins) div n``.
    Ties are NEVER split across bins (splitting would need an
    arbitrary row order — nondeterministic across engines); with
    heavily-tied scores, bin masses deviate from n/n_bins by the tie
    run lengths (visible via ``n_bins_used``). With all-distinct
    scores the bin sizes are floor-balanced (each holds ⌊n/n_bins⌋ or
    ⌈n/n_bins⌉ rows — pinned by a Hypothesis property).

    Exactness — EXACT, the :func:`ece` algebra at the adaptive bins:
    the per-bin weight cancels, the numerator is the pure integer
    ``Σ_b |s_max·n_pos_b − s_sum_b|`` in DECIMAL(38,0), and ``ece``
    is one IEEE division by ``n·s_max``. The rank-based bin index is
    an exact integer div of exact window sums.

    Scale shape: ONE map-side-combinable aggregate at distinct-score
    grain, two bounded windows over that grain (cumulative count +
    group total — the :func:`pr_curve` idiom: |distinct scores| rows
    per group, NEVER the facts), one ≤ n_bins re-aggregation. As with
    ``pr_curve``, bucket raw continuous scores first: the window is
    bounded by score quanta, not rows. Returns :func:`ece`'s columns.
    Unlike :func:`ece` there is no ``n_bins ≤ s_max`` rule: bins are
    drawn by mass, so sparse scores just use fewer bins (reported by
    ``n_bins_used``)."""
    keyed = list(keys)
    base = _ece_input(df, label, score_q, s_max, n_bins, keyed)
    per_score = base.groupBy(*keyed, "__s").agg(
        F.count(F.lit(1)).cast("long").alias("__cnt"),
        F.sum(F.when(F.col("__y"), 1).otherwise(0))
        .cast("long")
        .alias("__pos"),
        F.sum(F.col("__s").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("__ssum"),
    )
    w_cum = Window.partitionBy(*keyed).orderBy("__s")
    w_all = Window.partitionBy(*keyed)
    with_bin = per_score.select(
        *keyed,
        "__cnt",
        "__pos",
        "__ssum",
        (F.sum("__cnt").over(w_cum) - F.col("__cnt"))
        .cast("long")
        .alias("__cum0"),
        F.sum("__cnt").over(w_all).cast("long").alias("__n"),
    ).select(
        *keyed,
        "__cnt",
        "__pos",
        "__ssum",
        F.expr(
            f"(CAST(__cum0 AS DECIMAL(38,0)) * {int(n_bins)}) div __n"
        )
        .cast("long")
        .alias("__b"),
    )
    binned = with_bin.groupBy(*keyed, "__b").agg(
        F.sum("__cnt").cast("long").alias("__nb"),
        F.sum("__pos").cast("long").alias("__pos"),
        F.sum("__ssum").cast("decimal(38,0)").alias("__ssum"),
    )
    return _ece_totals(binned, keyed, s_max)


def ece_adaptive_sql(
    label_sql: str,
    score_q_sql: str,
    s_max: int,
    n_bins: int,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """DuckDB twin of :func:`ece_adaptive` — same distinct-score
    grain, same rank-div bin edges (the ORDER BY key is unique per
    group at this grain, so RANGE/ROWS framing differences cannot
    bite), same exact numerator; ``ece_num`` serializes as VARCHAR."""
    if n_bins < 1 or s_max < 1:
        raise ValueError(
            f"require n_bins >= 1 and s_max >= 1, got n_bins={n_bins}, "
            f"s_max={s_max}"
        )
    keyed = list(keys)
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    grp = f"GROUP BY {kcols}" if keyed else ""
    kgrp_s = f"{kcols}, s" if keyed else "s"
    kgrp_b = f"{kcols}, b" if keyed else "b"
    part = f"PARTITION BY {kcols}" if keyed else "PARTITION BY 1"
    return f"""
    WITH per_score AS (
      SELECT {kpre}{score_q_sql} AS s,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CASE WHEN {label_sql} THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos,
             sum(CAST({score_q_sql} AS HUGEINT)) AS ssum
      FROM {table}
      WHERE ({label_sql}) IS NOT NULL AND ({score_q_sql}) IS NOT NULL
        AND ({score_q_sql}) >= 0 AND ({score_q_sql}) <= {int(s_max)}
      GROUP BY {kgrp_s}
    ),
    with_bin AS (
      SELECT {kpre}cnt, pos, ssum,
             (((sum(cnt) OVER ({part} ORDER BY s) - cnt)::HUGEINT
                 * {int(n_bins)})
               // sum(cnt) OVER ({part})) AS b
      FROM per_score
    ),
    binned AS (
      SELECT {kpre}b,
             CAST(sum(cnt) AS BIGINT) AS nb,
             CAST(sum(pos) AS BIGINT) AS posb,
             sum(ssum) AS ssumb
      FROM with_bin GROUP BY {kgrp_b}
    ),
    totals AS (
      SELECT {kpre}
             CAST(coalesce(sum(nb), 0) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_bins_used,
             coalesce(sum(abs({int(s_max)}::HUGEINT * posb - ssumb)), 0)
               AS ece_num
      FROM binned {grp}
    )
    SELECT {kpre}n, n_bins_used,
           CAST(ece_num AS VARCHAR) AS ece_num,
           CASE WHEN n > 0 THEN
             CAST(ece_num AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * {int(s_max)} AS DOUBLE)
           END AS ece
    FROM totals
    """


def cohens_kappa(
    df: DataFrame,
    rater_a: Column,
    rater_b: Column,
    keys: Sequence[str] = (),
    n: Column | None = None,
) -> DataFrame:
    """Cohen's kappa per ``keys`` group — chance-corrected agreement
    between two LABELERS (quality-classifier v1 vs v2, model vs human
    sample): the standard gate for swapping a filter, where raw
    accuracy (``multiclass_macro_f1``'s companion) rewards two raters
    that both mostly emit the majority class.
    ``κ = (p_o − p_e)/(1 − p_e)`` with ``p_o = Σ_i cell(i,i)/n`` and
    ``p_e = Σ_i r_i·c_i/n²`` (r/c = the raters' marginals). Input
    rows are facts, or cells with an ``n`` column
    (:func:`confusion_cells`) — so a maintained cell store
    (``streaming/sketches.py``) serves kappa for a whole stream from
    ≤ k² rows, never the facts.

    Exactness — EXACT, no quantization: clearing denominators,
    ``κ = (n·Σagree − Σ r_i·c_i) / (n² − Σ r_i·c_i)`` — both sides
    pure DECIMAL(38,0) integer arithmetic (n ≤ ~10^10 keeps n² well
    inside 38 digits), one final IEEE division. ``κ`` is NULL when the
    denominator is 0 (both raters constant AND identical — agreement
    is degenerate, the sklearn NaN case) and for an empty group.
    NULL ratings are excluded (a NULL is no label).

    Scale shape: the cell aggregate (≤ k² rows per group — the
    ``multiclass_macro_f1`` grain), marginal re-aggregations, a
    full-outer label join at ≤ k-row grain and ONE tagged-union
    aggregation of the cell and label rows — no join above label
    grain, so the global kappa plans no nested-loop join. Returns ``n``,
    ``n_labels`` (distinct labels across BOTH raters),
    ``kappa_num``/``kappa_den`` (DECIMAL(38,0) — serialize as strings
    in gate queries) and ``kappa``."""
    keyed = list(keys)
    cells = confusion_cells(df, rater_a, rater_b, keys, n)
    by_a = cells.groupBy(*keyed, F.col("actual").alias("__l")).agg(
        F.sum("n").cast("long").alias("__r")
    )
    by_b = cells.groupBy(*keyed, F.col("predicted").alias("__l")).agg(
        F.sum("n").cast("long").alias("__c")
    )
    # full outer on (keys, label): a label seen by only one rater has
    # marginal 0 on the other side and contributes 0 to p_e, but it
    # still counts in n_labels
    marg = by_a.join(by_b, keyed + ["__l"], "full").select(
        *keyed,
        F.coalesce(F.col("__r"), F.lit(0)).cast("decimal(38,0)").alias("__r"),
        F.coalesce(F.col("__c"), F.lit(0)).cast("decimal(38,0)").alias("__c"),
    )
    # ONE tagged-union aggregation: cell rows carry (n, agreement),
    # label rows carry r·c and a label counter — no compose join of
    # the observed and the chance aggregate (the label_mutual_
    # information recombination)
    null_l = F.lit(None).cast("long")
    agree = F.when(F.col("actual") == F.col("predicted"), F.col("n"))
    cell_rows = cells.select(
        *keyed,
        F.col("n").alias("__tn"),
        agree.otherwise(0).alias("__ta"),
        F.lit(None).cast("decimal(38,0)").alias("__trc"),
        F.lit(0).alias("__tl"),
    )
    label_rows = marg.select(
        *keyed,
        null_l.alias("__tn"),
        null_l.alias("__ta"),
        (F.col("__r") * F.col("__c")).cast("decimal(38,0)").alias("__trc"),
        F.lit(1).alias("__tl"),
    )
    agg = (
        cell_rows.unionByName(label_rows)
        .groupBy(*keyed)
        .agg(
            F.coalesce(F.sum("__tn"), F.lit(0)).cast("long").alias("n"),
            F.coalesce(F.sum("__ta"), F.lit(0)).cast("long").alias("__agree"),
            F.coalesce(F.sum("__trc"), F.lit(0))
            .cast("decimal(38,0)")
            .alias("__pe_sum"),
            F.coalesce(F.sum("__tl"), F.lit(0)).cast("long").alias("n_labels"),
        )
    )
    n_d = F.col("n").cast("decimal(38,0)")
    num = (n_d * F.col("__agree") - F.col("__pe_sum")).cast("decimal(38,0)")
    den = (n_d * n_d - F.col("__pe_sum")).cast("decimal(38,0)")
    return agg.select(
        *keyed,
        "n",
        "n_labels",
        num.alias("kappa_num"),
        den.alias("kappa_den"),
        F.when(
            den != 0, num.cast("double") / den.cast("double")
        ).alias("kappa"),
    )


def cohens_kappa_sql(
    rater_a_sql: str,
    rater_b_sql: str,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """DuckDB twin of :func:`cohens_kappa` — same cell grain, same
    exact integer algebra; ``kappa_num``/``kappa_den`` serialize as
    VARCHAR."""
    keyed = list(keys)
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    key_nn = "".join(f" AND ({c}) IS NOT NULL" for c in keyed)
    grp = f"GROUP BY {kcols}" if keyed else ""
    kgrp_ab = f"{kcols}, a, b" if keyed else "a, b"
    kgrp_a = f"{kcols}, a" if keyed else "a"
    kgrp_b = f"{kcols}, b" if keyed else "b"
    using = f"USING ({kpre}l)" if keyed else "USING (l)"
    join_keys = f"USING ({kcols})" if keyed else "ON 1 = 1"
    return f"""
    WITH cells AS (
      SELECT {kpre}{rater_a_sql} AS a, {rater_b_sql} AS b,
             count(*) AS cnt
      FROM {table}
      WHERE ({rater_a_sql}) IS NOT NULL AND ({rater_b_sql}) IS NOT NULL
        {key_nn}
      GROUP BY {kgrp_ab}
    ),
    by_a AS (
      SELECT {kpre}a AS l, CAST(sum(cnt) AS BIGINT) AS r
      FROM cells GROUP BY {kgrp_a}
    ),
    by_b AS (
      SELECT {kpre}b AS l, CAST(sum(cnt) AS BIGINT) AS c
      FROM cells GROUP BY {kgrp_b}
    ),
    marg AS (
      SELECT {kpre}coalesce(r, 0)::HUGEINT AS r,
             coalesce(c, 0)::HUGEINT AS c
      FROM by_a FULL OUTER JOIN by_b {using}
    ),
    pe AS (
      SELECT {kpre}coalesce(sum(r * c), 0) AS pe_sum,
             CAST(count(*) AS BIGINT) AS n_labels
      FROM marg {grp}
    ),
    po AS (
      SELECT {kpre}
             CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n,
             CAST(coalesce(sum(CASE WHEN a = b THEN cnt ELSE 0 END), 0)
                  AS BIGINT) AS agree
      FROM cells {grp}
    )
    SELECT {', '.join('po.' + c for c in keyed) + ', ' if keyed else ''}
           po.n, pe.n_labels,
           CAST(po.n::HUGEINT * po.agree - pe.pe_sum AS VARCHAR)
             AS kappa_num,
           CAST(po.n::HUGEINT * po.n - pe.pe_sum AS VARCHAR)
             AS kappa_den,
           CASE WHEN po.n::HUGEINT * po.n - pe.pe_sum <> 0 THEN
             CAST(po.n::HUGEINT * po.agree - pe.pe_sum AS DOUBLE)
               / CAST(po.n::HUGEINT * po.n - pe.pe_sum AS DOUBLE)
           END AS kappa
    FROM po JOIN pe {join_keys}
    """


def matthews_corr(
    df: DataFrame,
    label: Column,
    pred: Column,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Matthews correlation coefficient per ``keys`` group — the
    balanced single-number summary of the binary confusion matrix
    (``confusion_counts`` exposes the matrix; F1 ignores tn, accuracy
    saturates under imbalance — MCC is the one that stays honest when
    99% of documents pass the filter):
    ``MCC = (tp·tn − fp·fn) / √((tp+fp)(tp+fn)(tn+fp)(tn+fn))``.

    Exactness: ``mcc_num = tp·tn − fp·fn`` and the two pairwise
    denominator products ``d1 = (tp+fp)(tp+fn)``,
    ``d2 = (tn+fp)(tn+fn)`` are exact DECIMAL(38,0) integers (each
    ≤ n² ≤ 10^20 — the full 4-way product would overflow 38 digits,
    which is WHY the square root is taken pairwise:
    ``√(d1·d2) = √d1·√d2`` for non-negative reals). The final scalar
    is ``num / (√d1·√d2)`` — a cast of each exact integer to double
    (round-to-nearest, engine-identical), two IEEE-754 correctly-
    rounded square roots, one multiply, one divide: bit-identical in
    any IEEE engine. NULL when either ``d1`` or ``d2`` is 0 (a
    degenerate margin — the sklearn 0-convention is NOT used so the
    undefined case stays visible) and for an empty group. NULL
    label/pred rows are excluded (module convention).

    Scale shape: the ``confusion_counts`` aggregate (ONE
    map-side-combinable hash aggregate, four conditional sums) over
    the non-NULL rows. Returns
    ``tp/fp/fn/tn``, ``mcc_num``/``mcc_d1``/``mcc_d2`` (DECIMAL(38,0)
    — serialize as strings in gate queries) and ``mcc``."""
    keyed = list(keys)
    agg = confusion_counts(
        df.where(label.isNotNull() & pred.isNotNull()), label, pred, keys
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = (d("tp") * F.col("tn") - d("fp") * F.col("fn")).cast(
        "decimal(38,0)"
    )
    d1 = ((d("tp") + F.col("fp")) * (d("tp") + F.col("fn"))).cast(
        "decimal(38,0)"
    )
    d2 = ((d("tn") + F.col("fp")) * (d("tn") + F.col("fn"))).cast(
        "decimal(38,0)"
    )
    return agg.select(
        *keyed,
        "tp",
        "fp",
        "fn",
        "tn",
        num.alias("mcc_num"),
        d1.alias("mcc_d1"),
        d2.alias("mcc_d2"),
        F.when(
            (d1 > 0) & (d2 > 0),
            num.cast("double")
            / (F.sqrt(d1.cast("double")) * F.sqrt(d2.cast("double"))),
        ).alias("mcc"),
    )


def matthews_corr_sql(
    label_sql: str,
    pred_sql: str,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """DuckDB twin of :func:`matthews_corr` — same one-aggregate plan,
    same pairwise-root algebra; the integer columns serialize as
    VARCHAR."""
    keyed = list(keys)
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    grp = f"GROUP BY {kcols}" if keyed else ""
    return f"""
    WITH counts AS (
      SELECT {kpre}
        CAST(sum(CASE WHEN ({label_sql}) AND ({pred_sql})
                 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(sum(CASE WHEN NOT ({label_sql}) AND ({pred_sql})
                 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(sum(CASE WHEN ({label_sql}) AND NOT ({pred_sql})
                 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        CAST(sum(CASE WHEN NOT ({label_sql}) AND NOT ({pred_sql})
                 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM {table}
      WHERE ({label_sql}) IS NOT NULL AND ({pred_sql}) IS NOT NULL
      {grp}
    ),
    terms AS (
      SELECT {kpre}tp, fp, fn, tn,
             tp::HUGEINT * tn - fp::HUGEINT * fn AS num,
             (tp::HUGEINT + fp) * (tp::HUGEINT + fn) AS d1,
             (tn::HUGEINT + fp) * (tn::HUGEINT + fn) AS d2
      FROM counts
    )
    SELECT {kpre}tp, fp, fn, tn,
           CAST(num AS VARCHAR) AS mcc_num,
           CAST(d1 AS VARCHAR) AS mcc_d1,
           CAST(d2 AS VARCHAR) AS mcc_d2,
           CASE WHEN d1 > 0 AND d2 > 0 THEN
             CAST(num AS DOUBLE)
               / (sqrt(CAST(d1 AS DOUBLE)) * sqrt(CAST(d2 AS DOUBLE)))
           END AS mcc
    FROM terms
    """


def spearman_rho(
    df: DataFrame,
    rank_a: Column,
    rank_b: Column,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Spearman rank correlation per ``keys`` group between two
    TIE-BROKEN total orders of the same item set — "do my two rankers
    (BM25 vs ANN, yesterday's quality scorer vs today's) order the
    corpus the same way", the agreement statistic for RANKERS the way
    ``cohens_kappa`` is for labelers. Each input row carries one
    item's rank under ranker A and under ranker B; both rank columns
    must be permutations of 1..n within the group (the repo's rankings
    are row_number() windows with deterministic tiebreaks, so this
    holds by construction — classic Spearman with AVERAGE ranks for
    ties is deliberately not implemented: fractional average ranks
    would reintroduce the float-sum-order hazard, and a deterministic
    pipeline compares tie-broken orders).

    Exactness — EXACT: ``ρ = 1 − 6·Σd²/(n(n²−1))`` (d = rank_a −
    rank_b) becomes ``rho_num / rho_den`` with
    ``rho_num = n(n²−1) − 6·Σd²`` and ``rho_den = n(n²−1)``, both
    exact DECIMAL(38,0) integers (Σd² ≤ n³ — past BIGINT by ~10^7
    rows per group, hence decimal), one final IEEE division. ``rho``
    is NULL when n < 2 (no order to compare). NULL ranks are excluded.

    Scale shape: ONE map-side-combinable aggregate per group (count +
    one sum of squares) — no window, no join. Returns ``n_items``,
    ``d2_sum``/``rho_num``/``rho_den`` (DECIMAL(38,0) — serialize as
    strings in gate queries) and ``rho``."""
    keyed = list(keys)
    dd = (rank_a.cast("decimal(38,0)") - rank_b).cast("decimal(38,0)")
    base = df.where(rank_a.isNotNull() & rank_b.isNotNull()).select(
        *keyed, (dd * dd).alias("__d2")
    )
    agg = base.groupBy(*keyed).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.coalesce(F.sum("__d2"), F.lit(0))
        .cast("decimal(38,0)")
        .alias("d2_sum"),
    )
    n_d = F.col("n_items").cast("decimal(38,0)")
    m = (n_d * (n_d * n_d - 1)).cast("decimal(38,0)")
    num = (m - F.lit(6).cast("decimal(38,0)") * F.col("d2_sum")).cast(
        "decimal(38,0)"
    )
    return agg.select(
        *keyed,
        "n_items",
        "d2_sum",
        num.alias("rho_num"),
        m.alias("rho_den"),
        F.when(
            F.col("n_items") >= 2,
            num.cast("double") / m.cast("double"),
        ).alias("rho"),
    )


def spearman_rho_sql(
    rank_a_sql: str,
    rank_b_sql: str,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """DuckDB twin of :func:`spearman_rho` — same exact integer
    algebra; the integer columns serialize as VARCHAR."""
    keyed = list(keys)
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    grp = f"GROUP BY {kcols}" if keyed else ""
    d = f"(CAST({rank_a_sql} AS HUGEINT) - ({rank_b_sql}))"
    return f"""
    WITH agg AS (
      SELECT {kpre}
             CAST(count(*) AS BIGINT) AS n_items,
             coalesce(sum({d} * {d}), 0) AS d2_sum
      FROM {table}
      WHERE ({rank_a_sql}) IS NOT NULL AND ({rank_b_sql}) IS NOT NULL
      {grp}
    ),
    terms AS (
      SELECT {kpre}n_items, d2_sum,
             n_items::HUGEINT * (n_items::HUGEINT * n_items - 1) AS m
      FROM agg
    )
    SELECT {kpre}n_items,
           CAST(d2_sum AS VARCHAR) AS d2_sum,
           CAST(m - 6 * d2_sum AS VARCHAR) AS rho_num,
           CAST(m AS VARCHAR) AS rho_den,
           CASE WHEN n_items >= 2 THEN
             CAST(m - 6 * d2_sum AS DOUBLE) / CAST(m AS DOUBLE)
           END AS rho
    FROM terms
    """


def kendall_tau(
    df: DataFrame,
    item_col: str,
    rank_a_col: str,
    rank_b_col: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Kendall rank correlation (tau-a) per ``keys`` group between two
    TIE-BROKEN total orders of the same item set — the pairwise
    sibling of :func:`spearman_rho` (ρ weighs displacement
    quadratically; τ counts INVERSIONS, the bubble-sort distance, the
    number an A/B re-ranking review actually argues about). Same input
    contract: one row per item with its rank under each ranker, both
    columns permutations of 1..n per group (tie-broken upstream).

    ``τ = (C − D) / (n(n−1)/2)``; for permutations C + D = n(n−1)/2,
    so ``τ = (n(n−1) − 4·D) / (n(n−1))`` with D = discordant pairs —
    exact DECIMAL(38,0) integers, one final IEEE division; NULL when
    n < 2. NULL items/ranks are excluded.

    Scale shape: D comes from a self-join WITHIN each group
    (equi-join on ``keys``, ``rank_a < rank_a'`` ordering the pair) —
    O(n²) pairs per group, the per-group cross-join family (SURVEY
    J3). This is for BOUNDED rankings (top-k lists, per-entity
    catalogs) — for corpus-scale n use ``spearman_rho`` (linear) or a
    merge-sort inversion count; the bounded-list stance is a
    contract, not a limitation discovered at runtime. Returns
    ``n_items``, ``n_pairs``, ``n_discordant``, ``tau_num``/
    ``tau_den`` (DECIMAL(38,0) — serialize as strings in gate
    queries) and ``tau``.

    NULL-keyed rows are EXCLUDED at entry (matching the NULL-rank
    exclusion): the pair count comes from an equi self-join on
    ``keys``, which drops NULL = NULL matches, so without this filter
    a NULL-keyed group would survive the counts aggregate but lose its
    pairs and report a spurious n_discordant = 0 instead of being
    absent. ``coalesce`` the key to a sentinel upstream if NULL should
    be a real group."""
    keyed = list(keys)
    not_null = (
        F.col(item_col).isNotNull()
        & F.col(rank_a_col).isNotNull()
        & F.col(rank_b_col).isNotNull()
    )
    for c in keyed:
        not_null = not_null & F.col(c).isNotNull()
    base = df.where(not_null).select(
        *keyed,
        F.col(item_col).alias("__i"),
        F.col(rank_a_col).cast("long").alias("__a"),
        F.col(rank_b_col).cast("long").alias("__b"),
    )
    left = base
    right = base.select(
        *[F.col(c).alias(f"__k2_{c}") for c in keyed],
        F.col("__a").alias("__a2"),
        F.col("__b").alias("__b2"),
    )
    cond = F.col("__a") < F.col("__a2")
    for c in keyed:
        cond = (F.col(c) == F.col(f"__k2_{c}")) & cond
    pairs = left.join(right, cond, "inner")
    disc = pairs.groupBy(*keyed).agg(
        F.coalesce(
            F.sum(F.when(F.col("__b") > F.col("__b2"), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("n_discordant"),
    )
    counts = base.groupBy(*keyed).agg(
        F.count(F.lit(1)).cast("long").alias("n_items")
    )
    out = _join_groups(counts, disc, keyed, "left")
    n_d = F.col("n_items").cast("decimal(38,0)")
    nd = F.coalesce(F.col("n_discordant"), F.lit(0)).cast("long")
    m = (n_d * (n_d - 1)).cast("decimal(38,0)")
    num = (m - F.lit(4).cast("decimal(38,0)") * nd).cast("decimal(38,0)")
    return out.select(
        *keyed,
        "n_items",
        (m / 2).cast("long").alias("n_pairs"),
        nd.alias("n_discordant"),
        num.alias("tau_num"),
        m.alias("tau_den"),
        F.when(
            F.col("n_items") >= 2, num.cast("double") / m.cast("double")
        ).alias("tau"),
    )


def kendall_tau_sql(
    item_sql: str,
    rank_a_sql: str,
    rank_b_sql: str,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """DuckDB twin of :func:`kendall_tau` — same per-group pair join,
    same exact algebra (incl. the NULL-key exclusion at entry); the
    integer columns serialize as VARCHAR."""
    keyed = list(keys)
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    key_nn = "".join(f" AND ({c}) IS NOT NULL" for c in keyed)
    grp = f"GROUP BY {kcols}" if keyed else ""
    pair_on = " AND ".join(
        [f"l.{c} = r.{c}" for c in keyed] + ["l.a < r.a"]
    )
    lkpre = ", ".join(f"l.{c}" for c in keyed) + (", " if keyed else "")
    lgrp = f"GROUP BY {', '.join(f'l.{c}' for c in keyed)}" if keyed else ""
    join_keys = f"USING ({kcols})" if keyed else "ON 1 = 1"
    sel_keys = (
        ", ".join(f"c.{c}" for c in keyed) + ", " if keyed else ""
    )
    return f"""
    WITH base AS (
      SELECT {kpre}{item_sql} AS i,
             CAST({rank_a_sql} AS BIGINT) AS a,
             CAST({rank_b_sql} AS BIGINT) AS b
      FROM {table}
      WHERE ({item_sql}) IS NOT NULL
        AND ({rank_a_sql}) IS NOT NULL AND ({rank_b_sql}) IS NOT NULL
        {key_nn}
    ),
    disc AS (
      SELECT {lkpre}
             CAST(coalesce(sum(CASE WHEN l.b > r.b THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_discordant
      FROM base l JOIN base r ON {pair_on}
      {lgrp}
    ),
    counts AS (
      SELECT {kpre}CAST(count(*) AS BIGINT) AS n_items
      FROM base {grp}
    ),
    terms AS (
      SELECT {sel_keys}c.n_items,
             coalesce(d.n_discordant, 0) AS n_discordant,
             c.n_items::HUGEINT * (c.n_items - 1) AS m
      FROM counts c LEFT JOIN disc d {join_keys}
    )
    SELECT {kpre}n_items,
           CAST(m // 2 AS BIGINT) AS n_pairs,
           n_discordant,
           CAST(m - 4 * n_discordant::HUGEINT AS VARCHAR) AS tau_num,
           CAST(m AS VARCHAR) AS tau_den,
           CASE WHEN n_items >= 2 THEN
             CAST(m - 4 * n_discordant::HUGEINT AS DOUBLE)
               / CAST(m AS DOUBLE)
           END AS tau
    FROM terms
    """


def cumulative_gain(
    df: DataFrame,
    label: Column,
    score: Column,
    n_buckets: int = 10,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Cumulative gain / lift table per ``keys`` group — "if I take
    the top 10%, 20%, … of the corpus by classifier score, what
    fraction of the positives do I capture, and how much better than
    random is that": the curve a budgeted filtering pass is tuned
    with (``pr_curve`` sweeps thresholds; this sweeps BUDGETS).
    Bucket b's cutoff is ``ceil(b·n/n_buckets)`` rows; the emitted
    row reads the cumulative counts at the FIRST threshold reaching
    that cutoff (score ties are never split — the decision is a
    threshold decision, so ``n_taken`` can exceed the cutoff by the
    tie run's size).

    Exactness: from the SAME distinct-score-grain aggregate as
    ``pr_curve`` (one window pass), each bucket is assigned to its
    covering threshold row by pure integer floors —
    ``b ∈ (n_buckets·prev_cum/n, n_buckets·cum/n]`` inverts the ceil
    without a join: ``sequence(prev_cum·n_buckets div n + 1,
    cum·n_buckets div n)`` exploded per row (non-negative operands,
    so truncating div ≡ flooring //). ``gain = tp/n_pos`` and
    ``lift = (tp·n)/(n_taken·n_pos)`` are each one IEEE division of
    exact DECIMAL(38,0) integers (NULL when the group has no
    positives). NULL labels/scores are excluded; an empty group
    emits no rows.

    Scale shape: one map-side-combinable score aggregate, ONE window
    over |distinct scores| rows per group, one explode of ≤ n_buckets
    total elements — no spine join, no BNLJ. Returns one row per
    (group, bucket 1..n_buckets): ``bucket``, ``cutoff``,
    ``n_taken``, ``tp_taken``, ``n``, ``n_pos``, ``gain``, ``lift``.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    keyed = list(keys)
    per_score = _per_score_counts(df, label, score, keyed)
    w = Window.partitionBy(*keyed).orderBy(F.col("__s").desc())
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    whole = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    counted = per_score.select(
        *keyed,
        F.sum(F.col("np") + F.col("nn")).over(run).cast("long").alias("__cum"),
        F.sum("np").over(run).cast("long").alias("__tp"),
        (F.col("np") + F.col("nn")).cast("long").alias("__rows"),
        F.sum(F.col("np") + F.col("nn")).over(whole).cast("long").alias("__n"),
        F.sum("np").over(whole).cast("long").alias("__npos"),
    )
    nb = int(n_buckets)
    lo = F.expr(
        f"(CAST(__cum - __rows AS DECIMAL(38,0)) * {nb}) div __n + 1"
    )
    hi = F.expr(f"(CAST(__cum AS DECIMAL(38,0)) * {nb}) div __n")
    exploded = counted.where(hi >= lo).select(
        *keyed,
        F.explode(F.sequence(lo, hi)).alias("bucket"),
        F.col("__cum"),
        F.col("__tp"),
        F.col("__n"),
        F.col("__npos"),
    )
    cutoff = F.expr(
        f"(CAST(bucket AS DECIMAL(38,0)) * __n + {nb} - 1) div {nb}"
    )
    tp_d = F.col("__tp").cast("decimal(38,0)")
    lift_num = (tp_d * F.col("__n")).cast("decimal(38,0)")
    lift_den = (
        F.col("__cum").cast("decimal(38,0)") * F.col("__npos")
    ).cast("decimal(38,0)")
    return exploded.select(
        *keyed,
        F.col("bucket").cast("long").alias("bucket"),
        cutoff.cast("long").alias("cutoff"),
        F.col("__cum").alias("n_taken"),
        F.col("__tp").alias("tp_taken"),
        F.col("__n").alias("n"),
        F.col("__npos").alias("n_pos"),
        F.when(
            F.col("__npos") > 0,
            tp_d.cast("double") / F.col("__npos").cast("double"),
        ).alias("gain"),
        F.when(
            F.col("__npos") > 0,
            lift_num.cast("double") / lift_den.cast("double"),
        ).alias("lift"),
    )


def cumulative_gain_sql(
    label_sql: str,
    score_sql: str,
    table: str,
    n_buckets: int = 10,
    keys: Sequence[str] = (),
) -> str:
    """DuckDB twin of :func:`cumulative_gain` — same distinct-score
    grain, same integer bucket inversion (``generate_series`` unnest
    for Spark's ``explode(sequence(...))``)."""
    keyed = list(keys)
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    part = f"PARTITION BY {kcols} " if keyed else ""
    nb = int(n_buckets)
    return f"""
    WITH per_score AS (
      SELECT {kpre}{score_sql} AS s,
             sum(CASE WHEN {label_sql} THEN 1 ELSE 0 END) AS np,
             sum(CASE WHEN {label_sql} THEN 0 ELSE 1 END) AS nn
      FROM {table}
      WHERE ({label_sql}) IS NOT NULL AND ({score_sql}) IS NOT NULL
      GROUP BY {kpre.rstrip(", ") + ", " if keyed else ""}s
    ),
    counted AS (
      SELECT {kpre}
             CAST(sum(np + nn) OVER ({part}ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(sum(np) OVER ({part}ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS tp,
             CAST(np + nn AS BIGINT) AS rows_here,
             CAST(sum(np + nn) OVER ({part.rstrip() or 'PARTITION BY 1'})
               AS BIGINT) AS n,
             CAST(sum(np) OVER ({part.rstrip() or 'PARTITION BY 1'})
               AS BIGINT) AS npos
      FROM per_score
    ),
    exploded AS (
      -- the bucket quotients are ≤ n_buckets, so the HUGEINT floors
      -- cast back to the BIGINT generate_series overload losslessly
      SELECT {kpre}
             unnest(generate_series(
               CAST((CAST(cum - rows_here AS HUGEINT) * {nb}) // n + 1
                    AS BIGINT),
               CAST((CAST(cum AS HUGEINT) * {nb}) // n AS BIGINT)))
               AS bucket,
             cum, tp, n, npos
      FROM counted
      WHERE (CAST(cum AS HUGEINT) * {nb}) // n
            >= (CAST(cum - rows_here AS HUGEINT) * {nb}) // n + 1
    )
    SELECT {kpre}
           CAST(bucket AS BIGINT) AS bucket,
           CAST((CAST(bucket AS HUGEINT) * n + {nb} - 1) // {nb}
                AS BIGINT) AS cutoff,
           cum AS n_taken,
           tp AS tp_taken,
           n,
           npos AS n_pos,
           CASE WHEN npos > 0
                THEN CAST(tp AS DOUBLE) / CAST(npos AS DOUBLE)
           END AS gain,
           CASE WHEN npos > 0 THEN
             CAST(tp::HUGEINT * n AS DOUBLE)
               / CAST(cum::HUGEINT * npos AS DOUBLE)
           END AS lift
    FROM exploded
    """


def fleiss_kappa(
    df: DataFrame,
    item_col: str,
    category_col: str,
    n_raters: int,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Fleiss' kappa per ``keys`` group — chance-corrected agreement
    among a FIXED NUMBER of raters per item (Fleiss 1971), the n-rater
    generalization of :func:`cohens_kappa`: the gate for an ensemble
    of quality classifiers / dedup verifiers / human-label batches
    where every item gets exactly ``n_raters`` votes and rater
    IDENTITY is not tracked (Fleiss' design; Cohen's kappa is the
    two-rater, identity-paired special case).

    Input: one row per (item, vote) with the assigned category.
    NULL items/categories are excluded; items that then carry a vote
    count ≠ ``n_raters`` are EXCLUDED and counted in
    ``n_items_dropped`` — a partial ballot is surfaced, never
    silently reweighted (classic Fleiss is undefined for varying n).

    Exactness — EXACT, no quantization: with
    ``S1 = Σ_items Σ_cats n_ic(n_ic − 1)`` (observed agreement mass)
    and ``S2 = Σ_cats (Σ_items n_ic)²`` (chance mass), clearing the
    denominators of κ = (P̄ − P̄_e)/(1 − P̄_e) gives
    ``κ = (S1·N·n − S2·(n−1)) / ((N²n² − S2)·(n−1))`` — all
    DECIMAL(38,0) integers (S2 ≤ (N·n)², inside 38 digits to ~10^17
    votes), one final IEEE division. NULL when the denominator is 0
    (every vote in one category — P̄_e = 1, agreement degenerate — or
    no complete items).

    Scale shape: ONE map-side-combinable (item, category) cell
    aggregate, an item-grain total + semi join to drop partial
    ballots, then category-grain and group-grain re-aggregations —
    nothing runs above cell grain. Returns ``n_items``,
    ``n_items_dropped``, ``n_categories``, ``fleiss_num``/
    ``fleiss_den`` (DECIMAL(38,0) — serialize as strings in gate
    queries) and ``fleiss_kappa``."""
    if n_raters < 2:
        raise ValueError(f"n_raters must be >= 2, got {n_raters}")
    keyed = list(keys)
    nr = int(n_raters)
    # NULL-keyed rows excluded at entry: the kept-ballot semi join and
    # the drops/s1/s2 recombination join on `keys` and cannot match
    # NULL = NULL (the kendall_tau keyed-join alignment convention)
    not_null = F.col(item_col).isNotNull() & F.col(category_col).isNotNull()
    for c in keyed:
        not_null = not_null & F.col(c).isNotNull()
    base = df.where(not_null).select(
        *keyed,
        F.col(item_col).alias("__i"),
        F.col(category_col).alias("__c"),
    )
    cells = base.groupBy(*keyed, "__i", "__c").agg(
        F.count(F.lit(1)).cast("long").alias("__nic")
    )
    item_tot = cells.groupBy(*keyed, "__i").agg(
        F.sum("__nic").cast("long").alias("__ni")
    )
    drops = item_tot.groupBy(*keyed).agg(
        F.coalesce(
            F.sum(F.when(F.col("__ni") != nr, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_items_dropped"),
    )
    kept = cells.join(
        item_tot.where(F.col("__ni") == nr).select(*keyed, "__i"),
        keyed + ["__i"],
        "left_semi",
    )
    nic_d = F.col("__nic").cast("decimal(38,0)")
    s1agg = kept.groupBy(*keyed).agg(
        F.count_distinct(F.col("__i")).cast("long").alias("n_items"),
        F.coalesce(F.sum(nic_d * (F.col("__nic") - 1)), F.lit(0))
        .cast("decimal(38,0)")
        .alias("__s1"),
    )
    cols = kept.groupBy(*keyed, "__c").agg(
        F.sum("__nic").cast("decimal(38,0)").alias("__colc")
    )
    s2agg = cols.groupBy(*keyed).agg(
        F.coalesce(F.sum(F.col("__colc") * F.col("__colc")), F.lit(0))
        .cast("decimal(38,0)")
        .alias("__s2"),
        F.count(F.lit(1)).cast("long").alias("n_categories"),
    )
    j = lambda a, b: _join_groups(a, b, keyed, "left")  # noqa: E731
    out = j(j(drops, s1agg), s2agg)
    n_d = F.coalesce(F.col("n_items"), F.lit(0)).cast("decimal(38,0)")
    s1 = F.coalesce(F.col("__s1"), F.lit(0).cast("decimal(38,0)"))
    s2 = F.coalesce(F.col("__s2"), F.lit(0).cast("decimal(38,0)"))
    num = (s1 * n_d * nr - s2 * (nr - 1)).cast("decimal(38,0)")
    den = ((n_d * n_d * (nr * nr) - s2) * (nr - 1)).cast("decimal(38,0)")
    return out.select(
        *keyed,
        F.coalesce(F.col("n_items"), F.lit(0)).cast("long").alias("n_items"),
        "n_items_dropped",
        F.coalesce(F.col("n_categories"), F.lit(0))
        .cast("long")
        .alias("n_categories"),
        num.alias("fleiss_num"),
        den.alias("fleiss_den"),
        F.when(
            den != 0, num.cast("double") / den.cast("double")
        ).alias("fleiss_kappa"),
    )


def fleiss_kappa_sql(
    item_sql: str,
    category_sql: str,
    n_raters: int,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """DuckDB twin of :func:`fleiss_kappa` — same cell grain, same
    cleared-denominator integer algebra; ``fleiss_num``/``fleiss_den``
    serialize as VARCHAR."""
    keyed = list(keys)
    nr = int(n_raters)
    key_nn = "".join(f" AND ({c}) IS NOT NULL" for c in keyed)
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    grp = f"GROUP BY {kcols}" if keyed else ""
    kgrp_ic = f"{kcols}, i, c" if keyed else "i, c"
    kgrp_i = f"{kcols}, i" if keyed else "i"
    kgrp_c = f"{kcols}, c" if keyed else "c"
    using_i = f"USING ({kpre}i)" if keyed else "USING (i)"
    join_k = f"USING ({kcols})" if keyed else "ON 1 = 1"
    sel_keys = (
        ", ".join(f"d.{c}" for c in keyed) + ", " if keyed else ""
    )
    return f"""
    WITH cells AS (
      SELECT {kpre}{item_sql} AS i, {category_sql} AS c,
             CAST(count(*) AS BIGINT) AS nic
      FROM {table}
      WHERE ({item_sql}) IS NOT NULL AND ({category_sql}) IS NOT NULL
        {key_nn}
      GROUP BY {kgrp_ic}
    ),
    item_tot AS (
      SELECT {kpre}i, CAST(sum(nic) AS BIGINT) AS ni
      FROM cells GROUP BY {kgrp_i}
    ),
    drops AS (
      SELECT {kpre}
             CAST(coalesce(sum(CASE WHEN ni <> {nr} THEN 1 ELSE 0 END),
                           0) AS BIGINT) AS n_items_dropped
      FROM item_tot {grp}
    ),
    kept AS (
      SELECT c.* FROM cells c
      SEMI JOIN (SELECT {kpre}i FROM item_tot WHERE ni = {nr}) t
        {using_i}
    ),
    s1agg AS (
      SELECT {kpre}
             CAST(count(DISTINCT i) AS BIGINT) AS n_items,
             coalesce(sum(nic::HUGEINT * (nic - 1)), 0) AS s1
      FROM kept {grp}
    ),
    cols AS (
      SELECT {kpre}c, sum(nic)::HUGEINT AS colc
      FROM kept GROUP BY {kgrp_c}
    ),
    s2agg AS (
      SELECT {kpre}
             coalesce(sum(colc * colc), 0) AS s2,
             CAST(count(*) AS BIGINT) AS n_categories
      FROM cols {grp}
    ),
    terms AS (
      SELECT {sel_keys}
             coalesce(s1agg.n_items, 0) AS n_items,
             d.n_items_dropped,
             coalesce(s2agg.n_categories, 0) AS n_categories,
             coalesce(s1agg.s1, 0)
               * coalesce(s1agg.n_items, 0)::HUGEINT * {nr}
               - coalesce(s2agg.s2, 0) * {nr - 1} AS num,
             (coalesce(s1agg.n_items, 0)::HUGEINT
                * coalesce(s1agg.n_items, 0) * {nr * nr}
              - coalesce(s2agg.s2, 0)) * {nr - 1} AS den
      FROM drops d
      LEFT JOIN s1agg {join_k}
      LEFT JOIN s2agg {join_k}
    )
    SELECT {kpre}n_items, n_items_dropped, n_categories,
           CAST(num AS VARCHAR) AS fleiss_num,
           CAST(den AS VARCHAR) AS fleiss_den,
           CASE WHEN den <> 0 THEN
             CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
           END AS fleiss_kappa
    FROM terms
    """


def rbo_weights(k: int, p_num: int, p_den: int) -> tuple[int, int, list[int]]:
    """The exact integer weight table for truncated RBO@k at rational
    persistence p = p_num/p_den: returns ``(scale, full, S)`` where
    ``scale = p_den^k · lcm(1..k)``, ``S[m-1] = Σ_{d=m..k}
    scale·(1−p)·p^(d−1)/d`` — an integer for every m (each term is
    ``(p_den − p_num)·p_num^(d−1)·p_den^(k−d)·(lcm(1..k)/d)``) — and
    ``full = scale·(1 − p^k) = lcm·(p_den^k − p_num^k)``, the
    identical-lists numerator (each rank-j item contributes S[j-1];
    summing the suffixes telescopes to Σ_d scale·w_d). A matched item
    whose deeper rank is m contributes exactly ``S[m-1]``."""
    import math

    if not 1 <= k:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0 < p_num < p_den:
        raise ValueError(
            f"p must be a rational in (0, 1): got {p_num}/{p_den}"
        )
    lcm = math.lcm(*range(1, k + 1))
    scale = p_den**k * lcm
    term = [
        (p_den - p_num) * p_num ** (d - 1) * p_den ** (k - d) * (lcm // d)
        for d in range(1, k + 1)
    ]
    suffix = []
    acc = 0
    for d in range(k, 0, -1):
        acc += term[d - 1]
        suffix.append(acc)
    suffix.reverse()
    full = lcm * (p_den**k - p_num**k)
    assert full == sum(suffix)  # the telescoped identical-lists sum
    # the largest possible per-query numerator is ≤ full < scale;
    # everything must fit the BIGINT literals both engines sum in
    if scale * (k + 1) >= 2**63:
        raise ValueError(
            f"rbo overflow: scale p_den^k·lcm(1..k) = {scale} at "
            f"k = {k} cannot sum inside BIGINT — lower k or use a "
            "smaller p_den"
        )
    return scale, full, suffix


def rbo_at_k(
    results_a: DataFrame,
    results_b: DataFrame,
    query_col: str = "qid",
    item_col: str = "item",
    rank_col: str = "rank",
    k: int = 10,
    p_num: int = 9,
    p_den: int = 10,
) -> DataFrame:
    """Truncated rank-biased overlap RBO@k (Webber, Moffat & Zobel,
    TOIS 2010) per query between two top-k rankings — the
    TOP-WEIGHTED member of the ranker-agreement trio
    (:func:`spearman_rho` weighs displacement, :func:`kendall_tau`
    counts inversions — both need the SAME item universe; RBO compares
    lists that may share only some items, weighting depth d by
    ``(1−p)·p^(d−1)``, so swapping ranks 1↔2 matters far more than
    9↔10). ``RBO@k = Σ_{d=1..k} (1−p)p^(d−1)·|A_d ∩ B_d|/d`` where
    A_d/B_d are the depth-d prefixes.

    Exactness: an item in both lists enters every prefix pair from
    depth ``m = max(rank_a, rank_b)`` on, so its total contribution is
    the SUFFIX sum ``Σ_{d≥m} (1−p)p^(d−1)/d`` — with rational p these
    are the exact integer LITERALS of :func:`rbo_weights` (constants
    of the metric, the ``ndcg_discounts`` recipe), one per possible m.
    The per-query numerator is one integer sum over matched items;
    ``rbo = rbo_num/scale`` and ``rbo_norm = rbo_num/(scale·(1−p^k))``
    (truncated RBO rescaled so identical lists score exactly 1) are
    each one IEEE division. Overflow is validated up front (BIGINT
    literals).

    Scale shape: one equi-join of the two (already top-k-bounded)
    lists on (query, item), one literal-array lookup, one
    map-side-combinable per-query sum, one left join back to the query
    universe (queries with disjoint lists emit 0, not nothing).
    Returns ``(query_col, n_matched, rbo_num, rbo, rbo_norm)``. Rows
    with rank outside 1..k are ignored (rank ≥ 1 also guards
    element_at's negative-index semantics).

    PRECONDITION: each (query, item) appears AT MOST ONCE per list —
    a ranking, not a bag. Rankings produced by ``row_number()``
    windows satisfy this by construction; inputs that violate it
    multiply join matches and can push ``rbo_norm`` above 1 (there is
    deliberately no silent dedup here — a duplicated item in a
    "ranking" is an upstream bug worth surfacing, and any
    dedup-by-min-rank choice would be a semantic the caller should
    make explicitly)."""
    scale, full, suffix = rbo_weights(k, p_num, p_den)
    s_arr = F.array(*[F.lit(int(s)).cast("long") for s in suffix])
    bound = lambda df, r: df.where(  # noqa: E731
        (F.col(rank_col) >= 1) & (F.col(rank_col) <= k)
    ).select(
        F.col(query_col).alias("__q"),
        F.col(item_col).alias("__i"),
        F.col(rank_col).cast("int").alias(r),
    )
    a, b = bound(results_a, "__ra"), bound(results_b, "__rb")
    matched = a.join(b, ["__q", "__i"], "inner").select(
        "__q",
        F.element_at(
            s_arr, F.greatest(F.col("__ra"), F.col("__rb"))
        ).alias("__s"),
    )
    per_q = matched.groupBy("__q").agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.sum("__s").cast("long").alias("rbo_num"),
    )
    universe = (
        a.select("__q").unionByName(b.select("__q")).distinct()
    )
    out = universe.join(per_q, "__q", "left")
    num = F.coalesce(F.col("rbo_num"), F.lit(0)).cast("long")
    return out.select(
        F.col("__q").alias(query_col),
        F.coalesce(F.col("n_matched"), F.lit(0))
        .cast("long")
        .alias("n_matched"),
        num.alias("rbo_num"),
        (num.cast("double") / F.lit(float(scale))).alias("rbo"),
        (num.cast("double") / F.lit(float(full))).alias("rbo_norm"),
    )


def rbo_at_k_sql(
    results_a_sql: str,
    results_b_sql: str,
    k: int,
    p_num: int,
    p_den: int,
    query_col: str = "qid",
    item_col: str = "item",
    rank_col: str = "rank",
) -> str:
    """DuckDB twin of :func:`rbo_at_k` — same literal suffix-weight
    table, same join/sum shape. ``results_a_sql``/``results_b_sql``
    are FROM-able fragments exposing (query, item, rank)."""
    scale, full, suffix = rbo_weights(k, p_num, p_den)
    vals = ", ".join(
        f"({m + 1}, {s}::BIGINT)" for m, s in enumerate(suffix)
    )
    q, i, r = query_col, item_col, rank_col
    return f"""
    WITH s_tab AS (SELECT * FROM (VALUES {vals}) AS t(m, s)),
    a AS (
      SELECT {q} AS qq, {i} AS ii, {r} AS ra FROM {results_a_sql}
      WHERE {r} BETWEEN 1 AND {k}
    ),
    b AS (
      SELECT {q} AS qq, {i} AS ii, {r} AS rb FROM {results_b_sql}
      WHERE {r} BETWEEN 1 AND {k}
    ),
    matched AS (
      SELECT a.qq, s.s
      FROM a JOIN b USING (qq, ii)
      JOIN s_tab s ON s.m = greatest(a.ra, b.rb)
    ),
    per_q AS (
      SELECT qq, CAST(count(*) AS BIGINT) AS n_matched,
             CAST(sum(s) AS BIGINT) AS rbo_num
      FROM matched GROUP BY qq
    ),
    universe AS (
      SELECT DISTINCT qq FROM (
        SELECT qq FROM a UNION ALL SELECT qq FROM b
      )
    )
    SELECT u.qq AS {q},
           CAST(coalesce(p.n_matched, 0) AS BIGINT) AS n_matched,
           CAST(coalesce(p.rbo_num, 0) AS BIGINT) AS rbo_num,
           CAST(coalesce(p.rbo_num, 0) AS DOUBLE) / {float(scale)}
             AS rbo,
           CAST(coalesce(p.rbo_num, 0) AS DOUBLE) / {float(full)}
             AS rbo_norm
    FROM universe u LEFT JOIN per_q p USING (qq)
    """


# ---------------------------------------------------------------------------
# Log-based metrics (r10): the literal log-quanta table design.
#
# The module's exactness policy bans engine log() calls in hashed
# results (low bits diverge across libm implementations). The NDCG
# discount table (ndcg_discounts) established the sanctioned escape:
# when the inputs are integer quanta on a BOUNDED grid, the logs the
# metric needs form a FINITE table that is a constant of the metric —
# precomputed once in Python (whose float ln is used only to define
# the constants, never evaluated per-row by an engine) and embedded
# as integer literals in both engines. Per-row terms are then exact
# integer products, every sum is order-free, and the only IEEE op is
# the final division. The r9 verdict explicitly sanctioned extending
# this to log-loss (here) and PSI (operators/dq.py distribution_psi).
# ---------------------------------------------------------------------------
_LOG_LOSS_SCALE = 10**12
# literal-table contract: the table is embedded in the PLAN (a folded
# constant array Spark-side, a VALUES relation in the SQL twin), so
# the score grid must stay small enough to be a literal. 4096 quanta
# resolve probabilities to ~0.025% — far below any model-card
# reading; higher-resolution scores should be re-quantized down
# (round, don't truncate — see ece()).
_LOG_TABLE_MAX = 4096


def log_loss_table(s_max: int) -> list[int]:
    """The literal integer log-quanta table for :func:`log_loss`:
    ``T[i] = round(10^12 · −ln(i/s_max))`` for i in 1..s_max
    (``T[s_max] = 0``). A constant of the metric, never an engine
    ``log`` — the ``ndcg_discounts`` recipe."""
    import math

    if not 2 <= s_max <= _LOG_TABLE_MAX:
        raise ValueError(
            f"s_max must be in 2..{_LOG_TABLE_MAX} (literal-table "
            f"contract), got {s_max}"
        )
    return [
        round(_LOG_LOSS_SCALE * -math.log(i / s_max))
        for i in range(1, s_max + 1)
    ]


def log_loss(
    df: DataFrame,
    label: Column,
    score_q: Column,
    s_max: int,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Log-loss (binary cross-entropy, in NATS) per ``keys`` group —
    the actual training objective, completing the calibration story
    (``ml_calibration_bins`` plots the reliability curve,
    ``brier_score`` is the quadratic proper score, ``ece`` the binned
    summary; log-loss is the LOGARITHMIC proper score a trained
    filter was optimized against, the one that punishes confident
    wrong answers hardest): ``LL = −(1/n)·Σ [y·ln(p) + (1−y)·ln(1−p)]``
    with ``p = s/s_max``. This is the BINARY form; for a k-class
    model score the TRUE class's probability with
    :func:`log_loss_multiclass` — the en-vs-rest collapse
    underreports k-class miscalibration. ``score_q`` must be an
    integer-quanta
    probability in [0, s_max] (produce it by ROUNDING, not
    truncating — see :func:`ece`); ``label`` boolean; NULL/out-of-
    range rows are excluded (module convention).

    Edge convention — the epsilon-quantum clamp: ln(0) at ``s = 0``
    (with y=1) or ``s = s_max`` (with y=0) is −∞, so scores are
    clamped into ``[1, s_max − 1]`` BEFORE scoring: a hard 0/1
    prediction is scored as if it were one quantum (1/s_max) less
    certain — the standard eps-clamping convention with
    ``eps = 1/s_max``, made exact. Clamped rows are counted in
    ``n_clamped`` (both edges), so a model emitting many hard
    predictions is visible rather than silently tempered.

    Exactness: per-row terms are the integer literals of
    :func:`log_loss_table` — ``y`` rows contribute ``T[s]``
    (= −ln(s/s_max) quanta), ``¬y`` rows ``T[s_max − s]``
    (= −ln(1 − s/s_max) quanta) — summed in DECIMAL(38,0)
    (order-free, engine-identical); ``log_loss = ll_num/(n·10^12)``
    is one IEEE division. Absolute error vs the true clamped
    log-loss ≤ 0.5·10^-12 per row (table rounding), i.e. ≤
    0.5·10^-12 after the mean — documented like AP's floor bound.

    Scale shape: ONE map-side-combinable aggregate at CLAMPED-score
    grain (≤ s_max − 1 rows per group — the PR-sweep grain), then
    both arms (``T[i]`` and ``T[s_max − i]``) via literal-array
    ``get`` lookups (r12, dq.psi_ln_lookup — a SINGLE array literal
    parsed once; the earlier "~2 s literal mass" measurement that
    justified the broadcast dim was a per-entry expression chain,
    and the dim itself cost a driver local-relation round-trip + a
    BroadcastExchange per run), one re-aggregation. Returns ``n``,
    ``n_clamped``, ``ll_num`` (DECIMAL(38,0) — serialize as string
    in gate queries) and ``log_loss`` (NULL for an empty group)."""
    tab = log_loss_table(s_max)
    keyed = list(keys)
    base = df.where(
        label.isNotNull()
        & score_q.isNotNull()
        & (score_q >= 0)
        & (score_q <= int(s_max))
    ).select(*keyed, label.alias("__y"), score_q.cast("long").alias("__s"))
    clamped = base.select(
        *keyed,
        "__y",
        F.greatest(
            F.lit(1).cast("long"),
            F.least(F.col("__s"), F.lit(int(s_max) - 1).cast("long")),
        ).alias("__sc"),
        ((F.col("__s") < 1) | (F.col("__s") > int(s_max) - 1)).alias(
            "__cl"
        ),
    )
    grain = clamped.groupBy(*keyed, "__sc").agg(
        F.sum(F.when(F.col("__y"), 1).otherwise(0))
        .cast("long")
        .alias("__pos"),
        F.sum(F.when(F.col("__y"), 0).otherwise(1))
        .cast("long")
        .alias("__neg"),
        F.sum(F.when(F.col("__cl"), 1).otherwise(0))
        .cast("long")
        .alias("__ncl"),
    )
    # −ln(i/s_max) quanta via ONE literal-array lookup per arm (r12,
    # dq.psi_ln_lookup): __sc is pre-clamped into 1..s_max−1, so the
    # old 1000-row broadcast-dim INNER join always matched — the
    # lookup is a pure projection of it (a single array literal is
    # one plan node; the ~2 s literal-mass pathology the broadcast
    # dim replaced was a per-entry CASE chain, not this)
    from blockchain_data_engineering_spark.operators.dq import (
        psi_ln_lookup as _lookup,
    )

    grain = grain.withColumn(
        "__vpos", _lookup(tab, F.col("__sc"))
    ).withColumn("__vneg", _lookup(tab, F.lit(int(s_max)) - F.col("__sc")))
    term = (
        F.col("__pos").cast("decimal(38,0)") * F.col("__vpos")
        + F.col("__neg").cast("decimal(38,0)") * F.col("__vneg")
    ).cast("decimal(38,0)")
    totals = grain.select(
        *keyed,
        (F.col("__pos") + F.col("__neg")).alias("__nb"),
        F.col("__ncl"),
        term.alias("__t"),
    ).groupBy(*keyed).agg(
        F.coalesce(F.sum("__nb"), F.lit(0)).cast("long").alias("n"),
        F.coalesce(F.sum("__ncl"), F.lit(0)).cast("long").alias("n_clamped"),
        F.coalesce(F.sum("__t"), F.lit(0))
        .cast("decimal(38,0)")
        .alias("ll_num"),
    )
    den = (
        F.col("n").cast("decimal(38,0)") * F.lit(_LOG_LOSS_SCALE)
    ).cast("decimal(38,0)")
    return totals.select(
        *keyed,
        "n",
        "n_clamped",
        "ll_num",
        F.when(
            F.col("n") > 0,
            F.col("ll_num").cast("double") / den.cast("double"),
        ).alias("log_loss"),
    )


def log_loss_sql(
    label_sql: str,
    score_q_sql: str,
    s_max: int,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """DuckDB twin of :func:`log_loss` — the SAME literal table as a
    VALUES relation (joined at clamped-score grain, ≤ s_max − 1 rows),
    same clamp, same integer algebra; ``ll_num`` serializes as
    VARCHAR.

    The clamp truncates via ``CAST(floor(·) AS BIGINT)`` — NOT a bare
    ``CAST(· AS BIGINT)``, which rounds half-even in DuckDB while
    Spark's ``cast("long")`` truncates: a contract-violating
    non-integral score would then clamp DIFFERENTLY per engine and
    diverge silently instead of hash-mismatching. On the filtered
    domain (score ≥ 0) floor ≡ truncation, so the twins agree for
    every input, integral or not; the CONTRACT is still integral
    quanta (produce them by rounding upstream — see :func:`ece`)."""
    tab = log_loss_table(s_max)
    vals = ", ".join(f"({i + 1}, {t}::BIGINT)" for i, t in enumerate(tab))
    keyed = list(keys)
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    grp = f"GROUP BY {kcols}" if keyed else ""
    kgrp_s = f"{kcols}, sc" if keyed else "sc"
    return f"""
    WITH ln_tab AS (SELECT * FROM (VALUES {vals}) AS t(i, v)),
    base AS (
      SELECT {kpre}{label_sql} AS y,
             greatest(1, least(CAST(floor({score_q_sql}) AS BIGINT),
                               {int(s_max) - 1})) AS sc,
             CASE WHEN CAST(floor({score_q_sql}) AS BIGINT) < 1
                    OR CAST(floor({score_q_sql}) AS BIGINT)
                       > {int(s_max) - 1}
                  THEN 1 ELSE 0 END AS cl
      FROM {table}
      WHERE ({label_sql}) IS NOT NULL AND ({score_q_sql}) IS NOT NULL
        AND ({score_q_sql}) >= 0 AND ({score_q_sql}) <= {int(s_max)}
    ),
    grain AS (
      SELECT {kpre}sc,
             CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg,
             CAST(sum(cl) AS BIGINT) AS ncl
      FROM base GROUP BY {kgrp_s}
    ),
    terms AS (
      SELECT {kpre}pos, neg, ncl,
             pos::HUGEINT * tp.v + neg::HUGEINT * tn.v AS t
      FROM grain
      JOIN ln_tab tp ON tp.i = sc
      JOIN ln_tab tn ON tn.i = {int(s_max)} - sc
    ),
    totals AS (
      SELECT {kpre}
             CAST(coalesce(sum(pos + neg), 0) AS BIGINT) AS n,
             CAST(coalesce(sum(ncl), 0) AS BIGINT) AS n_clamped,
             coalesce(sum(t), 0) AS ll_num
      FROM terms {grp}
    )
    SELECT {kpre}n, n_clamped,
           CAST(ll_num AS VARCHAR) AS ll_num,
           CASE WHEN n > 0 THEN
             CAST(ll_num AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * {_LOG_LOSS_SCALE} AS DOUBLE)
           END AS log_loss
    FROM totals
    """


def log_loss_multiclass(
    df: DataFrame,
    true_score_q: Column,
    s_max: int,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Multi-class log-loss (categorical cross-entropy, in NATS) per
    ``keys`` group — the k-class training objective :func:`log_loss`
    reads only through an en-vs-rest collapse (which UNDERREPORTS a
    k-class model's miscalibration: the ¬y arm lumps k−1 classes).
    Multi-class cross-entropy needs only the probability the model
    assigned to the TRUE class: ``LL = −(1/n)·Σ ln(p_true)`` — there
    is no second arm. ``true_score_q`` is that probability as integer
    quanta in [0, s_max] (from a per-class score map, select/explode
    the true class's entry upstream — one indicator join — and
    produce quanta by ROUNDING, not truncating — see :func:`ece`).
    NULL/out-of-range rows are excluded (module convention).

    Edge convention — the one-sided epsilon-quantum clamp: only
    ``p_true = 0`` is singular here (``p_true = 1`` scores an exact
    0), so scores clamp into ``[1, s_max]`` — a hard-zero true-class
    probability is scored as one quantum (1/s_max); clamped rows are
    counted in ``n_clamped`` so a model that zeroes true classes is
    visible rather than silently tempered.

    Exactness: per-row terms are the integer literals of
    :func:`log_loss_table` — row contributes ``T[s]``
    (= −ln(s/s_max) quanta; ``T[s_max] = 0``) — summed in
    DECIMAL(38,0); ``log_loss = ll_num/(n·10^12)`` is one IEEE
    division. Absolute error vs the true clamped log-loss ≤
    0.5·10^-12 (table rounding), as :func:`log_loss`.

    Scale shape: ONE map-side-combinable aggregate at clamped-score
    grain (≤ s_max rows per group), one literal-array ``get`` into the
    s_max-entry single-arm table per grain row (a projection — no
    relation, no join, no broadcast; see
    :func:`~.dq.psi_ln_lookup`), one re-aggregation. Returns ``n``, ``n_clamped``, ``ll_num``
    (DECIMAL(38,0) — serialize as string in gate queries) and
    ``log_loss`` (NULL for an empty group)."""
    tab = log_loss_table(s_max)
    keyed = list(keys)
    base = df.where(
        true_score_q.isNotNull()
        & (true_score_q >= 0)
        & (true_score_q <= int(s_max))
    ).select(*keyed, true_score_q.cast("long").alias("__s"))
    clamped = base.select(
        *keyed,
        F.greatest(F.lit(1).cast("long"), F.col("__s")).alias("__sc"),
        (F.col("__s") < 1).alias("__cl"),
    )
    grain = clamped.groupBy(*keyed, "__sc").agg(
        F.count(F.lit(1)).cast("long").alias("__cnt"),
        F.sum(F.when(F.col("__cl"), 1).otherwise(0))
        .cast("long")
        .alias("__ncl"),
    )
    # literal-array lookup (r12, dq.psi_ln_lookup): __sc is clamped
    # into 1..s_max, so the old broadcast-dim INNER join always
    # matched — the lookup is a pure projection of it
    from blockchain_data_engineering_spark.operators.dq import (
        psi_ln_lookup as _lookup,
    )

    grain = grain.withColumn("__v", _lookup(tab, F.col("__sc")))
    term = (F.col("__cnt").cast("decimal(38,0)") * F.col("__v")).cast(
        "decimal(38,0)"
    )
    totals = grain.select(
        *keyed, "__cnt", "__ncl", term.alias("__t")
    ).groupBy(*keyed).agg(
        F.coalesce(F.sum("__cnt"), F.lit(0)).cast("long").alias("n"),
        F.coalesce(F.sum("__ncl"), F.lit(0)).cast("long").alias("n_clamped"),
        F.coalesce(F.sum("__t"), F.lit(0))
        .cast("decimal(38,0)")
        .alias("ll_num"),
    )
    den = (
        F.col("n").cast("decimal(38,0)") * F.lit(_LOG_LOSS_SCALE)
    ).cast("decimal(38,0)")
    return totals.select(
        *keyed,
        "n",
        "n_clamped",
        "ll_num",
        F.when(
            F.col("n") > 0,
            F.col("ll_num").cast("double") / den.cast("double"),
        ).alias("log_loss"),
    )


def log_loss_multiclass_sql(
    true_score_q_sql: str,
    s_max: int,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """DuckDB twin of :func:`log_loss_multiclass` — the SAME literal
    table as a VALUES relation, same one-sided clamp (truncating via
    ``CAST(floor(·) AS BIGINT)`` to match Spark's cast — see
    :func:`log_loss_sql`), same integer algebra; ``ll_num``
    serializes as VARCHAR."""
    tab = log_loss_table(s_max)
    vals = ", ".join(f"({i + 1}, {t}::BIGINT)" for i, t in enumerate(tab))
    keyed = list(keys)
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    grp = f"GROUP BY {kcols}" if keyed else ""
    kgrp_s = f"{kcols}, sc" if keyed else "sc"
    return f"""
    WITH ln_tab AS (SELECT * FROM (VALUES {vals}) AS t(i, v)),
    base AS (
      SELECT {kpre}
             greatest(1, CAST(floor({true_score_q_sql}) AS BIGINT)) AS sc,
             CASE WHEN CAST(floor({true_score_q_sql}) AS BIGINT) < 1
                  THEN 1 ELSE 0 END AS cl
      FROM {table}
      WHERE ({true_score_q_sql}) IS NOT NULL
        AND ({true_score_q_sql}) >= 0 AND ({true_score_q_sql}) <= {int(s_max)}
    ),
    grain AS (
      SELECT {kpre}sc,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(cl) AS BIGINT) AS ncl
      FROM base GROUP BY {kgrp_s}
    ),
    terms AS (
      SELECT {kpre}cnt, ncl, cnt::HUGEINT * tp.v AS t
      FROM grain JOIN ln_tab tp ON tp.i = sc
    ),
    totals AS (
      SELECT {kpre}
             CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n,
             CAST(coalesce(sum(ncl), 0) AS BIGINT) AS n_clamped,
             coalesce(sum(t), 0) AS ll_num
      FROM terms {grp}
    )
    SELECT {kpre}n, n_clamped,
           CAST(ll_num AS VARCHAR) AS ll_num,
           CASE WHEN n > 0 THEN
             CAST(ll_num AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * {_LOG_LOSS_SCALE} AS DOUBLE)
           END AS log_loss
    FROM totals
    """


# The weighted-kappa exactness envelope: |label| ≤ 10^4 keeps
# w·r·c = label²·n² inside DECIMAL(38,0) to n ~ 10^10. Enforced
# in-plan at the cell grain (≤ k² rows — negligible cost): past the
# envelope Spark's DECIMAL(38,0) would overflow to NULL while the
# DuckDB twin's HUGEINT keeps going — a SILENT cross-engine
# divergence; the assertion turns it into a loud failure.
_KAPPA_LABEL_MAX = 10**4


def _kappa_weight(a: Column, b: Column, weighting: str) -> Column:
    if weighting == "linear":
        return F.abs(a - b).cast("decimal(38,0)")
    if weighting == "quadratic":
        d = (a - b).cast("decimal(38,0)")
        return (d * d).cast("decimal(38,0)")
    raise ValueError(
        f"weighting must be 'linear' or 'quadratic', got {weighting!r}"
    )


def weighted_kappa(
    df: DataFrame,
    rater_a: Column,
    rater_b: Column,
    weighting: str = "quadratic",
    keys: Sequence[str] = (),
    n: Column | None = None,
) -> DataFrame:
    """Weighted Cohen's kappa per ``keys`` group — chance-corrected
    agreement for ORDINAL labels (quality tiers 0–5, severity grades),
    where :func:`cohens_kappa` over-penalizes: unweighted κ scores an
    adjacent-tier disagreement (4 vs 5) exactly like a maximal one
    (0 vs 5). With disagreement weights ``w``,
    ``κ_w = 1 − Σ w·o_ij / Σ w·e_ij`` (o = observed cells, e = chance
    cells r_i·c_j/n); ``weighting="linear"`` uses ``w_ij = |i − j|``,
    ``"quadratic"`` uses ``w_ij = (i − j)²`` (any global weight scale
    cancels, so the conventional /(k−1) normalizations are omitted
    with no effect on κ_w).

    Labels must be INTEGERS (cast to long; the ordinal scale's
    positions) with |label| ≤ ~10^4 — weights are computed over the
    label VALUES, so gaps in the scale count as real distance
    ({0, 10, 20} scores 10× the distance of {0, 1, 2}; index-rank the
    labels upstream if equal spacing is wanted — this matches
    sklearn's ``cohen_kappa_score(weights=...)`` exactly when labels
    are consecutive integers, the ordinal-tier case).

    Exactness — EXACT: clearing denominators,
    ``κ_w = (Σ w·r_i·c_j − n·Σ w·o_ij) / (Σ w·r_i·c_j)`` — all
    DECIMAL(38,0) integers (w ≤ 10^8, n ≤ ~10^10 keeps w·n² within
    38 digits; the |label| ≤ 10^4 envelope is ENFORCED by an in-plan
    assertion at the cell grain — out-of-envelope labels raise
    loudly instead of overflowing DECIMAL(38,0) to a silent NULL
    kappa), one final IEEE division; NULL when the denominator is
    0 (both raters constant — no disagreement is even expressible) or
    the group is empty. NULL ratings are excluded. Input rows are
    facts, or cells with an ``n`` column (:func:`confusion_cells`).

    Scale shape: the :func:`cohens_kappa` cell grain (≤ k² rows per
    group), marginal re-aggregations, then a ≤ k×k marginal cross
    PER GROUP (an equi join on the group key — bounded by the ordinal
    scale's size, never by n). Returns ``n``, ``n_labels``,
    ``kappa_num``/``kappa_den`` (DECIMAL(38,0) — serialize as strings
    in gate queries) and ``kappa``."""
    _kappa_weight(F.lit(0), F.lit(0), weighting)  # validate up front
    keyed = list(keys)
    cells = confusion_cells(
        df, rater_a.cast("long"), rater_b.cast("long"), keys, n
    )
    # exactness-envelope guard (|label| ≤ 10^4 — see _KAPPA_LABEL_MAX):
    # assert_true raises loudly instead of letting DECIMAL(38,0)
    # overflow NULL the kappa silently; coalesce(NULL-on-pass, true)
    # keeps every in-envelope row, and a WHERE clause cannot be pruned
    # the way an unused projected column could
    cells = cells.where(
        F.coalesce(
            F.assert_true(
                (F.abs(F.col("actual")) <= _KAPPA_LABEL_MAX)
                & (F.abs(F.col("predicted")) <= _KAPPA_LABEL_MAX),
                F.concat(
                    F.lit(
                        "weighted_kappa: |label| exceeds the exactness "
                        f"envelope ({_KAPPA_LABEL_MAX}) — index-rank the "
                        "ordinal scale upstream; got a="
                    ),
                    F.col("actual").cast("string"),
                    F.lit(", b="),
                    F.col("predicted").cast("string"),
                ),
            ),
            F.lit(True),
        )
    )
    obs = cells.groupBy(*keyed).agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n"),
        F.coalesce(
            F.sum(
                _kappa_weight(F.col("actual"), F.col("predicted"), weighting)
                * F.col("n")
            ),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("__obs"),
    )
    by_a = cells.groupBy(*keyed, F.col("actual").alias("__la")).agg(
        F.sum("n").cast("long").alias("__r")
    )
    by_b = cells.groupBy(*keyed, F.col("predicted").alias("__lb")).agg(
        F.sum("n").cast("long").alias("__c")
    )
    pairs = _join_groups(by_a, by_b, keyed)
    exp = pairs.groupBy(*keyed).agg(
        F.coalesce(
            F.sum(
                _kappa_weight(F.col("__la"), F.col("__lb"), weighting)
                * F.col("__r").cast("decimal(38,0)")
                * F.col("__c")
            ),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("__exp"),
    )
    labels = (
        cells.select(*keyed, F.col("actual").alias("__l"))
        .unionByName(cells.select(*keyed, F.col("predicted").alias("__l")))
        .distinct()
        .groupBy(*keyed)
        .agg(F.count(F.lit(1)).cast("long").alias("n_labels"))
    )
    out = _join_groups(_join_groups(obs, exp, keyed), labels, keyed)
    num = (
        F.col("__exp")
        - F.col("n").cast("decimal(38,0)") * F.col("__obs")
    ).cast("decimal(38,0)")
    den = F.col("__exp")
    return out.select(
        *keyed,
        "n",
        "n_labels",
        num.alias("kappa_num"),
        den.alias("kappa_den"),
        F.when(
            den != 0, num.cast("double") / den.cast("double")
        ).alias("kappa"),
    )


def weighted_kappa_sql(
    rater_a_sql: str,
    rater_b_sql: str,
    weighting: str,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """DuckDB twin of :func:`weighted_kappa` — same cell grain, same
    marginal cross, same cleared-denominator integers;
    ``kappa_num``/``kappa_den`` serialize as VARCHAR.

    Exactness envelope (mirrors the Spark side's in-plan assertion):
    |label| ≤ ~10^4 and n ≤ ~10^10 keep w·r·c inside 38 digits. The
    Spark twin RAISES past the envelope (``_KAPPA_LABEL_MAX``); this
    twin's HUGEINT would keep going — so an out-of-envelope run fails
    loudly on the Spark side rather than hash-diverging silently."""
    if weighting == "linear":
        w = lambda a, b: f"abs({a}::HUGEINT - {b})"  # noqa: E731
    elif weighting == "quadratic":
        w = lambda a, b: (  # noqa: E731
            f"(({a}::HUGEINT - {b}) * ({a}::HUGEINT - {b}))"
        )
    else:
        raise ValueError(
            f"weighting must be 'linear' or 'quadratic', got {weighting!r}"
        )
    keyed = list(keys)
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    grp = f"GROUP BY {kcols}" if keyed else ""
    kgrp_ab = f"{kcols}, a, b" if keyed else "a, b"
    kgrp_a = f"{kcols}, a" if keyed else "a"
    kgrp_b = f"{kcols}, b" if keyed else "b"
    kgrp_l = f"{kcols}, l" if keyed else "l"
    key_nn = "".join(f" AND ({c}) IS NOT NULL" for c in keyed)
    pair_on = (
        " AND ".join(f"by_a.{c} = by_b.{c}" for c in keyed)
        if keyed
        else "1 = 1"
    )
    akpre = ", ".join(f"by_a.{c}" for c in keyed) + (", " if keyed else "")
    agrp = (
        f"GROUP BY {', '.join(f'by_a.{c}' for c in keyed)}" if keyed else ""
    )
    join_k = f"USING ({kcols})" if keyed else "ON 1 = 1"
    okpre = ", ".join(f"o.{c}" for c in keyed) + (", " if keyed else "")
    return f"""
    WITH cells AS (
      SELECT {kpre}CAST({rater_a_sql} AS BIGINT) AS a,
             CAST({rater_b_sql} AS BIGINT) AS b,
             CAST(count(*) AS BIGINT) AS cnt
      FROM {table}
      WHERE ({rater_a_sql}) IS NOT NULL AND ({rater_b_sql}) IS NOT NULL
        {key_nn}
      GROUP BY {kgrp_ab}
    ),
    obs AS (
      SELECT {kpre}
             CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n,
             coalesce(sum({w('a', 'b')} * cnt), 0) AS obs_sum
      FROM cells {grp}
    ),
    by_a AS (
      SELECT {kpre}a AS la, CAST(sum(cnt) AS BIGINT) AS r
      FROM cells GROUP BY {kgrp_a}
    ),
    by_b AS (
      SELECT {kpre}b AS lb, CAST(sum(cnt) AS BIGINT) AS c
      FROM cells GROUP BY {kgrp_b}
    ),
    expd AS (
      SELECT {akpre}
             coalesce(sum({w('by_a.la', 'by_b.lb')}
                          * by_a.r::HUGEINT * by_b.c), 0) AS exp_sum
      FROM by_a JOIN by_b ON {pair_on}
      {agrp}
    ),
    labels AS (
      SELECT {kpre}CAST(count(*) AS BIGINT) AS n_labels
      FROM (
        SELECT DISTINCT {kpre}l FROM (
          SELECT {kpre}a AS l FROM cells
          UNION ALL SELECT {kpre}b AS l FROM cells
        ) GROUP BY {kgrp_l}
      ) {grp}
    )
    SELECT {okpre}o.n, labels.n_labels,
           CAST(expd.exp_sum - o.n::HUGEINT * o.obs_sum AS VARCHAR)
             AS kappa_num,
           CAST(expd.exp_sum AS VARCHAR) AS kappa_den,
           CASE WHEN expd.exp_sum <> 0 THEN
             CAST(expd.exp_sum - o.n::HUGEINT * o.obs_sum AS DOUBLE)
               / CAST(expd.exp_sum AS DOUBLE)
           END AS kappa
    FROM obs o
    JOIN expd {join_k}
    JOIN labels {join_k}
    """


def _krippendorff_unit_state(
    df: DataFrame,
    item_col: str,
    category_col: str,
    keyed: list,
    mr: int,
    metric: str,
) -> tuple:
    """The shared cells→kept-units prefix of :func:`krippendorff_alpha`
    and :func:`krippendorff_disagreement_explain`: the (item, category)
    cell aggregate, the m<2 / m>max_raters drop filter, and — per
    metric — the per-unit disagreement ingredients (``__ss`` for
    nominal, ``__s1``/``__s2`` moments for interval/ordinal, over the
    e-transform for ordinal) plus the category-marginal aggregate.
    Returns ``(kept_items, drops, cat_agg, shared)``; ``kept_items``
    also carries ``__kc`` (distinct categories voted on the unit — free
    at the item re-aggregation, used only by the explain reader), and
    ``shared`` lists the materialized diamond nodes the caller hands to
    ``finalize``."""
    not_null = F.col(item_col).isNotNull() & F.col(category_col).isNotNull()
    for c in keyed:
        not_null = not_null & F.col(c).isNotNull()
    base = df.where(not_null).select(
        *keyed,
        F.col(item_col).alias("__i"),
        F.col(category_col).alias("__c"),
    )
    # Materialize the diamond nodes eagerly (r11, guide §2.4
    # duplicated subtrees): cells feeds BOTH the unit-size aggregate
    # and the kept-cell semi join, items/kept_cells/cats each feed two
    # consumers, and the final drops⋈u_agg⋈cat_agg recombination
    # expands every un-materialized reference into its own full copy
    # of the subtree — the votes cache was being re-read ~59 times in
    # the ordinal gate's plan (measured 3.3-4.6 s execution over 13k
    # votes). round_checkpoint (eager, flat scan) beats a lazy
    # persist here for the SAME reason as the iterative loops: a
    # persisted-but-unmaterialized diamond still nests the whole
    # subtree inside each InMemoryRelation reference and Catalyst
    # re-canonicalizes it per reference (measured 8.6 s lazy vs 2.2 s
    # eager for the whole ordinal build+run). Each node is
    # ≤ (unit, category) grain — the same linear-in-corpus rows the
    # aggregate itself already shuffles; the lazy result reads every
    # node, so they go to the caller's finalize.
    from blockchain_data_engineering_spark.cache import round_checkpoint

    cells = round_checkpoint(
        base.groupBy(*keyed, "__i", "__c").agg(
            F.count(F.lit(1)).cast("long").alias("__nuc")
        )
    )
    nuc_d = F.col("__nuc").cast("decimal(38,0)")
    cl = F.col("__c").cast("long")
    if metric == "ordinal":
        # the ordinal distance depends on the KEPT-unit marginals, so
        # the drop filter must run before the per-unit moments: unit
        # sizes first, then marginals → e_c, then moments over e_c
        items_m = round_checkpoint(
            cells.groupBy(*keyed, "__i").agg(
                F.sum("__nuc").cast("long").alias("__m")
            )
        )
        drops = items_m.groupBy(*keyed).agg(
            F.coalesce(
                F.sum(F.when(F.col("__m") < 2, 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias("n_units_single"),
            F.coalesce(
                F.sum(F.when(F.col("__m") > mr, 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias("n_units_overflow"),
        )
        kept_ids = items_m.where(
            (F.col("__m") >= 2) & (F.col("__m") <= mr)
        ).select(*keyed, "__i")
        kept_cells = cells.join(kept_ids, keyed + ["__i"], "left_semi")
        # ordinal categories MUST cast to integers: a failed cast
        # yields NULL, whose cells would silently vanish from the
        # moment sums while items_m already counted their ratings —
        # raise loudly instead (the DuckDB twin's CAST errors on the
        # same input, so the engines fail consistently)
        kept_cells = round_checkpoint(
            kept_cells.where(
                F.coalesce(
                    F.assert_true(
                        cl.isNotNull(),
                        F.concat(
                            F.lit(
                                "krippendorff_alpha(metric='ordinal'): "
                                "category not castable to long: "
                            ),
                            F.col("__c").cast("string"),
                        ),
                    ),
                    F.lit(True),
                )
            )
        )
        # category marginals at the INTEGER value grain, the bounded
        # cumulative window, and the transformed value e = 2·cum − n_c
        cats0 = kept_cells.groupBy(*keyed, cl.alias("__clv")).agg(
            F.sum("__nuc").cast("decimal(38,0)").alias("__nc")
        )
        w_cum = Window.partitionBy(*keyed).orderBy("__clv")
        cats = round_checkpoint(
            cats0.select(
                *keyed,
                "__clv",
                "__nc",
                (
                    F.lit(2).cast("decimal(38,0)")
                    * F.sum("__nc").over(w_cum)
                    - F.col("__nc")
                )
                .cast("decimal(38,0)")
                .alias("__e"),
            )
        )
        # carry e to the cells: a category-dim equi join (≤ k rows)
        cell_e = kept_cells.select(
            *keyed, "__i", cl.alias("__clv"), "__nuc"
        ).join(cats.select(*keyed, "__clv", "__e"), keyed + ["__clv"])
        kept_items = cell_e.groupBy(*keyed, "__i").agg(
            F.sum("__nuc").cast("long").alias("__m"),
            F.count(F.lit(1)).cast("long").alias("__kc"),
            F.sum(nuc_d * F.col("__e")).cast("decimal(38,0)").alias("__s1"),
            F.sum(nuc_d * F.col("__e") * F.col("__e"))
            .cast("decimal(38,0)")
            .alias("__s2"),
        )
        cat_agg = cats.groupBy(*keyed).agg(
            F.count(F.lit(1)).cast("long").alias("n_categories"),
            F.coalesce(F.sum(F.col("__nc") * F.col("__e")), F.lit(0))
            .cast("decimal(38,0)")
            .alias("__t1"),
            F.coalesce(
                F.sum(F.col("__nc") * F.col("__e") * F.col("__e")),
                F.lit(0),
            )
            .cast("decimal(38,0)")
            .alias("__t2"),
        )
        shared = [cells, items_m, kept_cells, cats]
    else:
        if metric == "interval":
            # per-unit disagreement moments over the INTEGER label
            # values
            items = cells.groupBy(*keyed, "__i").agg(
                F.sum("__nuc").cast("long").alias("__m"),
                F.count(F.lit(1)).cast("long").alias("__kc"),
                F.sum(nuc_d * cl).cast("decimal(38,0)").alias("__s1"),
                F.sum(nuc_d * cl * cl).cast("decimal(38,0)").alias("__s2"),
            )
        else:
            items = cells.groupBy(*keyed, "__i").agg(
                F.sum("__nuc").cast("long").alias("__m"),
                F.count(F.lit(1)).cast("long").alias("__kc"),
                F.sum(nuc_d * F.col("__nuc"))
                .cast("decimal(38,0)")
                .alias("__ss"),
            )
        # items feeds the drop counts AND the kept filter (whose
        # output feeds the semi join AND u_agg) — same diamond
        items = round_checkpoint(items)
        drops = items.groupBy(*keyed).agg(
            F.coalesce(
                F.sum(F.when(F.col("__m") < 2, 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias("n_units_single"),
            F.coalesce(
                F.sum(F.when(F.col("__m") > mr, 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias("n_units_overflow"),
        )
        kept_items = items.where(
            (F.col("__m") >= 2) & (F.col("__m") <= mr)
        )
        kept_cells = cells.join(
            kept_items.select(*keyed, "__i"), keyed + ["__i"], "left_semi"
        )
        cats = kept_cells.groupBy(*keyed, "__c").agg(
            F.sum("__nuc").cast("decimal(38,0)").alias("__nc")
        )
        if metric == "interval":
            ccl = F.col("__c").cast("long")
            cat_agg = cats.groupBy(*keyed).agg(
                F.count(F.lit(1)).cast("long").alias("n_categories"),
                F.coalesce(F.sum(F.col("__nc") * ccl), F.lit(0))
                .cast("decimal(38,0)")
                .alias("__t1"),
                F.coalesce(F.sum(F.col("__nc") * ccl * ccl), F.lit(0))
                .cast("decimal(38,0)")
                .alias("__t2"),
            )
        else:
            cat_agg = cats.groupBy(*keyed).agg(
                F.count(F.lit(1)).cast("long").alias("n_categories"),
                F.coalesce(F.sum(F.col("__nc") * F.col("__nc")), F.lit(0))
                .cast("decimal(38,0)")
                .alias("__c2"),
            )
        shared = [cells, items]
    return kept_items, drops, cat_agg, shared


def _krippendorff_du(metric: str) -> Column:
    """The per-unit disagreement mass ``D_u`` over the
    :func:`_krippendorff_unit_state` columns: nominal
    ``m² − Σ_c n_uc²`` (= ordered rating pairs that disagree);
    interval/ordinal the moment form ``m·S2 − S1²`` (= Σ over
    unordered rating pairs of the squared value distance)."""
    m_d = F.col("__m").cast("decimal(38,0)")
    return (
        (m_d * F.col("__s2") - F.col("__s1") * F.col("__s1"))
        if metric in ("interval", "ordinal")
        else (m_d * m_d - F.col("__ss"))
    )


def krippendorff_alpha(
    df: DataFrame,
    item_col: str,
    category_col: str,
    keys: Sequence[str] = (),
    max_raters: int = 16,
    metric: str = "nominal",
) -> DataFrame:
    """Krippendorff's alpha per ``keys`` group — the agreement
    statistic for RAGGED multi-rater coverage (Krippendorff 2011,
    "Computing Krippendorff's Alpha-Reliability"), completing the
    agreement suite: :func:`cohens_kappa` needs exactly two
    identified raters, :func:`fleiss_kappa` a FIXED vote count per
    item (partial ballots are dropped-and-counted there); α accepts
    any item with ≥ 2 ratings, which is what a real labeling pipeline
    with rater churn actually produces.

    ``metric="nominal"`` (default) scores any disagreement 1 — for
    unordered categories (languages, topics).
    ``metric="interval"`` scores a disagreement ``(c − k)²`` over the
    INTEGER category values (quality tiers 0–5, severity grades) —
    the ragged-coverage counterpart of :func:`weighted_kappa`'s
    quadratic weighting (categories are cast to long; the ordinal
    contract of ``weighted_kappa`` applies, |value| ≤ ~10^4). The
    interval distance needs NO k² category cross: the coincidence
    sums collapse to pure moments —
    ``Σ_{c,k} n_uc·n_uk·(c−k)² = 2·(m_u·S2_u − S1_u²)`` with
    ``S1 = Σ n_uc·c``, ``S2 = Σ n_uc·c²``, and the factor 2 cancels
    between D_o and D_e.
    ``metric="ordinal"`` is what Krippendorff prescribes for RANKS:
    the distance between categories c ≤ k is the squared sum of the
    marginal masses BETWEEN them,
    ``δ²_ck = (Σ_{g=c..k} n_g − (n_c + n_k)/2)²`` (n_g = the
    kept-unit category marginals) — tiers far apart in POPULATION
    terms count as far apart, however their integer labels are
    spaced. Ordered by the integer category value. The k² cross
    collapses exactly as interval's does: with
    ``e_c = 2·cum_c − n_c`` (cum = the cumulative marginal),
    ``Σ_{g=c..k} n_g − (n_c+n_k)/2 = (e_k − e_c)/2`` — so ordinal IS
    the interval moment form over the transformed values e_c (the /4
    cancels between D_o and D_e), one bounded category-grain window
    + one category-dim join instead of a cross. Because e is affine
    in c when marginals are uniform, ordinal α == interval α on the
    rank indexes whenever every category has equal support (pinned
    in tests). Envelope: e ≤ 2n, so de ~ LCM·4n⁴ — exact to
    n ~ 10^8–10^9 (tighter than interval's; past it DECIMAL(38,0)
    overflows loudly to NULL numerators, never silently wrong).

    Input: one row per (item, vote) with the assigned category — the
    :func:`fleiss_kappa` grain, rater identity untracked. NULL
    items/categories are excluded. Items with ONE rating carry no
    agreement information and are dropped-and-counted
    (``n_units_single`` — Krippendorff's own convention); items with
    more than ``max_raters`` ratings are dropped-and-counted
    (``n_units_overflow``) — the bound is what keeps the per-item
    1/(m_u − 1) weights exact (below), and a unit with hundreds of
    votes usually signals an upstream key bug worth surfacing.

    Definition (coincidence-matrix form): with n_uc = votes of
    category c on unit u, m_u = Σ_c n_uc, n_c = Σ_u n_uc (over kept
    units), n = Σ_c n_c — nominal:
    ``D_o = (1/n)·Σ_u (m_u² − Σ_c n_uc²)/(m_u − 1)``,
    ``D_e = (n² − Σ_c n_c²)/(n(n−1))``; interval (2s cancelled):
    ``D_o ∝ (1/n)·Σ_u (m_u·S2_u − S1_u²)/(m_u − 1)``,
    ``D_e ∝ (n·T2 − T1²)/(n(n−1))`` with T1/T2 the category-marginal
    first/second moments; either way ``α = 1 − D_o/D_e``.

    Exactness — EXACT: the only non-integer weights are the per-unit
    1/(m_u − 1); with m_u ≤ ``max_raters`` every one is an exact
    divisor of ``LCM = lcm(1..max_raters−1)``, so
    ``U = Σ_u D_u·(LCM/(m_u−1))`` (D_u the per-unit disagreement
    mass of the chosen metric) is a pure integer and clearing the
    remaining denominators gives
    ``α = (LCM·DE − (n−1)·U) / (LCM·DE)`` with ``DE = n² − Σn_c²``
    (nominal) or ``n·T2 − T1²`` (interval) — all DECIMAL(38,0)
    (LCM ≤ ~10^16 for max_raters ≤ 42; nominal LCM·n² stays inside
    38 digits to n ~ 10^10, interval LCM·n·T2 to n·c_max² ~ 10^18,
    i.e. n ~ 10^10 with |labels| ≤ 10^4), one final IEEE division.
    NULL when the denominator is 0 (no kept units, n < 2, or —
    nominal — every vote in one category / — interval — every vote
    the same value: chance disagreement 0, agreement degenerate).

    Scale shape: ONE map-side-combinable (item, category) cell
    aggregate, an item-grain re-aggregation (m_u, Σn_uc² — where the
    drop filter runs), a semi join of cells to kept items for the
    category marginals, then group-grain re-aggregations — nothing
    above cell grain, the :func:`fleiss_kappa` plan. Returns
    ``n_ratings``, ``n_units``, ``n_units_single``,
    ``n_units_overflow``, ``n_categories``, ``alpha_num``/
    ``alpha_den`` (DECIMAL(38,0) — serialize as strings in gate
    queries) and ``alpha``."""
    import math

    if metric not in ("nominal", "interval", "ordinal"):
        raise ValueError(
            "metric must be 'nominal', 'interval' or 'ordinal', "
            f"got {metric!r}"
        )
    if not 3 <= max_raters <= 42:
        raise ValueError(
            f"max_raters must be in 3..42 (lcm(1..max_raters-1) must "
            f"fit BIGINT), got {max_raters}"
        )
    mr = int(max_raters)
    lcm = math.lcm(*range(1, mr))
    keyed = list(keys)
    # NULL-keyed rows are EXCLUDED at entry (inside the shared unit
    # state — the keyed-join alignment convention, see kendall_tau):
    # the kept-items semi join and the drops/u_agg/cat_agg
    # recombination join on `keys`, which cannot match NULL = NULL —
    # without this filter a NULL-keyed group survives the drops
    # aggregate but loses its joined masses and reports a spurious
    # all-zero row. coalesce the key upstream if NULL should be a
    # real group.
    kept_items, drops, cat_agg, shared = _krippendorff_unit_state(
        df, item_col, category_col, keyed, mr, metric
    )
    m_d = F.col("__m").cast("decimal(38,0)")
    # LCM div (m−1): exact — (m−1) ≤ max_raters−1 divides LCM by
    # construction; integral `div` keeps it in exact integer land
    wu = F.expr(f"CAST({lcm} AS BIGINT) div (__m - 1)")
    du = _krippendorff_du(metric)
    u_agg = kept_items.groupBy(*keyed).agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.coalesce(F.sum(m_d), F.lit(0)).cast("long").alias("n_ratings"),
        F.coalesce(
            F.sum((du * wu).cast("decimal(38,0)")),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("__u"),
    )
    j = lambda a, b: _join_groups(a, b, keyed, "left")  # noqa: E731
    out = j(j(drops, u_agg), cat_agg)
    n_d = F.coalesce(F.col("n_ratings"), F.lit(0)).cast("decimal(38,0)")
    u = F.coalesce(F.col("__u"), F.lit(0).cast("decimal(38,0)"))
    zero_d = F.lit(0).cast("decimal(38,0)")
    if metric in ("interval", "ordinal"):
        t1 = F.coalesce(F.col("__t1"), zero_d)
        t2 = F.coalesce(F.col("__t2"), zero_d)
        de_core = n_d * t2 - t1 * t1
    else:
        de_core = n_d * n_d - F.coalesce(F.col("__c2"), zero_d)
    de = (de_core * lcm).cast("decimal(38,0)")
    num = (de - (n_d - 1) * u).cast("decimal(38,0)")
    # ONE materialization of the group-grain result; finalize defers
    # to the enclosing query's scope
    return finalize(
        out.select(
            *keyed,
            F.coalesce(F.col("n_ratings"), F.lit(0))
            .cast("long")
            .alias("n_ratings"),
            F.coalesce(F.col("n_units"), F.lit(0)).cast("long").alias("n_units"),
            "n_units_single",
            "n_units_overflow",
            F.coalesce(F.col("n_categories"), F.lit(0))
            .cast("long")
            .alias("n_categories"),
            num.alias("alpha_num"),
            de.alias("alpha_den"),
            F.when(
                de != 0, num.cast("double") / de.cast("double")
            ).alias("alpha"),
        ),
        *shared,
    )


def krippendorff_disagreement_explain(
    df: DataFrame,
    item_col: str,
    category_col: str,
    keys: Sequence[str] = (),
    max_raters: int = 16,
    metric: str = "nominal",
) -> DataFrame:
    """Per-UNIT disagreement drill-down for
    :func:`krippendorff_alpha` — the rows an annotation dashboard
    opens when α dips and someone asks WHICH units the raters fight
    over (re-adjudication queues, guideline revision, rater-drift
    triage all start from this list): one row per KEPT unit (same
    m ≥ 2 / m ≤ max_raters drop filter as the scalar, same NULL
    conventions) carrying the exact integer disagreement mass that
    unit contributes to α's observed-disagreement numerator.

    Columns: ``unit``, ``n_ratings`` (m_u), ``n_categories_unit``
    (distinct categories voted on the unit), ``du_num`` — the
    LCM-cleared weighted mass ``D_u·(LCM div (m_u−1))``
    (DECIMAL(38,0); serialize as string in gate queries) — and
    ``disagreement = D_u/(m_u·(m_u−1))``, one IEEE division of exact
    integers: for ``metric="nominal"`` the fraction of rating pairs
    on the unit that disagree (0 = unanimous, 1 = every pair
    differs); for interval/ordinal half the mean squared pairwise
    value distance (the ½ cancels inside α; kept here so
    ``disagreement`` stays the per-pair average of the same ``D_u``
    the scalar sums).

    The drill-down contract (pinned in tests): per group,
    ``LCM·DE − (n−1)·Σ du_num == alpha_num`` of
    :func:`krippendorff_alpha` — these rows ARE the scalar's
    observed-disagreement side, disaggregated, never a parallel
    approximation that can disagree with the alert (the
    :func:`distribution_drift_explain` idiom applied to the
    agreement suite). Ordinal rows additionally depend on the GLOBAL
    kept-unit marginals through the e-transform — a unit's ordinal
    ``du_num`` can change when OTHER units' votes move, which is
    faithful to the metric, not a bug.

    Scale shape: the scalar's cells→items prefix, stopping before
    the final aggregate — output grain = kept units. Sort consumers
    by ``disagreement`` DESC (ties: unit) for the re-adjudication
    queue."""
    import math

    if metric not in ("nominal", "interval", "ordinal"):
        raise ValueError(
            "metric must be 'nominal', 'interval' or 'ordinal', "
            f"got {metric!r}"
        )
    if not 3 <= max_raters <= 42:
        raise ValueError(
            f"max_raters must be in 3..42 (lcm(1..max_raters-1) must "
            f"fit BIGINT), got {max_raters}"
        )
    mr = int(max_raters)
    lcm = math.lcm(*range(1, mr))
    keyed = list(keys)
    kept_items, _drops, _cat_agg, shared = _krippendorff_unit_state(
        df, item_col, category_col, keyed, mr, metric
    )
    wu = F.expr(f"CAST({lcm} AS BIGINT) div (__m - 1)")
    du = _krippendorff_du(metric)
    m_d = F.col("__m").cast("decimal(38,0)")
    pairs = (m_d * (m_d - 1)).cast("decimal(38,0)")
    # ONE materialization of the kept-unit-grain result (the same
    # linear grain kept_items itself holds); finalize defers to the
    # enclosing query's scope
    return finalize(
        kept_items.select(
            *keyed,
            F.col("__i").alias("unit"),
            F.col("__m").cast("long").alias("n_ratings"),
            F.col("__kc").cast("long").alias("n_categories_unit"),
            (du * wu).cast("decimal(38,0)").alias("du_num"),
            (du.cast("double") / pairs.cast("double")).alias("disagreement"),
        ),
        *shared,
    )


def krippendorff_explain_sql(
    item_sql: str,
    category_sql: str,
    table: str,
    keys: Sequence[str] = (),
    max_raters: int = 16,
    metric: str = "nominal",
) -> str:
    """DuckDB twin of :func:`krippendorff_disagreement_explain` —
    same cells→kept-units prefix as :func:`krippendorff_alpha_sql`,
    same LCM-cleared per-unit mass; ``du_num`` serializes as
    VARCHAR."""
    import math

    if metric not in ("nominal", "interval", "ordinal"):
        raise ValueError(
            "metric must be 'nominal', 'interval' or 'ordinal', "
            f"got {metric!r}"
        )
    if not 3 <= max_raters <= 42:
        raise ValueError(
            f"max_raters must be in 3..42, got {max_raters}"
        )
    mr = int(max_raters)
    lcm = math.lcm(*range(1, mr))
    keyed = list(keys)
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    kgrp_ic = f"{kcols}, i, c" if keyed else "i, c"
    kgrp_i = f"{kcols}, i" if keyed else "i"
    key_nn = "".join(f" AND ({c}) IS NOT NULL" for c in keyed)
    select_unit = f"""
    SELECT {kpre}i AS unit, m AS n_ratings, kc AS n_categories_unit,
           CAST({{du}} * ({lcm}::HUGEINT // (m - 1)) AS VARCHAR) AS du_num,
           CAST({{du}} AS DOUBLE)
             / CAST(m::HUGEINT * (m - 1) AS DOUBLE) AS disagreement
    FROM kept
    """
    if metric == "ordinal":
        kgrp_iclv = f"{kcols}, i, clv" if keyed else "i, clv"
        kgrp_c = f"{kcols}, clv" if keyed else "clv"
        using_i = f"USING ({kpre}i)" if keyed else "USING (i)"
        using_c = f"USING ({kpre}clv)" if keyed else "USING (clv)"
        part = f"PARTITION BY {kcols}" if keyed else "PARTITION BY 1"
        return f"""
    WITH cells AS (
      SELECT {kpre}{item_sql} AS i, CAST({category_sql} AS BIGINT) AS clv,
             CAST(count(*) AS BIGINT) AS nuc
      FROM {table}
      WHERE ({item_sql}) IS NOT NULL AND ({category_sql}) IS NOT NULL
        {key_nn}
      GROUP BY {kgrp_iclv}
    ),
    items_m AS (
      SELECT {kpre}i, CAST(sum(nuc) AS BIGINT) AS m
      FROM cells GROUP BY {kgrp_i}
    ),
    kept_cells AS (
      SELECT c.* FROM cells c
      SEMI JOIN (SELECT {kpre}i FROM items_m
                 WHERE m >= 2 AND m <= {mr}) t {using_i}
    ),
    cats AS (
      SELECT {kpre}clv, sum(nuc)::HUGEINT AS nc
      FROM kept_cells GROUP BY {kgrp_c}
    ),
    cats_e AS (
      SELECT {kpre}clv, nc,
             2 * sum(nc) OVER ({part} ORDER BY clv) - nc AS e
      FROM cats
    ),
    cell_e AS (
      SELECT {kpre}i, nuc, e
      FROM kept_cells JOIN cats_e {using_c}
    ),
    kept AS (
      SELECT {kpre}i, CAST(sum(nuc) AS BIGINT) AS m,
             CAST(count(*) AS BIGINT) AS kc,
             sum(nuc::HUGEINT * e) AS s1,
             sum(nuc::HUGEINT * e * e) AS s2
      FROM cell_e GROUP BY {kgrp_i}
    )
    {select_unit.format(du="(m::HUGEINT * s2 - s1 * s1)")}
    """
    if metric == "interval":
        item_moments = (
            "sum(nuc::HUGEINT * CAST(c AS BIGINT)) AS s1,\n"
            "             sum(nuc::HUGEINT * CAST(c AS BIGINT)"
            " * CAST(c AS BIGINT)) AS s2"
        )
        du_sql = "(m::HUGEINT * s2 - s1 * s1)"
    else:
        item_moments = "sum(nuc::HUGEINT * nuc) AS ss"
        du_sql = "(m::HUGEINT * m - ss)"
    return f"""
    WITH cells AS (
      SELECT {kpre}{item_sql} AS i, {category_sql} AS c,
             CAST(count(*) AS BIGINT) AS nuc
      FROM {table}
      WHERE ({item_sql}) IS NOT NULL AND ({category_sql}) IS NOT NULL
        {key_nn}
      GROUP BY {kgrp_ic}
    ),
    items AS (
      SELECT {kpre}i, CAST(sum(nuc) AS BIGINT) AS m,
             CAST(count(*) AS BIGINT) AS kc,
             {item_moments}
      FROM cells GROUP BY {kgrp_i}
    ),
    kept AS (
      SELECT * FROM items WHERE m >= 2 AND m <= {mr}
    )
    {select_unit.format(du=du_sql)}
    """


def krippendorff_alpha_sql(
    item_sql: str,
    category_sql: str,
    table: str,
    keys: Sequence[str] = (),
    max_raters: int = 16,
    metric: str = "nominal",
) -> str:
    """DuckDB twin of :func:`krippendorff_alpha` — same cell/item
    grain, same LCM-cleared integer algebra (nominal sum-of-squares,
    interval moment form, or ordinal moment form over the
    cumulative-marginal transform e_c = 2·cum_c − n_c);
    ``alpha_num``/``alpha_den`` serialize as VARCHAR."""
    import math

    if metric not in ("nominal", "interval", "ordinal"):
        raise ValueError(
            "metric must be 'nominal', 'interval' or 'ordinal', "
            f"got {metric!r}"
        )
    if not 3 <= max_raters <= 42:
        raise ValueError(
            f"max_raters must be in 3..42, got {max_raters}"
        )
    mr = int(max_raters)
    lcm = math.lcm(*range(1, mr))
    keyed = list(keys)
    if metric == "ordinal":
        return _krippendorff_ordinal_sql(
            item_sql, category_sql, table, keyed, mr, lcm
        )
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    grp = f"GROUP BY {kcols}" if keyed else ""
    kgrp_ic = f"{kcols}, i, c" if keyed else "i, c"
    kgrp_i = f"{kcols}, i" if keyed else "i"
    kgrp_c = f"{kcols}, c" if keyed else "c"
    using_i = f"USING ({kpre}i)" if keyed else "USING (i)"
    join_k = f"USING ({kcols})" if keyed else "ON 1 = 1"
    dkpre = ", ".join(f"d.{c}" for c in keyed) + (", " if keyed else "")
    key_nn = "".join(f" AND ({c}) IS NOT NULL" for c in keyed)
    if metric == "interval":
        item_moments = (
            "sum(nuc::HUGEINT * CAST(c AS BIGINT)) AS s1,\n"
            "             sum(nuc::HUGEINT * CAST(c AS BIGINT)"
            " * CAST(c AS BIGINT)) AS s2"
        )
        du_sql = "(m::HUGEINT * s2 - s1 * s1)"
        cat_moments = (
            "coalesce(sum(nc * CAST(c AS BIGINT)), 0) AS t1,\n"
            "             coalesce(sum(nc * CAST(c AS BIGINT)"
            " * CAST(c AS BIGINT)), 0) AS t2"
        )
        de_core = (
            "(coalesce(u_agg.n_ratings, 0)::HUGEINT"
            " * coalesce(cat_agg.t2, 0)\n"
            "              - coalesce(cat_agg.t1, 0)"
            " * coalesce(cat_agg.t1, 0))"
        )
    else:
        item_moments = "sum(nuc::HUGEINT * nuc) AS ss"
        du_sql = "(m::HUGEINT * m - ss)"
        cat_moments = "coalesce(sum(nc * nc), 0) AS c2"
        de_core = (
            "(coalesce(u_agg.n_ratings, 0)::HUGEINT\n"
            "                * coalesce(u_agg.n_ratings, 0)\n"
            "              - coalesce(cat_agg.c2, 0))"
        )
    return f"""
    WITH cells AS (
      SELECT {kpre}{item_sql} AS i, {category_sql} AS c,
             CAST(count(*) AS BIGINT) AS nuc
      FROM {table}
      WHERE ({item_sql}) IS NOT NULL AND ({category_sql}) IS NOT NULL
        {key_nn}
      GROUP BY {kgrp_ic}
    ),
    items AS (
      SELECT {kpre}i, CAST(sum(nuc) AS BIGINT) AS m,
             {item_moments}
      FROM cells GROUP BY {kgrp_i}
    ),
    drops AS (
      SELECT {kpre}
             CAST(coalesce(sum(CASE WHEN m < 2 THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_units_single,
             CAST(coalesce(sum(CASE WHEN m > {mr} THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_units_overflow
      FROM items {grp}
    ),
    kept AS (
      SELECT * FROM items WHERE m >= 2 AND m <= {mr}
    ),
    u_agg AS (
      SELECT {kpre}
             CAST(count(*) AS BIGINT) AS n_units,
             CAST(coalesce(sum(m), 0) AS BIGINT) AS n_ratings,
             coalesce(sum({du_sql}
                          * ({lcm}::HUGEINT // (m - 1))), 0) AS u
      FROM kept {grp}
    ),
    kept_cells AS (
      SELECT c.* FROM cells c
      SEMI JOIN (SELECT {kpre}i FROM kept) t {using_i}
    ),
    cats AS (
      SELECT {kpre}c, sum(nuc)::HUGEINT AS nc
      FROM kept_cells GROUP BY {kgrp_c}
    ),
    cat_agg AS (
      SELECT {kpre}
             CAST(count(*) AS BIGINT) AS n_categories,
             {cat_moments}
      FROM cats {grp}
    ),
    terms AS (
      SELECT {dkpre}
             coalesce(u_agg.n_ratings, 0) AS n_ratings,
             coalesce(u_agg.n_units, 0) AS n_units,
             d.n_units_single, d.n_units_overflow,
             coalesce(cat_agg.n_categories, 0) AS n_categories,
             {de_core} * {lcm} AS de,
             (coalesce(u_agg.n_ratings, 0)::HUGEINT - 1)
               * coalesce(u_agg.u, 0) AS nu
      FROM drops d
      LEFT JOIN u_agg {join_k}
      LEFT JOIN cat_agg {join_k}
    )
    SELECT {kpre}n_ratings, n_units, n_units_single, n_units_overflow,
           n_categories,
           CAST(de - nu AS VARCHAR) AS alpha_num,
           CAST(de AS VARCHAR) AS alpha_den,
           CASE WHEN de <> 0 THEN
             CAST(de - nu AS DOUBLE) / CAST(de AS DOUBLE)
           END AS alpha
    FROM terms
    """


def _krippendorff_ordinal_sql(
    item_sql: str,
    category_sql: str,
    table: str,
    keyed: list,
    mr: int,
    lcm: int,
) -> str:
    """The ordinal-metric body of :func:`krippendorff_alpha_sql`:
    the drop filter runs BEFORE the moments (the distance depends on
    the kept-unit marginals), categories live at their BIGINT value,
    ``e = 2·cum − n_c`` comes from one cumulative window at category
    grain, and the per-unit/marginal masses are the interval moment
    form over e."""
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    grp = f"GROUP BY {kcols}" if keyed else ""
    kgrp_ic = f"{kcols}, i, clv" if keyed else "i, clv"
    kgrp_i = f"{kcols}, i" if keyed else "i"
    kgrp_c = f"{kcols}, clv" if keyed else "clv"
    using_i = f"USING ({kpre}i)" if keyed else "USING (i)"
    using_c = f"USING ({kpre}clv)" if keyed else "USING (clv)"
    join_k = f"USING ({kcols})" if keyed else "ON 1 = 1"
    part = f"PARTITION BY {kcols}" if keyed else "PARTITION BY 1"
    dkpre = ", ".join(f"d.{c}" for c in keyed) + (", " if keyed else "")
    key_nn = "".join(f" AND ({c}) IS NOT NULL" for c in keyed)
    return f"""
    WITH cells AS (
      SELECT {kpre}{item_sql} AS i, CAST({category_sql} AS BIGINT) AS clv,
             CAST(count(*) AS BIGINT) AS nuc
      FROM {table}
      WHERE ({item_sql}) IS NOT NULL AND ({category_sql}) IS NOT NULL
        {key_nn}
      GROUP BY {kgrp_ic}
    ),
    items_m AS (
      SELECT {kpre}i, CAST(sum(nuc) AS BIGINT) AS m
      FROM cells GROUP BY {kgrp_i}
    ),
    drops AS (
      SELECT {kpre}
             CAST(coalesce(sum(CASE WHEN m < 2 THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_units_single,
             CAST(coalesce(sum(CASE WHEN m > {mr} THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_units_overflow
      FROM items_m {grp}
    ),
    kept_cells AS (
      SELECT c.* FROM cells c
      SEMI JOIN (SELECT {kpre}i FROM items_m
                 WHERE m >= 2 AND m <= {mr}) t {using_i}
    ),
    cats AS (
      SELECT {kpre}clv, sum(nuc)::HUGEINT AS nc
      FROM kept_cells GROUP BY {kgrp_c}
    ),
    cats_e AS (
      SELECT {kpre}clv, nc,
             2 * sum(nc) OVER ({part} ORDER BY clv) - nc AS e
      FROM cats
    ),
    cell_e AS (
      SELECT {kpre}i, nuc, e
      FROM kept_cells JOIN cats_e {using_c}
    ),
    kept AS (
      SELECT {kpre}i, CAST(sum(nuc) AS BIGINT) AS m,
             sum(nuc::HUGEINT * e) AS s1,
             sum(nuc::HUGEINT * e * e) AS s2
      FROM cell_e GROUP BY {kgrp_i}
    ),
    u_agg AS (
      SELECT {kpre}
             CAST(count(*) AS BIGINT) AS n_units,
             CAST(coalesce(sum(m), 0) AS BIGINT) AS n_ratings,
             coalesce(sum((m::HUGEINT * s2 - s1 * s1)
                          * ({lcm}::HUGEINT // (m - 1))), 0) AS u
      FROM kept {grp}
    ),
    cat_agg AS (
      SELECT {kpre}
             CAST(count(*) AS BIGINT) AS n_categories,
             coalesce(sum(nc * e), 0) AS t1,
             coalesce(sum(nc * e * e), 0) AS t2
      FROM cats_e {grp}
    ),
    terms AS (
      SELECT {dkpre}
             coalesce(u_agg.n_ratings, 0) AS n_ratings,
             coalesce(u_agg.n_units, 0) AS n_units,
             d.n_units_single, d.n_units_overflow,
             coalesce(cat_agg.n_categories, 0) AS n_categories,
             (coalesce(u_agg.n_ratings, 0)::HUGEINT
                * coalesce(cat_agg.t2, 0)
              - coalesce(cat_agg.t1, 0)
                * coalesce(cat_agg.t1, 0)) * {lcm} AS de,
             (coalesce(u_agg.n_ratings, 0)::HUGEINT - 1)
               * coalesce(u_agg.u, 0) AS nu
      FROM drops d
      LEFT JOIN u_agg {join_k}
      LEFT JOIN cat_agg {join_k}
    )
    SELECT {kpre}n_ratings, n_units, n_units_single, n_units_overflow,
           n_categories,
           CAST(de - nu AS VARCHAR) AS alpha_num,
           CAST(de AS VARCHAR) AS alpha_den,
           CASE WHEN de <> 0 THEN
             CAST(de - nu AS DOUBLE) / CAST(de AS DOUBLE)
           END AS alpha
    FROM terms
    """


def cohens_kappa_from_cells_sql(
    cells_sql: str,
    actual_col: str = "actual",
    predicted_col: str = "predicted",
    n_col: str = "n",
    keys: Sequence[str] = (),
) -> str:
    """DuckDB twin of :func:`cohens_kappa` over cells (``n`` given) —
    the oracle for MAINTAINED cell stores (``streaming/sketches.py``): ``cells_sql``
    is a FROM-able fragment exposing (actual, predicted, count) rows,
    possibly with duplicates (per-batch deltas) — they re-aggregate
    exactly as the Spark store read does, then the
    :func:`cohens_kappa_sql` algebra runs over the summed cells."""
    keyed = list(keys)
    kcols = ", ".join(keyed)
    kpre = f"{kcols}, " if keyed else ""
    grp = f"GROUP BY {kcols}" if keyed else ""
    kgrp_ab = f"{kcols}, a, b" if keyed else "a, b"
    kgrp_a = f"{kcols}, a" if keyed else "a"
    kgrp_b = f"{kcols}, b" if keyed else "b"
    using = f"USING ({kpre}l)" if keyed else "USING (l)"
    join_keys = f"USING ({kcols})" if keyed else "ON 1 = 1"
    key_nn = "".join(f" AND ({c}) IS NOT NULL" for c in keyed)
    return f"""
    WITH cells AS (
      SELECT {kpre}{actual_col} AS a, {predicted_col} AS b,
             CAST(sum({n_col}) AS BIGINT) AS cnt
      FROM {cells_sql}
      WHERE ({actual_col}) IS NOT NULL AND ({predicted_col}) IS NOT NULL
        {key_nn}
      GROUP BY {kgrp_ab}
    ),
    by_a AS (
      SELECT {kpre}a AS l, CAST(sum(cnt) AS BIGINT) AS r
      FROM cells GROUP BY {kgrp_a}
    ),
    by_b AS (
      SELECT {kpre}b AS l, CAST(sum(cnt) AS BIGINT) AS c
      FROM cells GROUP BY {kgrp_b}
    ),
    marg AS (
      SELECT {kpre}coalesce(r, 0)::HUGEINT AS r,
             coalesce(c, 0)::HUGEINT AS c
      FROM by_a FULL OUTER JOIN by_b {using}
    ),
    pe AS (
      SELECT {kpre}coalesce(sum(r * c), 0) AS pe_sum,
             CAST(count(*) AS BIGINT) AS n_labels
      FROM marg {grp}
    ),
    po AS (
      SELECT {kpre}
             CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n,
             CAST(coalesce(sum(CASE WHEN a = b THEN cnt ELSE 0 END), 0)
                  AS BIGINT) AS agree
      FROM cells {grp}
    )
    SELECT {', '.join('po.' + c for c in keyed) + ', ' if keyed else ''}
           po.n, pe.n_labels,
           CAST(po.n::HUGEINT * po.agree - pe.pe_sum AS VARCHAR)
             AS kappa_num,
           CAST(po.n::HUGEINT * po.n - pe.pe_sum AS VARCHAR)
             AS kappa_den,
           CASE WHEN po.n::HUGEINT * po.n - pe.pe_sum <> 0 THEN
             CAST(po.n::HUGEINT * po.agree - pe.pe_sum AS DOUBLE)
               / CAST(po.n::HUGEINT * po.n - pe.pe_sum AS DOUBLE)
           END AS kappa
    FROM po JOIN pe {join_keys}
    """
