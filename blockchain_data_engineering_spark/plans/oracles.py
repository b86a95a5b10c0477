"""DuckDB oracle twins of the model-evaluation (``operators/ml_eval.py``)
and distribution-drift (``operators/dq.py``) statistics.

Each builder returns the SQL a registered query's oracle runs: the
same grain, the same NULL exclusion and the same exact integer algebra
as its Spark twin, with the DECIMAL(38,0) columns serialized as
VARCHAR (the netflow_decimal recipe: both engines print integers
identically and the string survives the driver's pandas round-trip).
The Spark side of a gate query casts its decimals to string too.

The builders share their fragments: ``_Keys`` (the group-key preamble
every keyed builder splices in), ``_per_score`` (the distinct-score
aggregate of the threshold sweep), ``_running``/``_whole`` (its
descending window sums), ``_cells`` (the confusion-cell aggregate)
and ``_values`` (a literal quanta table as a VALUES list). Every
emitted string is byte-identical to the one its Spark twin was first
verified against; ``tools/contract.py`` hashes them.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from blockchain_data_engineering_spark.operators.dq import (
    _PSI_GRID_MAX,
    _PSI_LN_SCALE,
    psi_ln_table,
)
from blockchain_data_engineering_spark.operators.ml_eval import (
    _AP_SCALE,
    _LOG_LOSS_SCALE,
    log_loss_table,
    rbo_weights,
)


class _Keys:
    """The group-key fragments a keyed oracle splices into its SQL;
    with no keys each is empty or its keyless spelling."""

    def __init__(self, keys: Sequence[str]) -> None:
        self.keys = list(keys)
        self.cols = ", ".join(self.keys)
        self.pre = f"{self.cols}, " if self.keys else ""
        self.grp = f"GROUP BY {self.cols}" if self.keys else ""
        self.nn = "".join(f" AND ({c}) IS NOT NULL" for c in self.keys)
        self.part = f"PARTITION BY {self.cols}" if self.keys else "PARTITION BY 1"
        # the head of an ordered window: ``OVER ({over}ORDER BY …)``
        self.over = f"PARTITION BY {self.cols} " if self.keys else ""
        self.join = f"USING ({self.cols})" if self.keys else "ON 1 = 1"

    def by(self, *cols: str) -> str:
        """``keys…, cols…`` — a GROUP BY list."""
        return ", ".join([*self.keys, *cols])

    def of(self, alias: str) -> str:
        """``alias.key, …, `` — the keys qualified by a relation."""
        return "".join(f"{alias}.{c}, " for c in self.keys)

    def grp_of(self, alias: str) -> str:
        """``GROUP BY alias.key, …`` (empty without keys)."""
        if not self.keys:
            return ""
        return "GROUP BY " + ", ".join(f"{alias}.{c}" for c in self.keys)


_GLOBAL = _Keys(())

# The column names of a confusion-cell store (``ml_eval.confusion_cells``).
_ACTUAL, _PREDICTED, _N = "actual", "predicted", "n"

# The separator before the key NULL filter of a cell aggregate: most
# builders put it on its own line.
_NL = "\n        "


def _values(tab: list[int]) -> str:
    """A literal integer table as ``(1, t1::BIGINT), (2, t2::BIGINT), …``."""
    return ", ".join(f"({i + 1}, {t}::BIGINT)" for i, t in enumerate(tab))


def _ln_head(tab: list[int]) -> str:
    """The ``ln_tab(i, lnv)`` CTE of a literal ln-quanta table."""
    return f"ln_tab AS (SELECT * FROM (VALUES {_values(tab)}) AS t(i, lnv))"


def _per_score(k: _Keys, label_sql: str, score_sql: str, table: str) -> str:
    """The ``per_score`` CTE: the facts collapsed to distinct-score
    grain with positive/negative counts (``_per_score_counts``)."""
    return f"""per_score AS (
      SELECT {k.pre}{score_sql} AS s,
             sum(CASE WHEN {label_sql} THEN 1 ELSE 0 END) AS np,
             sum(CASE WHEN {label_sql} THEN 0 ELSE 1 END) AS nn
      FROM {table}
      WHERE ({label_sql}) IS NOT NULL AND ({score_sql}) IS NOT NULL
      GROUP BY {k.pre}s
    )"""


def _running(k: _Keys, expr: str, name: str) -> str:
    """``sum(expr)`` over the scores descending, up to this one."""
    return (
        f"CAST(sum({expr}) OVER ({k.over}ORDER BY s DESC\n"
        "               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)\n"
        f"               AS BIGINT) AS {name}"
    )


def _whole(k: _Keys, expr: str, name: str) -> str:
    """``sum(expr)`` over the whole group."""
    return f"CAST(sum({expr}) OVER ({k.part})\n               AS BIGINT) AS {name}"


def _cells(
    k: _Keys,
    a_sql: str,
    b_sql: str,
    count: str,
    source: str,
    names: tuple[str, str, str] = ("a", "p", "n"),
    sep: str = _NL,
) -> str:
    """The ``cells`` CTE: (keys…, a, b, count) with NULL labels and
    NULL keys dropped (``ml_eval.confusion_cells``)."""
    a, b, n = names
    return f"""cells AS (
      SELECT {k.pre}{a_sql} AS {a}, {b_sql} AS {b},
             {count} AS {n}
      FROM {source}
      WHERE ({a_sql}) IS NOT NULL AND ({b_sql}) IS NOT NULL{sep}{k.nn}
      GROUP BY {k.by(a, b)}
    )"""


# ---------------------------------------------------------------------------
# The threshold sweep: auc_exact, pr_curve, average_precision,
# cumulative_gain.
# ---------------------------------------------------------------------------


def auc_exact_sql(
    label_sql: str,
    score_sql: str,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """Twin of ``ml_eval.auc_exact`` — the same
    doubled-rank algebra over HUGEINT intermediates; ``auc_num``/
    ``auc_den`` serialize as VARCHAR."""
    k = _Keys(keys)
    return f"""
    WITH {_per_score(k, label_sql, score_sql, table)},
    ranked AS (
      SELECT {k.pre}np, nn,
             coalesce(sum(np + nn) OVER ({k.over}ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM per_score
    ),
    totals AS (
      SELECT {k.pre}
             CAST(sum(np) AS BIGINT) AS n_pos,
             CAST(sum(nn) AS BIGINT) AS n_neg,
             sum(CAST(np AS HUGEINT) * (2 * cb + np + nn + 1))
               AS rank2_sum
      FROM ranked {k.grp}
    )
    SELECT {k.pre}n_pos, n_neg,
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


def pr_curve_sql(
    label_sql: str,
    score_sql: str,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """Twin of ``ml_eval.pr_curve`` — the same
    distinct-score sweep and column names."""
    k = _Keys(keys)
    return f"""
    WITH {_per_score(k, label_sql, score_sql, table)},
    swept AS (
      SELECT {k.pre}s AS threshold,
             {_running(k, "np", "tp")},
             {_running(k, "nn", "fp")},
             {_whole(k, "np", "n_pos")}
      FROM per_score
    )
    SELECT {k.pre}threshold, tp, fp,
           CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
           CASE WHEN n_pos > 0
                THEN CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE)
           END AS recall
    FROM swept
    """


def average_precision_sql(
    label_sql: str,
    score_sql: str,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """Twin of ``ml_eval.average_precision`` — the
    same quantized-term algebra (HUGEINT product, ``//`` floor
    quotient); ``ap_num`` serializes as VARCHAR."""
    k = _Keys(keys)
    return f"""
    WITH {_per_score(k, label_sql, score_sql, table)},
    swept AS (
      SELECT {k.pre}np,
             {_running(k, "np", "tp")},
             {_running(k, "nn", "fp")}
      FROM per_score
    ),
    totals AS (
      -- coalesce: the GLOBAL aggregate over an empty/filtered-out
      -- input emits 0s, never NULLs (matches the Spark twin)
      SELECT {k.pre}
             CAST(coalesce(sum(np), 0) AS BIGINT) AS n_pos,
             CAST(count(*) AS BIGINT) AS n_thresholds,
             coalesce(sum((CAST(np AS HUGEINT) * tp * {_AP_SCALE})
                          // (tp + fp)), 0)
               AS ap_num
      FROM swept {k.grp}
    )
    SELECT {k.pre}n_pos, n_thresholds,
           CAST(ap_num AS VARCHAR) AS ap_num,
           CASE WHEN n_pos > 0 THEN
             CAST(ap_num AS DOUBLE)
               / CAST(CAST(n_pos AS HUGEINT) * {_AP_SCALE} AS DOUBLE)
           END AS ap
    FROM totals
    """


def cumulative_gain_sql(
    label_sql: str,
    score_sql: str,
    table: str,
    n_buckets: int = 10,
    keys: Sequence[str] = (),
) -> str:
    """Twin of ``ml_eval.cumulative_gain`` — the same
    sweep and integer bucket inversion (``generate_series`` unnest for
    Spark's ``explode(sequence(...))``)."""
    k = _Keys(keys)
    nb = int(n_buckets)
    return f"""
    WITH {_per_score(k, label_sql, score_sql, table)},
    counted AS (
      SELECT {k.pre}
             {_running(k, "np + nn", "cum")},
             {_running(k, "np", "tp")},
             CAST(np + nn AS BIGINT) AS rows_here,
             {_whole(k, "np + nn", "n")},
             {_whole(k, "np", "npos")}
      FROM per_score
    ),
    exploded AS (
      -- the bucket quotients are ≤ n_buckets, so the HUGEINT floors
      -- cast back to the BIGINT generate_series overload losslessly
      SELECT {k.pre}
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
    SELECT {k.pre}
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


# ---------------------------------------------------------------------------
# The confusion-cell agreement suite.
# ---------------------------------------------------------------------------


def multiclass_macro_f1_from_cells_sql(cells_sql: str) -> str:
    """Twin of ``ml_eval.multiclass_macro_f1`` over a
    cell store: ``cells_sql`` is a FROM-able fragment of (actual,
    predicted, n) rows, possibly with duplicates (per-batch deltas)
    that re-aggregate exactly as the Spark store read does; facts read
    as cells with ``n = 1``."""
    k = _GLOBAL
    return f"""
    WITH {_cells(k, _ACTUAL, _PREDICTED, f"CAST(sum({_N}) AS BIGINT)", cells_sql)},
    by_actual AS (
      SELECT {k.pre}a, CAST(sum(n) AS BIGINT) AS support,
             CAST(sum(CASE WHEN a = p THEN n ELSE 0 END) AS BIGINT) AS tp
      FROM cells GROUP BY {k.by("a")}
    ),
    by_pred AS (
      SELECT {k.pre}p, CAST(sum(n) AS BIGINT) AS pred_total
      FROM cells GROUP BY {k.by("p")}
    ),
    per_class AS (
      SELECT {k.of("ba")}ba.support, ba.tp,
             coalesce(bp.pred_total, 0) AS pred_total
      FROM by_actual ba LEFT JOIN by_pred bp ON ba.a = bp.p
    ),
    totals AS (
      SELECT {k.pre}
             CAST(coalesce(sum(support), 0) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_classes,
             CAST(coalesce(sum(tp), 0) AS BIGINT) AS tp_sum,
             coalesce(sum((2 * CAST(tp AS HUGEINT) * {_AP_SCALE})
                 // (support + pred_total)), 0) AS macro_f1_num
      FROM per_class {k.grp}
    )
    SELECT {k.pre}n, n_classes,
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


def multiclass_class_report_sql(
    actual_sql: str, predicted_sql: str, table: str
) -> str:
    """Twin of ``ml_eval.multiclass_class_report`` —
    the same per-class integer algebra; ``f1_num`` serializes as
    VARCHAR."""
    k = _GLOBAL
    return f"""
    WITH {_cells(k, actual_sql, predicted_sql, "count(*)", table)},
    by_actual AS (
      SELECT {k.pre}a, CAST(sum(n) AS BIGINT) AS support,
             CAST(sum(CASE WHEN a = p THEN n ELSE 0 END) AS BIGINT) AS tp
      FROM cells GROUP BY {k.by("a")}
    ),
    by_pred AS (
      SELECT {k.pre}p, CAST(sum(n) AS BIGINT) AS pred_total
      FROM cells GROUP BY {k.by("p")}
    ),
    per_class AS (
      SELECT {k.of("ba")}ba.a AS class, ba.support, ba.tp,
             coalesce(bp.pred_total, 0) AS pred_total
      FROM by_actual ba LEFT JOIN by_pred bp ON ba.a = bp.p
    )
    SELECT {k.pre}class, support, tp,
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


def _adjusted_rand(k: _Keys, cells: str) -> str:
    """The ARI body over a ``cells`` CTE of (keys…, a, p, n)."""
    p2 = lambda c: f"(({c}::HUGEINT * ({c} - 1)) // 2)"  # noqa: E731
    return f"""
    WITH {cells},
    by_a AS (
      SELECT {k.pre}a, CAST(sum(n) AS BIGINT) AS m
      FROM cells GROUP BY {k.by("a")}
    ),
    by_p AS (
      SELECT {k.pre}p, CAST(sum(n) AS BIGINT) AS m
      FROM cells GROUP BY {k.by("p")}
    ),
    tagged AS (
      SELECT {k.pre}n AS tn, {p2('n')} AS ts,
             NULL::HUGEINT AS ta, NULL::HUGEINT AS tb,
             0 AS ca, 0 AS cp
      FROM cells
      UNION ALL
      SELECT {k.pre}NULL, NULL, {p2('m')}, NULL, 1, 0 FROM by_a
      UNION ALL
      SELECT {k.pre}NULL, NULL, NULL, {p2('m')}, 0, 1 FROM by_p
    ),
    agg AS (
      SELECT {k.pre}
             CAST(coalesce(sum(tn), 0) AS BIGINT) AS n,
             CAST(coalesce(sum(ca), 0) AS BIGINT) AS n_classes_actual,
             CAST(coalesce(sum(cp), 0) AS BIGINT) AS n_classes_predicted,
             coalesce(sum(ts), 0) AS s,
             coalesce(sum(ta), 0) AS aa,
             coalesce(sum(tb), 0) AS bb
      FROM tagged {k.grp}
    ),
    terms AS (
      SELECT {k.pre}n, n_classes_actual, n_classes_predicted, s, aa, bb,
             {p2('n')} AS t
      FROM agg
    )
    SELECT {k.pre}n, n_classes_actual, n_classes_predicted,
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


def adjusted_rand_sql(
    actual_sql: str,
    predicted_sql: str,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """Twin of ``ml_eval.adjusted_rand_index`` over
    facts — the same cleared-binomial integers; ``ari_num``/``ari_den``
    serialize as VARCHAR."""
    k = _Keys(keys)
    count = "CAST(count(*) AS BIGINT)"
    return _adjusted_rand(
        k, _cells(k, actual_sql, predicted_sql, count, table, sep="")
    )


def adjusted_rand_from_cells_sql(
    cells_sql: str, keys: Sequence[str] = ()
) -> str:
    """Twin of ``ml_eval.adjusted_rand_index`` over a
    cell store (see :func:`multiclass_macro_f1_from_cells_sql`)."""
    k = _Keys(keys)
    count = f"CAST(sum({_N}) AS BIGINT)"
    return _adjusted_rand(k, _cells(k, _ACTUAL, _PREDICTED, count, cells_sql))


def label_mi_sql(
    actual_sql: str,
    predicted_sql: str,
    table: str,
    share_grid: int = 1000,
) -> str:
    """Twin of ``ml_eval.label_mutual_information`` —
    the same share quantization and the SAME literal ln table as a
    VALUES relation; ``mi_num``/``ha_num``/``hp_num`` serialize as
    VARCHAR."""
    g = int(share_grid)
    tab = psi_ln_table(g)
    t_g = int(tab[g - 1])
    k = _GLOBAL
    count = "CAST(count(*) AS BIGINT)"
    cells = _cells(
        k, actual_sql, predicted_sql, count, table, names=("a", "p", "cnt")
    )
    return f"""
    WITH {_ln_head(tab)},
    {cells},
    tot AS (
      SELECT {k.pre}CAST(coalesce(sum(cnt), 0) AS BIGINT) AS nt
      FROM cells {k.grp}
    ),
    cells_t AS (
      SELECT cells.*, tot.nt FROM cells JOIN tot {k.join}
    ),
    by_a AS (
      SELECT {k.pre}a,
             (sum(cnt)::HUGEINT * {g}) // any_value(nt) AS qa
      FROM cells_t GROUP BY {k.by("a")}
    ),
    by_a_l AS (
      SELECT by_a.*, la.lnv AS la FROM by_a
      LEFT JOIN ln_tab la ON la.i = by_a.qa
    ),
    by_p AS (
      SELECT {k.pre}p,
             (sum(cnt)::HUGEINT * {g}) // any_value(nt) AS qp
      FROM cells_t GROUP BY {k.by("p")}
    ),
    by_p_l AS (
      SELECT by_p.*, lp.lnv AS lp FROM by_p
      LEFT JOIN ln_tab lp ON lp.i = by_p.qp
    ),
    ha AS (
      SELECT {k.pre}CAST(count(*) AS BIGINT) AS n_classes_actual,
             coalesce(sum(CASE WHEN qa > 0
               THEN qa * ({t_g}::HUGEINT - la) ELSE 0 END), 0) AS ha_num
      FROM by_a_l {k.grp}
    ),
    hp AS (
      SELECT {k.pre}CAST(count(*) AS BIGINT) AS n_classes_predicted,
             coalesce(sum(CASE WHEN qp > 0
               THEN qp * ({t_g}::HUGEINT - lp) ELSE 0 END), 0) AS hp_num
      FROM by_p_l {k.grp}
    ),
    quant AS (
      SELECT {k.pre}a, p, (cnt::HUGEINT * {g}) // nt AS q
      FROM cells_t
    ),
    mi AS (
      SELECT {k.pre}
             coalesce(sum(CASE WHEN q > 0
               THEN q * (lc.lnv - ba.la - bp.lp + {t_g}::HUGEINT)
               ELSE 0 END), 0) AS mi_num
      FROM quant
      JOIN by_a_l ba USING ({k.pre}a)
      JOIN by_p_l bp USING ({k.pre}p)
      LEFT JOIN ln_tab lc ON lc.i = quant.q
      {k.grp}
    )
    SELECT {k.of("t")}t.nt AS n,
           coalesce(ha.n_classes_actual, 0) AS n_classes_actual,
           coalesce(hp.n_classes_predicted, 0) AS n_classes_predicted,
           CAST(coalesce(mi.mi_num, 0) AS VARCHAR) AS mi_num,
           CAST(coalesce(ha.ha_num, 0) AS VARCHAR) AS ha_num,
           CAST(coalesce(hp.hp_num, 0) AS VARCHAR) AS hp_num,
           CASE WHEN t.nt > 0 THEN
             CAST(coalesce(mi.mi_num, 0) AS DOUBLE)
               / CAST({g}::HUGEINT * {_PSI_LN_SCALE} AS DOUBLE) END AS mi,
           CASE WHEN t.nt > 0 THEN
             CAST(coalesce(ha.ha_num, 0) AS DOUBLE)
               / CAST({g}::HUGEINT * {_PSI_LN_SCALE} AS DOUBLE) END AS h_actual,
           CASE WHEN t.nt > 0 THEN
             CAST(coalesce(hp.hp_num, 0) AS DOUBLE)
               / CAST({g}::HUGEINT * {_PSI_LN_SCALE} AS DOUBLE) END AS h_predicted,
           CASE WHEN coalesce(ha.ha_num, 0) + coalesce(hp.hp_num, 0) <> 0
             THEN CAST(2 * coalesce(mi.mi_num, 0) AS DOUBLE)
               / CAST(coalesce(ha.ha_num, 0) + coalesce(hp.hp_num, 0)
                      AS DOUBLE) END AS nmi
    FROM tot t
    LEFT JOIN mi {k.join}
    LEFT JOIN ha {k.join}
    LEFT JOIN hp {k.join}
    """


def _cohens_kappa(cells: str) -> str:
    """The global kappa body over a ``cells`` CTE of (a, b, cnt)."""
    k = _GLOBAL
    return f"""
    WITH {cells},
    by_a AS (
      SELECT {k.pre}a AS l, CAST(sum(cnt) AS BIGINT) AS r
      FROM cells GROUP BY {k.by("a")}
    ),
    by_b AS (
      SELECT {k.pre}b AS l, CAST(sum(cnt) AS BIGINT) AS c
      FROM cells GROUP BY {k.by("b")}
    ),
    marg AS (
      SELECT {k.pre}coalesce(r, 0)::HUGEINT AS r,
             coalesce(c, 0)::HUGEINT AS c
      FROM by_a FULL OUTER JOIN by_b USING ({k.pre}l)
    ),
    pe AS (
      SELECT {k.pre}coalesce(sum(r * c), 0) AS pe_sum,
             CAST(count(*) AS BIGINT) AS n_labels
      FROM marg {k.grp}
    ),
    po AS (
      SELECT {k.pre}
             CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n,
             CAST(coalesce(sum(CASE WHEN a = b THEN cnt ELSE 0 END), 0)
                  AS BIGINT) AS agree
      FROM cells {k.grp}
    )
    SELECT {k.of("po")}
           po.n, pe.n_labels,
           CAST(po.n::HUGEINT * po.agree - pe.pe_sum AS VARCHAR)
             AS kappa_num,
           CAST(po.n::HUGEINT * po.n - pe.pe_sum AS VARCHAR)
             AS kappa_den,
           CASE WHEN po.n::HUGEINT * po.n - pe.pe_sum <> 0 THEN
             CAST(po.n::HUGEINT * po.agree - pe.pe_sum AS DOUBLE)
               / CAST(po.n::HUGEINT * po.n - pe.pe_sum AS DOUBLE)
           END AS kappa
    FROM po JOIN pe {k.join}
    """


def cohens_kappa_sql(rater_a_sql: str, rater_b_sql: str, table: str) -> str:
    """Twin of ``ml_eval.cohens_kappa`` over facts —
    the same exact integer algebra; ``kappa_num``/``kappa_den``
    serialize as VARCHAR."""
    return _cohens_kappa(
        _cells(
            _GLOBAL, rater_a_sql, rater_b_sql, "count(*)", table,
            names=("a", "b", "cnt"),
        )
    )


def cohens_kappa_from_cells_sql(cells_sql: str) -> str:
    """Twin of ``ml_eval.cohens_kappa`` over a cell
    store (see :func:`multiclass_macro_f1_from_cells_sql`)."""
    return _cohens_kappa(
        _cells(
            _GLOBAL, _ACTUAL, _PREDICTED, f"CAST(sum({_N}) AS BIGINT)",
            cells_sql, names=("a", "b", "cnt"),
        )
    )


def weighted_kappa_sql(
    rater_a_sql: str,
    rater_b_sql: str,
    weighting: str,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """Twin of ``ml_eval.weighted_kappa`` — the same
    marginal cross and cleared-denominator integers;
    ``kappa_num``/``kappa_den`` serialize as VARCHAR.

    The Spark twin RAISES past the |label| ≤ 10^4 exactness envelope
    (``_KAPPA_LABEL_MAX``); this twin's HUGEINT would keep going — so
    an out-of-envelope run fails loudly on the Spark side rather than
    hash-diverging silently."""
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
    k = _Keys(keys)
    pair_on = (
        " AND ".join(f"by_a.{c} = by_b.{c}" for c in k.keys)
        if k.keys
        else "1 = 1"
    )
    return f"""
    WITH cells AS (
      SELECT {k.pre}CAST({rater_a_sql} AS BIGINT) AS a,
             CAST({rater_b_sql} AS BIGINT) AS b,
             CAST(count(*) AS BIGINT) AS cnt
      FROM {table}
      WHERE ({rater_a_sql}) IS NOT NULL AND ({rater_b_sql}) IS NOT NULL
        {k.nn}
      GROUP BY {k.by("a", "b")}
    ),
    obs AS (
      SELECT {k.pre}
             CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n,
             coalesce(sum({w('a', 'b')} * cnt), 0) AS obs_sum
      FROM cells {k.grp}
    ),
    by_a AS (
      SELECT {k.pre}a AS la, CAST(sum(cnt) AS BIGINT) AS r
      FROM cells GROUP BY {k.by("a")}
    ),
    by_b AS (
      SELECT {k.pre}b AS lb, CAST(sum(cnt) AS BIGINT) AS c
      FROM cells GROUP BY {k.by("b")}
    ),
    expd AS (
      SELECT {k.of("by_a")}
             coalesce(sum({w('by_a.la', 'by_b.lb')}
                          * by_a.r::HUGEINT * by_b.c), 0) AS exp_sum
      FROM by_a JOIN by_b ON {pair_on}
      {k.grp_of("by_a")}
    ),
    labels AS (
      SELECT {k.pre}CAST(count(*) AS BIGINT) AS n_labels
      FROM (
        SELECT DISTINCT {k.pre}l FROM (
          SELECT {k.pre}a AS l FROM cells
          UNION ALL SELECT {k.pre}b AS l FROM cells
        ) GROUP BY {k.by("l")}
      ) {k.grp}
    )
    SELECT {k.of("o")}o.n, labels.n_labels,
           CAST(expd.exp_sum - o.n::HUGEINT * o.obs_sum AS VARCHAR)
             AS kappa_num,
           CAST(expd.exp_sum AS VARCHAR) AS kappa_den,
           CASE WHEN expd.exp_sum <> 0 THEN
             CAST(expd.exp_sum - o.n::HUGEINT * o.obs_sum AS DOUBLE)
               / CAST(expd.exp_sum AS DOUBLE)
           END AS kappa
    FROM obs o
    JOIN expd {k.join}
    JOIN labels {k.join}
    """


def fleiss_kappa_sql(
    item_sql: str,
    category_sql: str,
    n_raters: int,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """Twin of ``ml_eval.fleiss_kappa`` — the same
    cell grain and cleared-denominator integer algebra;
    ``fleiss_num``/``fleiss_den`` serialize as VARCHAR."""
    k = _Keys(keys)
    nr = int(n_raters)
    count = "CAST(count(*) AS BIGINT)"
    cells = _cells(
        k, item_sql, category_sql, count, table, names=("i", "c", "nic")
    )
    return f"""
    WITH {cells},
    item_tot AS (
      SELECT {k.pre}i, CAST(sum(nic) AS BIGINT) AS ni
      FROM cells GROUP BY {k.by("i")}
    ),
    drops AS (
      SELECT {k.pre}
             CAST(coalesce(sum(CASE WHEN ni <> {nr} THEN 1 ELSE 0 END),
                           0) AS BIGINT) AS n_items_dropped
      FROM item_tot {k.grp}
    ),
    kept AS (
      SELECT c.* FROM cells c
      SEMI JOIN (SELECT {k.pre}i FROM item_tot WHERE ni = {nr}) t
        USING ({k.pre}i)
    ),
    s1agg AS (
      SELECT {k.pre}
             CAST(count(DISTINCT i) AS BIGINT) AS n_items,
             coalesce(sum(nic::HUGEINT * (nic - 1)), 0) AS s1
      FROM kept {k.grp}
    ),
    cols AS (
      SELECT {k.pre}c, sum(nic)::HUGEINT AS colc
      FROM kept GROUP BY {k.by("c")}
    ),
    s2agg AS (
      SELECT {k.pre}
             coalesce(sum(colc * colc), 0) AS s2,
             CAST(count(*) AS BIGINT) AS n_categories
      FROM cols {k.grp}
    ),
    terms AS (
      SELECT {k.of("d")}
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
      LEFT JOIN s1agg {k.join}
      LEFT JOIN s2agg {k.join}
    )
    SELECT {k.pre}n_items, n_items_dropped, n_categories,
           CAST(num AS VARCHAR) AS fleiss_num,
           CAST(den AS VARCHAR) AS fleiss_den,
           CASE WHEN den <> 0 THEN
             CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
           END AS fleiss_kappa
    FROM terms
    """


# ---------------------------------------------------------------------------
# Krippendorff's alpha and its per-unit drill-down.
# ---------------------------------------------------------------------------


def _krippendorff_lcm(metric: str, max_raters: int) -> tuple[int, int]:
    """Validate ``metric``/``max_raters``; return (max_raters, LCM)."""
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
    return mr, math.lcm(*range(1, mr))


def _krippendorff_cells(k: _Keys, item_sql: str, category_sql: str, table: str) -> str:
    """The (item, category) vote cells of the nominal/interval metrics."""
    count = "CAST(count(*) AS BIGINT)"
    return _cells(k, item_sql, category_sql, count, table, names=("i", "c", "nuc"))


def _ordinal_head(k: _Keys, item_sql: str, category_sql: str, table: str) -> str:
    """The ordinal prefix: vote cells at the BIGINT category value and
    the unit sizes ``items_m``."""
    return f"""cells AS (
      SELECT {k.pre}{item_sql} AS i, CAST({category_sql} AS BIGINT) AS clv,
             CAST(count(*) AS BIGINT) AS nuc
      FROM {table}
      WHERE ({item_sql}) IS NOT NULL AND ({category_sql}) IS NOT NULL
        {k.nn}
      GROUP BY {k.by("i", "clv")}
    ),
    items_m AS (
      SELECT {k.pre}i, CAST(sum(nuc) AS BIGINT) AS m
      FROM cells GROUP BY {k.by("i")}
    )"""


def _ordinal_cells(k: _Keys, mr: int) -> str:
    """The ordinal middle: the cells of kept units, the category
    marginals with ``e = 2·cum − n_c``, and ``e`` carried to the cells."""
    return f"""kept_cells AS (
      SELECT c.* FROM cells c
      SEMI JOIN (SELECT {k.pre}i FROM items_m
                 WHERE m >= 2 AND m <= {mr}) t USING ({k.pre}i)
    ),
    cats AS (
      SELECT {k.pre}clv, sum(nuc)::HUGEINT AS nc
      FROM kept_cells GROUP BY {k.by("clv")}
    ),
    cats_e AS (
      SELECT {k.pre}clv, nc,
             2 * sum(nc) OVER ({k.part} ORDER BY clv) - nc AS e
      FROM cats
    ),
    cell_e AS (
      SELECT {k.pre}i, nuc, e
      FROM kept_cells JOIN cats_e USING ({k.pre}clv)
    )"""


_INTERVAL_MOMENTS = (
    "sum(nuc::HUGEINT * CAST(c AS BIGINT)) AS s1,\n"
    "             sum(nuc::HUGEINT * CAST(c AS BIGINT)"
    " * CAST(c AS BIGINT)) AS s2"
)


def krippendorff_explain_sql(
    item_sql: str,
    category_sql: str,
    table: str,
    keys: Sequence[str] = (),
    max_raters: int = 16,
) -> str:
    """Twin of ``ml_eval.krippendorff_disagreement_explain``
    for the nominal metric — the same cells→kept-units prefix as
    :func:`krippendorff_alpha_sql` and the same LCM-cleared per-unit
    mass; ``du_num`` serializes as VARCHAR."""
    mr, lcm = _krippendorff_lcm("nominal", max_raters)
    k = _Keys(keys)
    du = "(m::HUGEINT * m - ss)"
    unit = f"""
    SELECT {k.pre}i AS unit, m AS n_ratings, kc AS n_categories_unit,
           CAST({du} * ({lcm}::HUGEINT // (m - 1)) AS VARCHAR) AS du_num,
           CAST({du} AS DOUBLE)
             / CAST(m::HUGEINT * (m - 1) AS DOUBLE) AS disagreement
    FROM kept
    """
    return f"""
    WITH {_krippendorff_cells(k, item_sql, category_sql, table)},
    items AS (
      SELECT {k.pre}i, CAST(sum(nuc) AS BIGINT) AS m,
             CAST(count(*) AS BIGINT) AS kc,
             sum(nuc::HUGEINT * nuc) AS ss
      FROM cells GROUP BY {k.by("i")}
    ),
    kept AS (
      SELECT * FROM items WHERE m >= 2 AND m <= {mr}
    )
    {unit}
    """


def krippendorff_alpha_sql(
    item_sql: str,
    category_sql: str,
    table: str,
    keys: Sequence[str] = (),
    max_raters: int = 16,
    metric: str = "nominal",
) -> str:
    """Twin of ``ml_eval.krippendorff_alpha`` — the
    same cell/item grain and LCM-cleared integer algebra (nominal
    sum-of-squares, interval moment form, or ordinal moment form over
    the cumulative-marginal transform e_c = 2·cum_c − n_c);
    ``alpha_num``/``alpha_den`` serialize as VARCHAR."""
    mr, lcm = _krippendorff_lcm(metric, max_raters)
    k = _Keys(keys)
    if metric == "ordinal":
        return _krippendorff_ordinal_sql(item_sql, category_sql, table, k, mr, lcm)
    if metric == "interval":
        item_moments = _INTERVAL_MOMENTS
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
    WITH {_krippendorff_cells(k, item_sql, category_sql, table)},
    items AS (
      SELECT {k.pre}i, CAST(sum(nuc) AS BIGINT) AS m,
             {item_moments}
      FROM cells GROUP BY {k.by("i")}
    ),
    {_krippendorff_drops(k, mr, "items")},
    kept AS (
      SELECT * FROM items WHERE m >= 2 AND m <= {mr}
    ),
    u_agg AS (
      SELECT {k.pre}
             CAST(count(*) AS BIGINT) AS n_units,
             CAST(coalesce(sum(m), 0) AS BIGINT) AS n_ratings,
             coalesce(sum({du_sql}
                          * ({lcm}::HUGEINT // (m - 1))), 0) AS u
      FROM kept {k.grp}
    ),
    kept_cells AS (
      SELECT c.* FROM cells c
      SEMI JOIN (SELECT {k.pre}i FROM kept) t USING ({k.pre}i)
    ),
    cats AS (
      SELECT {k.pre}c, sum(nuc)::HUGEINT AS nc
      FROM kept_cells GROUP BY {k.by("c")}
    ),
    cat_agg AS (
      SELECT {k.pre}
             CAST(count(*) AS BIGINT) AS n_categories,
             {cat_moments}
      FROM cats {k.grp}
    ),
    {_krippendorff_terms(k, f"{de_core} * {lcm}")}
    """


def _krippendorff_drops(k: _Keys, mr: int, items: str) -> str:
    """The ``drops`` CTE: units with one rating / over ``mr`` ratings."""
    return f"""drops AS (
      SELECT {k.pre}
             CAST(coalesce(sum(CASE WHEN m < 2 THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_units_single,
             CAST(coalesce(sum(CASE WHEN m > {mr} THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_units_overflow
      FROM {items} {k.grp}
    )"""


def _krippendorff_terms(k: _Keys, de: str) -> str:
    """The ``terms`` CTE and the alpha read-out, given the cleared
    expected-disagreement expression ``de``."""
    return f"""terms AS (
      SELECT {k.of("d")}
             coalesce(u_agg.n_ratings, 0) AS n_ratings,
             coalesce(u_agg.n_units, 0) AS n_units,
             d.n_units_single, d.n_units_overflow,
             coalesce(cat_agg.n_categories, 0) AS n_categories,
             {de} AS de,
             (coalesce(u_agg.n_ratings, 0)::HUGEINT - 1)
               * coalesce(u_agg.u, 0) AS nu
      FROM drops d
      LEFT JOIN u_agg {k.join}
      LEFT JOIN cat_agg {k.join}
    )
    SELECT {k.pre}n_ratings, n_units, n_units_single, n_units_overflow,
           n_categories,
           CAST(de - nu AS VARCHAR) AS alpha_num,
           CAST(de AS VARCHAR) AS alpha_den,
           CASE WHEN de <> 0 THEN
             CAST(de - nu AS DOUBLE) / CAST(de AS DOUBLE)
           END AS alpha
    FROM terms"""


def _krippendorff_ordinal_sql(
    item_sql: str, category_sql: str, table: str, k: _Keys, mr: int, lcm: int
) -> str:
    """The ordinal body of :func:`krippendorff_alpha_sql`: the drop
    filter runs BEFORE the moments (the distance depends on the
    kept-unit marginals), and the per-unit/marginal masses are the
    interval moment form over e."""
    de = (
        "(coalesce(u_agg.n_ratings, 0)::HUGEINT\n"
        "                * coalesce(cat_agg.t2, 0)\n"
        "              - coalesce(cat_agg.t1, 0)\n"
        f"                * coalesce(cat_agg.t1, 0)) * {lcm}"
    )
    return f"""
    WITH {_ordinal_head(k, item_sql, category_sql, table)},
    {_krippendorff_drops(k, mr, "items_m")},
    {_ordinal_cells(k, mr)},
    kept AS (
      SELECT {k.pre}i, CAST(sum(nuc) AS BIGINT) AS m,
             sum(nuc::HUGEINT * e) AS s1,
             sum(nuc::HUGEINT * e * e) AS s2
      FROM cell_e GROUP BY {k.by("i")}
    ),
    u_agg AS (
      SELECT {k.pre}
             CAST(count(*) AS BIGINT) AS n_units,
             CAST(coalesce(sum(m), 0) AS BIGINT) AS n_ratings,
             coalesce(sum((m::HUGEINT * s2 - s1 * s1)
                          * ({lcm}::HUGEINT // (m - 1))), 0) AS u
      FROM kept {k.grp}
    ),
    cat_agg AS (
      SELECT {k.pre}
             CAST(count(*) AS BIGINT) AS n_categories,
             coalesce(sum(nc * e), 0) AS t1,
             coalesce(sum(nc * e * e), 0) AS t2
      FROM cats_e {k.grp}
    ),
    {_krippendorff_terms(k, de)}
    """


# ---------------------------------------------------------------------------
# Calibration, correlation and ranking.
# ---------------------------------------------------------------------------


def brier_score_sql(
    label_sql: str,
    score_q_sql: str,
    s_max: int,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """Twin of ``ml_eval.brier_score`` — the same
    exact integer algebra; ``brier_num`` serializes as VARCHAR."""
    k = _Keys(keys)
    d = (
        f"(CAST({score_q_sql} AS HUGEINT) - CASE WHEN {label_sql} "
        f"THEN {int(s_max)} ELSE 0 END)"
    )
    return f"""
    WITH totals AS (
      SELECT {k.pre}
             CAST(count(*) AS BIGINT) AS n,
             sum({d} * {d}) AS brier_num
      FROM {table}
      WHERE ({label_sql}) IS NOT NULL AND ({score_q_sql}) IS NOT NULL
      {k.grp}
    )
    SELECT {k.pre}n,
           CAST(coalesce(brier_num, 0) AS VARCHAR) AS brier_num,
           CASE WHEN n > 0 THEN
             CAST(brier_num AS DOUBLE)
               / CAST(CAST(n AS HUGEINT)
                      * {int(s_max) * int(s_max)} AS DOUBLE)
           END AS brier
    FROM totals
    """


def _ece_totals(k: _Keys, s_max: int, pos: str, ssum: str) -> str:
    """The ``totals`` CTE and the ECE read-out over per-bin rows."""
    return f"""totals AS (
      SELECT {k.pre}
             CAST(coalesce(sum(nb), 0) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_bins_used,
             coalesce(sum(abs({int(s_max)}::HUGEINT * {pos} - {ssum})), 0)
               AS ece_num
      FROM binned {k.grp}
    )
    SELECT {k.pre}n, n_bins_used,
           CAST(ece_num AS VARCHAR) AS ece_num,
           CASE WHEN n > 0 THEN
             CAST(ece_num AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * {int(s_max)} AS DOUBLE)
           END AS ece
    FROM totals"""


def ece_sql(
    label_sql: str,
    score_q_sql: str,
    s_max: int,
    n_bins: int,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """Twin of ``ml_eval.ece`` — the same bin
    assignment and exact integer numerator; ``ece_num`` serializes as
    VARCHAR."""
    if n_bins < 1 or s_max < 1 or n_bins > s_max:
        raise ValueError(
            f"require 1 <= n_bins <= s_max, got n_bins={n_bins}, "
            f"s_max={s_max} (see ece())"
        )
    k = _Keys(keys)
    return f"""
    WITH binned AS (
      SELECT {k.pre}
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
      GROUP BY {k.by("b")}
    ),
    {_ece_totals(k, s_max, "pos", "ssum")}
    """


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
    """Twin of ``ml_eval.ece_top_label`` — the same
    pre-argmax filters and (score DESC, class ASC) row_number
    tie-break (scores floored via ``CAST(floor(·) AS BIGINT)`` to
    match Spark's truncating cast), then :func:`ece_sql` over the
    argmax rows."""
    k = _Keys(keys)
    part = f"PARTITION BY {k.pre}i" if k.keys else "PARTITION BY i"
    # no NULL-key exclusion: like ece, this plan has no keyed joins —
    # NULL keys form their own window partition/group identically in
    # both engines
    top = f"""(
      SELECT {k.pre}(c = act) AS hit, s FROM (
        SELECT {k.pre}i, c, s, act,
               row_number() OVER ({part} ORDER BY s DESC, c ASC) AS rn
        FROM (
          SELECT {k.pre}{item_sql} AS i, {class_sql} AS c,
                 CAST(floor({score_sql}) AS BIGINT) AS s,
                 {actual_sql} AS act
          FROM {table}
          WHERE ({item_sql}) IS NOT NULL AND ({class_sql}) IS NOT NULL
            AND ({actual_sql}) IS NOT NULL AND ({score_sql}) IS NOT NULL
            AND ({score_sql}) >= 0 AND ({score_sql}) <= {int(s_max)}
        ) scored
      ) ranked WHERE rn = 1
    )"""
    return ece_sql("hit", "s", s_max, n_bins, top, k.keys)


def ece_adaptive_sql(
    label_sql: str,
    score_q_sql: str,
    s_max: int,
    n_bins: int,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """Twin of ``ml_eval.ece_adaptive`` — the same
    distinct-score grain, rank-div bin edges (the ORDER BY key is
    unique per group at this grain, so RANGE/ROWS framing differences
    cannot bite) and exact numerator; ``ece_num`` serializes as
    VARCHAR."""
    if n_bins < 1 or s_max < 1:
        raise ValueError(
            f"require n_bins >= 1 and s_max >= 1, got n_bins={n_bins}, "
            f"s_max={s_max}"
        )
    k = _Keys(keys)
    return f"""
    WITH per_score AS (
      SELECT {k.pre}{score_q_sql} AS s,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CASE WHEN {label_sql} THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos,
             sum(CAST({score_q_sql} AS HUGEINT)) AS ssum
      FROM {table}
      WHERE ({label_sql}) IS NOT NULL AND ({score_q_sql}) IS NOT NULL
        AND ({score_q_sql}) >= 0 AND ({score_q_sql}) <= {int(s_max)}
      GROUP BY {k.by("s")}
    ),
    with_bin AS (
      SELECT {k.pre}cnt, pos, ssum,
             (((sum(cnt) OVER ({k.part} ORDER BY s) - cnt)::HUGEINT
                 * {int(n_bins)})
               // sum(cnt) OVER ({k.part})) AS b
      FROM per_score
    ),
    binned AS (
      SELECT {k.pre}b,
             CAST(sum(cnt) AS BIGINT) AS nb,
             CAST(sum(pos) AS BIGINT) AS posb,
             sum(ssum) AS ssumb
      FROM with_bin GROUP BY {k.by("b")}
    ),
    {_ece_totals(k, s_max, "posb", "ssumb")}
    """


def _log_loss_totals(k: _Keys, rows: str) -> str:
    """The ``totals`` CTE and the log-loss read-out over ``terms``
    (``rows`` counts a term row's facts)."""
    return f"""totals AS (
      SELECT {k.pre}
             CAST(coalesce(sum({rows}), 0) AS BIGINT) AS n,
             CAST(coalesce(sum(ncl), 0) AS BIGINT) AS n_clamped,
             coalesce(sum(t), 0) AS ll_num
      FROM terms {k.grp}
    )
    SELECT {k.pre}n, n_clamped,
           CAST(ll_num AS VARCHAR) AS ll_num,
           CASE WHEN n > 0 THEN
             CAST(ll_num AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * {_LOG_LOSS_SCALE} AS DOUBLE)
           END AS log_loss
    FROM totals"""


def log_loss_sql(
    label_sql: str,
    score_q_sql: str,
    s_max: int,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """Twin of ``ml_eval.log_loss`` — the SAME literal
    table as a VALUES relation (joined at clamped-score grain), the
    same clamp and integer algebra; ``ll_num`` serializes as VARCHAR.

    The clamp truncates via ``CAST(floor(·) AS BIGINT)`` — NOT a bare
    ``CAST(· AS BIGINT)``, which rounds half-even in DuckDB while
    Spark's ``cast("long")`` truncates: a contract-violating
    non-integral score would then clamp DIFFERENTLY per engine and
    diverge silently instead of hash-mismatching. On the filtered
    domain (score ≥ 0) floor ≡ truncation."""
    tab = log_loss_table(s_max)
    k = _Keys(keys)
    s = f"CAST(floor({score_q_sql}) AS BIGINT)"
    return f"""
    WITH ln_tab AS (SELECT * FROM (VALUES {_values(tab)}) AS t(i, v)),
    base AS (
      SELECT {k.pre}{label_sql} AS y,
             greatest(1, least({s},
                               {int(s_max) - 1})) AS sc,
             CASE WHEN {s} < 1
                    OR {s}
                       > {int(s_max) - 1}
                  THEN 1 ELSE 0 END AS cl
      FROM {table}
      WHERE ({label_sql}) IS NOT NULL AND ({score_q_sql}) IS NOT NULL
        AND ({score_q_sql}) >= 0 AND ({score_q_sql}) <= {int(s_max)}
    ),
    grain AS (
      SELECT {k.pre}sc,
             CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg,
             CAST(sum(cl) AS BIGINT) AS ncl
      FROM base GROUP BY {k.by("sc")}
    ),
    terms AS (
      SELECT {k.pre}pos, neg, ncl,
             pos::HUGEINT * tp.v + neg::HUGEINT * tn.v AS t
      FROM grain
      JOIN ln_tab tp ON tp.i = sc
      JOIN ln_tab tn ON tn.i = {int(s_max)} - sc
    ),
    {_log_loss_totals(k, "pos + neg")}
    """


def log_loss_multiclass_sql(
    true_score_q_sql: str,
    s_max: int,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """Twin of ``ml_eval.log_loss_multiclass`` — the
    SAME literal table, the same one-sided clamp (truncating like
    :func:`log_loss_sql`) and integer algebra; ``ll_num`` serializes
    as VARCHAR."""
    tab = log_loss_table(s_max)
    k = _Keys(keys)
    s = f"CAST(floor({true_score_q_sql}) AS BIGINT)"
    return f"""
    WITH ln_tab AS (SELECT * FROM (VALUES {_values(tab)}) AS t(i, v)),
    base AS (
      SELECT {k.pre}
             greatest(1, {s}) AS sc,
             CASE WHEN {s} < 1
                  THEN 1 ELSE 0 END AS cl
      FROM {table}
      WHERE ({true_score_q_sql}) IS NOT NULL
        AND ({true_score_q_sql}) >= 0 AND ({true_score_q_sql}) <= {int(s_max)}
    ),
    grain AS (
      SELECT {k.pre}sc,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(cl) AS BIGINT) AS ncl
      FROM base GROUP BY {k.by("sc")}
    ),
    terms AS (
      SELECT {k.pre}cnt, ncl, cnt::HUGEINT * tp.v AS t
      FROM grain JOIN ln_tab tp ON tp.i = sc
    ),
    {_log_loss_totals(k, "cnt")}
    """


def matthews_corr_sql(
    label_sql: str,
    pred_sql: str,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """Twin of ``ml_eval.matthews_corr`` — the same
    one-aggregate plan and pairwise-root algebra; the integer columns
    serialize as VARCHAR."""
    k = _Keys(keys)
    return f"""
    WITH counts AS (
      SELECT {k.pre}
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
      {k.grp}
    ),
    terms AS (
      SELECT {k.pre}tp, fp, fn, tn,
             tp::HUGEINT * tn - fp::HUGEINT * fn AS num,
             (tp::HUGEINT + fp) * (tp::HUGEINT + fn) AS d1,
             (tn::HUGEINT + fp) * (tn::HUGEINT + fn) AS d2
      FROM counts
    )
    SELECT {k.pre}tp, fp, fn, tn,
           CAST(num AS VARCHAR) AS mcc_num,
           CAST(d1 AS VARCHAR) AS mcc_d1,
           CAST(d2 AS VARCHAR) AS mcc_d2,
           CASE WHEN d1 > 0 AND d2 > 0 THEN
             CAST(num AS DOUBLE)
               / (sqrt(CAST(d1 AS DOUBLE)) * sqrt(CAST(d2 AS DOUBLE)))
           END AS mcc
    FROM terms
    """


def spearman_rho_sql(
    rank_a_sql: str,
    rank_b_sql: str,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """Twin of ``ml_eval.spearman_rho`` — the same
    exact integer algebra; the integer columns serialize as VARCHAR."""
    k = _Keys(keys)
    d = f"(CAST({rank_a_sql} AS HUGEINT) - ({rank_b_sql}))"
    return f"""
    WITH agg AS (
      SELECT {k.pre}
             CAST(count(*) AS BIGINT) AS n_items,
             coalesce(sum({d} * {d}), 0) AS d2_sum
      FROM {table}
      WHERE ({rank_a_sql}) IS NOT NULL AND ({rank_b_sql}) IS NOT NULL
      {k.grp}
    ),
    terms AS (
      SELECT {k.pre}n_items, d2_sum,
             n_items::HUGEINT * (n_items::HUGEINT * n_items - 1) AS m
      FROM agg
    )
    SELECT {k.pre}n_items,
           CAST(d2_sum AS VARCHAR) AS d2_sum,
           CAST(m - 6 * d2_sum AS VARCHAR) AS rho_num,
           CAST(m AS VARCHAR) AS rho_den,
           CASE WHEN n_items >= 2 THEN
             CAST(m - 6 * d2_sum AS DOUBLE) / CAST(m AS DOUBLE)
           END AS rho
    FROM terms
    """


def kendall_tau_sql(
    item_sql: str,
    rank_a_sql: str,
    rank_b_sql: str,
    table: str,
    keys: Sequence[str] = (),
) -> str:
    """Twin of ``ml_eval.kendall_tau`` — the same
    per-group pair join and exact algebra (incl. the NULL-key
    exclusion at entry); the integer columns serialize as VARCHAR."""
    k = _Keys(keys)
    pair_on = " AND ".join(
        [f"l.{c} = r.{c}" for c in k.keys] + ["l.a < r.a"]
    )
    return f"""
    WITH base AS (
      SELECT {k.pre}{item_sql} AS i,
             CAST({rank_a_sql} AS BIGINT) AS a,
             CAST({rank_b_sql} AS BIGINT) AS b
      FROM {table}
      WHERE ({item_sql}) IS NOT NULL
        AND ({rank_a_sql}) IS NOT NULL AND ({rank_b_sql}) IS NOT NULL
        {k.nn}
    ),
    disc AS (
      SELECT {k.of("l")}
             CAST(coalesce(sum(CASE WHEN l.b > r.b THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_discordant
      FROM base l JOIN base r ON {pair_on}
      {k.grp_of("l")}
    ),
    counts AS (
      SELECT {k.pre}CAST(count(*) AS BIGINT) AS n_items
      FROM base {k.grp}
    ),
    terms AS (
      SELECT {k.of("c")}c.n_items,
             coalesce(d.n_discordant, 0) AS n_discordant,
             c.n_items::HUGEINT * (c.n_items - 1) AS m
      FROM counts c LEFT JOIN disc d {k.join}
    )
    SELECT {k.pre}n_items,
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
    """Twin of ``ml_eval.rbo_at_k`` — the same literal
    suffix-weight table and join/sum shape. ``results_a_sql``/
    ``results_b_sql`` are FROM-able fragments exposing (query, item,
    rank)."""
    scale, full, suffix = rbo_weights(k, p_num, p_den)
    q, i, r = query_col, item_col, rank_col
    return f"""
    WITH s_tab AS (SELECT * FROM (VALUES {_values(suffix)}) AS t(m, s)),
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
# Distribution drift (operators/dq.py): TVD, PSI, KL, JS and the
# per-category drill-down, all over one category-grain prefix.
# ---------------------------------------------------------------------------


def _drift_head(
    k: _Keys, value_sql: str, ref_sql: str, cur_sql: str, carry: str = ""
) -> str:
    """ref/cur category counts, their full outer join and the group
    totals (``dq._drift_share_grain``); ``carry`` = ``"v, "`` keeps the
    category value."""
    counts = lambda name, src, col: f"""{name} AS (
      SELECT {k.pre}{value_sql} AS v, CAST(count(*) AS BIGINT) AS {col}
      FROM {src}
      WHERE ({value_sql}) IS NOT NULL{k.nn}
      GROUP BY {k.by("v")}
    )"""  # noqa: E731
    return f"""{counts("ref_counts", ref_sql, "r")},
    {counts("cur_counts", cur_sql, "c")},
    cats AS (
      SELECT {k.pre}{carry}coalesce(r, 0) AS r, coalesce(c, 0) AS c
      FROM ref_counts FULL OUTER JOIN cur_counts USING ({k.pre}v)
    ),
    withtot AS (
      SELECT {k.pre}{carry}r, c,
             CAST(sum(r) OVER ({k.part}) AS BIGINT) AS nr,
             CAST(sum(c) OVER ({k.part}) AS BIGINT) AS nc
      FROM cats
    )"""


def _drift_agg(k: _Keys, name: str, den: str) -> str:
    """The group aggregate over ``terms`` and the ``name`` read-out."""
    return f"""agg AS (
      SELECT {k.pre}
             CAST(any_value(nr) AS BIGINT) AS n_ref,
             CAST(any_value(nc) AS BIGINT) AS n_cur,
             CAST(count(*) AS BIGINT) AS n_categories,
             coalesce(sum(t), 0) AS {name}_num
      FROM terms {k.grp}
    )
    SELECT {k.pre}n_ref, n_cur, n_categories,
           CAST({name}_num AS VARCHAR) AS {name}_num,
           CASE WHEN n_ref > 0 AND n_cur > 0 THEN
             CAST({name}_num AS DOUBLE)
               / CAST({den}::HUGEINT * {_PSI_LN_SCALE} AS DOUBLE)
           END AS {name}
    FROM agg"""


def distribution_drift_tvd_sql(
    value_sql: str,
    ref_table_sql: str,
    cur_table_sql: str,
    keys: Sequence[str] = (),
) -> str:
    """Twin of ``dq.distribution_drift_tvd`` — the
    same category grain and exact integer numerator; ``tvd_num``
    serializes as VARCHAR. ``ref_table_sql``/``cur_table_sql`` are
    FROM-able fragments (a table name or a parenthesized subquery)."""
    k = _Keys(keys)
    return f"""
    WITH {_drift_head(k, value_sql, ref_table_sql, cur_table_sql)},
    agg AS (
      SELECT {k.pre}
             CAST(any_value(nr) AS BIGINT) AS n_ref,
             CAST(any_value(nc) AS BIGINT) AS n_cur,
             CAST(count(*) AS BIGINT) AS n_categories,
             coalesce(sum(abs(r::HUGEINT * nc - c::HUGEINT * nr)), 0)
               AS tvd_num
      FROM withtot {k.grp}
    )
    SELECT {k.pre}n_ref, n_cur, n_categories,
           CAST(tvd_num AS VARCHAR) AS tvd_num,
           CASE WHEN n_ref > 0 AND n_cur > 0 THEN
             CAST(tvd_num AS DOUBLE)
               / CAST(2 * n_ref::HUGEINT * n_cur AS DOUBLE)
           END AS tvd
    FROM agg
    """


def distribution_psi_sql(
    value_sql: str,
    ref_table_sql: str,
    cur_table_sql: str,
    keys: Sequence[str] = (),
    share_grid: int = 1000,
) -> str:
    """Twin of ``dq.distribution_psi`` — the same
    quantization and the SAME literal ln table as a VALUES relation
    joined at category grain; ``psi_num`` serializes as VARCHAR."""
    tab = psi_ln_table(share_grid)
    g = int(share_grid)
    k = _Keys(keys)
    return f"""
    WITH {_ln_head(tab)},
    {_drift_head(k, value_sql, ref_table_sql, cur_table_sql)},
    quantized AS (
      SELECT {k.pre}nr, nc,
             CASE WHEN nr > 0 AND nc > 0 THEN
               greatest(1, (r::HUGEINT * {g}) // nr) END AS qr,
             CASE WHEN nr > 0 AND nc > 0 THEN
               greatest(1, (c::HUGEINT * {g}) // nc) END AS qc
      FROM withtot
    ),
    terms AS (
      SELECT {k.pre}nr, nc,
             (q.qc - q.qr)::HUGEINT * (tc.lnv - tr.lnv) AS t
      FROM quantized q
      LEFT JOIN ln_tab tr ON tr.i = q.qr
      LEFT JOIN ln_tab tc ON tc.i = q.qc
    ),
    {_drift_agg(k, "psi", str(g))}
    """


def distribution_kl_sql(
    value_sql: str,
    ref_table_sql: str,
    cur_table_sql: str,
    keys: Sequence[str] = (),
    share_grid: int = 1000,
) -> str:
    """Twin of ``dq.distribution_kl`` — the same
    asymmetric quantization (cur unclamped, ref eps-filled) and the
    SAME literal ln table; ``kl_num`` serializes as VARCHAR."""
    tab = psi_ln_table(share_grid)
    g = int(share_grid)
    k = _Keys(keys)
    return f"""
    WITH {_ln_head(tab)},
    {_drift_head(k, value_sql, ref_table_sql, cur_table_sql)},
    quantized AS (
      SELECT {k.pre}nr, nc,
             CASE WHEN nr > 0 AND nc > 0 THEN
               greatest(1, (r::HUGEINT * {g}) // nr) END AS qr,
             CASE WHEN nr > 0 AND nc > 0 THEN
               (c::HUGEINT * {g}) // nc END AS qc
      FROM withtot
    ),
    terms AS (
      SELECT {k.pre}nr, nc,
             CASE WHEN q.qr IS NULL OR q.qc IS NULL THEN NULL
                  WHEN q.qc = 0 THEN 0::HUGEINT
                  ELSE q.qc * (tc.lnv - tr.lnv)::HUGEINT
             END AS t
      FROM quantized q
      LEFT JOIN ln_tab tr ON tr.i = q.qr
      LEFT JOIN ln_tab tc ON tc.i = q.qc
    ),
    {_drift_agg(k, "kl", str(g))}
    """


def distribution_drift_explain_sql(
    value_sql: str,
    ref_table_sql: str,
    cur_table_sql: str,
    keys: Sequence[str] = (),
    share_grid: int = 1000,
) -> str:
    """Twin of ``dq.distribution_drift_explain`` — the
    same three quantized terms and the SAME literal ln table; term
    columns serialize as VARCHAR."""
    tab = psi_ln_table(share_grid)
    g = int(share_grid)
    k = _Keys(keys)
    head = _drift_head(k, value_sql, ref_table_sql, cur_table_sql, carry="v, ")
    return f"""
    WITH {_ln_head(tab)},
    {head},
    quantized AS (
      SELECT {k.pre}v, r, c, nr, nc,
             CASE WHEN nr > 0 AND nc > 0 THEN
               greatest(1, (r::HUGEINT * {g}) // nr) END AS qr,
             CASE WHEN nr > 0 AND nc > 0 THEN
               greatest(1, (c::HUGEINT * {g}) // nc) END AS qc,
             CASE WHEN nr > 0 AND nc > 0 THEN
               (c::HUGEINT * {g}) // nc END AS qcr
      FROM withtot
    )
    SELECT {k.pre}q.v AS value, q.r AS n_ref_cat, q.c AS n_cur_cat,
           q.nr AS n_ref, q.nc AS n_cur,
           CASE WHEN q.nr > 0 AND q.nc > 0 THEN
             CAST(q.c AS DOUBLE) / CAST(q.nc AS DOUBLE)
             - CAST(q.r AS DOUBLE) / CAST(q.nr AS DOUBLE)
           END AS share_delta,
           CASE WHEN q.nr > 0 AND q.nc > 0 THEN
             CAST(abs(q.r::HUGEINT * q.nc - q.c::HUGEINT * q.nr)
                  AS VARCHAR)
           END AS tvd_term_num,
           CASE WHEN q.nr > 0 AND q.nc > 0 THEN
             CAST((q.qc - q.qr)::HUGEINT * (tc.lnv - tr.lnv) AS VARCHAR)
           END AS psi_term_num,
           CASE WHEN q.nr > 0 AND q.nc > 0 THEN
             CAST(CASE WHEN q.qcr > 0
                  THEN q.qcr * (tcr.lnv - tr.lnv)::HUGEINT
                  ELSE 0 END AS VARCHAR)
           END AS kl_term_num
    FROM quantized q
    LEFT JOIN ln_tab tr ON tr.i = q.qr
    LEFT JOIN ln_tab tc ON tc.i = q.qc
    LEFT JOIN ln_tab tcr ON tcr.i = q.qcr
    """


def distribution_js_sql(
    value_sql: str,
    ref_table_sql: str,
    cur_table_sql: str,
    keys: Sequence[str] = (),
    share_grid: int = 1000,
) -> str:
    """Twin of ``dq.distribution_js`` — the same
    quantization and the SAME 2G-entry literal ln table as a VALUES
    relation; ``js_num`` serializes as VARCHAR."""
    g = int(share_grid)
    if not 2 <= g <= _PSI_GRID_MAX // 2:
        raise ValueError(
            f"share_grid must be in 2..{_PSI_GRID_MAX // 2}, got {g}"
        )
    k = _Keys(keys)
    return f"""
    WITH {_ln_head(psi_ln_table(2 * g))},
    {_drift_head(k, value_sql, ref_table_sql, cur_table_sql)},
    quantized AS (
      SELECT {k.pre}nr, nc,
             CASE WHEN nr > 0 AND nc > 0 THEN
               (r::HUGEINT * {g}) // nr END AS qr,
             CASE WHEN nr > 0 AND nc > 0 THEN
               (c::HUGEINT * {g}) // nc END AS qc
      FROM withtot
    ),
    terms AS (
      SELECT {k.pre}nr, nc,
             CASE WHEN q.qr IS NULL OR q.qc IS NULL THEN NULL
                  WHEN q.qr + q.qc = 0 THEN 0::HUGEINT
                  ELSE
               (CASE WHEN q.qr > 0
                     THEN q.qr * (t2r.lnv - tm.lnv)::HUGEINT
                     ELSE 0 END)
             + (CASE WHEN q.qc > 0
                     THEN q.qc * (t2c.lnv - tm.lnv)::HUGEINT
                     ELSE 0 END)
             END AS t
      FROM quantized q
      LEFT JOIN ln_tab t2r ON t2r.i = 2 * q.qr
      LEFT JOIN ln_tab t2c ON t2c.i = 2 * q.qc
      LEFT JOIN ln_tab tm ON tm.i = q.qr + q.qc
    ),
    {_drift_agg(k, "js", str(2 * g))}
    """
