"""Data-quality expectation checks (the Deequ/Great-Expectations
pattern re-expressed as plain aggregates): validate a table against a
constraint suite BEFORE publishing it — the gate every 100 TB ingest
runs between "computed" and "consumers read it".

The reference publishes its stores unvalidated (overwrite sinks,
src/etl_vol_transfers/main.py:137-141); a malformed upstream batch
lands silently. These operators make the check one scan.

Scale shape: row-level expectations compile to a SINGLE grand
aggregate over the scan (count + one conditional sum per check — all
map-side combined, no shuffle beyond the 1-row agg), then a constant
``stack`` unpivot of that one row. Uniqueness is the only check that
genuinely needs a shuffle (one groupBy on the key). Nothing here is
per-check passes over the data.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

RESULT_COLS = ("check_name", "n_rows", "n_pass", "n_fail")


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal — the check/column labels
    are caller-supplied and routinely contain quotes (e.g.
    ``in_set:'O','F'``); raw interpolation into stack() would be a
    plan-time ParseException (or worse, silent label mangling)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def row_expectations(
    df: DataFrame, checks: dict[str, Column]
) -> DataFrame:
    """Evaluate per-row boolean ``checks`` in ONE pass: returns one
    row per check — (check_name, n_rows, n_pass, n_fail). NULL
    predicate results count as FAIL (three-valued logic never hides a
    violation)."""
    if not checks:
        raise ValueError("row_expectations: checks must be non-empty")
    agg = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(
                F.when(cond, F.lit(1)).otherwise(F.lit(0))
            ).alias(f"__p_{i}")
            for i, cond in enumerate(checks.values())
        ],
    )
    stack_args = ", ".join(
        f"{_sql_str(name)}, __p_{i}" for i, name in enumerate(checks)
    )
    return agg.select(
        F.expr(
            f"stack({len(checks)}, {stack_args}) AS (check_name, n_pass)"
        ),
        F.col("__n").alias("n_rows"),
    ).select(
        "check_name",
        "n_rows",
        F.coalesce(F.col("n_pass"), F.lit(0)).alias("n_pass"),
        (
            F.col("n_rows") - F.coalesce(F.col("n_pass"), F.lit(0))
        ).alias("n_fail"),
    )


def unique_expectation(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Key-uniqueness check: one groupBy on the key; ``n_fail`` is the
    number of ROWS participating in a duplicated key (so a publisher
    can quantify the blast radius, not just detect it)."""
    label = "unique:" + ",".join(key_cols)
    per_key = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__c"))
    return per_key.agg(
        F.lit(label).alias("check_name"),
        F.sum("__c").alias("n_rows"),
        F.sum(F.when(F.col("__c") == 1, F.lit(1)).otherwise(F.lit(0)))
        .alias("n_pass"),
        F.sum(F.when(F.col("__c") > 1, F.col("__c")).otherwise(F.lit(0)))
        .alias("n_fail"),
    )


def expectation_suite(
    df: DataFrame,
    checks: dict[str, Column],
    unique_keys: Sequence[Sequence[str]] = (),
) -> DataFrame:
    """Full suite = row-level checks (one scan) ∪ one uniqueness check
    per key set (one groupBy each). The result is the publish gate:
    ``suite.where("n_fail > 0").isEmpty()`` before the swap."""
    out = row_expectations(df, checks)
    for keys in unique_keys:
        out = out.unionByName(unique_expectation(df, keys))
    return out


def profile_columns(
    df: DataFrame, numeric_cols: Sequence[str]
) -> DataFrame:
    """One-pass numeric column profile — (column, n_rows, n_null,
    n_distinct, min_v, max_v) per column — the describe() every
    publish step should attach to its output (and diff against the
    previous snapshot to catch upstream drift).

    All stats for all columns ride ONE grand aggregate (count, nulls,
    exact distinct, min/max per column), then a constant unpivot.
    Exact count_distinct keeps the profile oracle-checkable; swap in
    kmv_count_distinct / hll per column when exactness stops being
    worth the shuffle at full scale.
    """
    if not numeric_cols:
        raise ValueError("profile_columns: numeric_cols must be non-empty")
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(numeric_cols):
        col = F.col(c)
        aggs += [
            F.sum(
                F.when(col.isNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias(f"__null_{i}"),
            F.count_distinct(col).alias(f"__nd_{i}"),
            F.min(col).cast("double").alias(f"__mn_{i}"),
            F.max(col).cast("double").alias(f"__mx_{i}"),
        ]
    agg = df.agg(*aggs)
    stack_args = ", ".join(
        f"{_sql_str(c)}, __null_{i}, __nd_{i}, __mn_{i}, __mx_{i}"
        for i, c in enumerate(numeric_cols)
    )
    return agg.select(
        F.expr(
            f"stack({len(numeric_cols)}, {stack_args})"
            " AS (column_name, n_null, n_distinct, min_v, max_v)"
        ),
        F.col("__n").alias("n_rows"),
    ).select(
        "column_name", "n_rows", "n_null", "n_distinct", "min_v", "max_v"
    )


def gated_upsert(
    batch: DataFrame,
    path: str,
    key_cols: Sequence[str],
    checks: dict[str, Column],
    quarantine_path: str,
    batch_id: int,
) -> bool:
    """Expectation-gated foreachBatch sink: run the suite on the batch
    BEFORE touching the table; a clean batch upserts as usual, a
    failing batch is diverted WHOLE to ``quarantine_path`` (stamped
    with the failing check names) and the table is left untouched.
    Returns True when the batch landed.

    All-or-nothing on purpose: a batch that violates its contract is
    evidence of an upstream defect — publishing its passing subset
    would both mask the defect and make the quarantine unreplayable.

    Replay-idempotent END TO END: the landing side is a keyed upsert,
    and the quarantine writes to a ``__batch_id=<id>`` partition with
    dynamic overwrite — a re-driven failing batch rewrites its OWN
    partition instead of appending a duplicate (the
    streaming/sketches.py store pattern; plain append would double the
    quarantine on every checkpoint replay).
    """
    from blockchain_data_engineering_spark.sources.io import (
        upsert_parquet,
        write_partitioned,
    )

    suite = expectation_suite(batch, checks)
    failing = [
        r["check_name"]
        for r in suite.where(F.col("n_fail") > 0).collect()
    ]
    if not failing:
        upsert_parquet(batch, path, key_cols)
        return True
    write_partitioned(
        batch.withColumn(
            "__failed_checks", F.lit(",".join(sorted(failing)))
        ).withColumn("__batch_id", F.lit(int(batch_id))),
        quarantine_path,
        ["__batch_id"],
    )
    return False


def referential_integrity(
    child: DataFrame,
    parent: DataFrame,
    fk_cols: Sequence[str],
    pk_cols: Sequence[str],
    relationship: str,
) -> DataFrame:
    """Foreign-key audit: one row
    ``(relationship, n_child, n_orphans, n_null_fk)`` for
    ``child.fk_cols → parent.pk_cols``. NULL FKs are counted
    separately, not as orphans (SQL FK semantics: a NULL reference is
    absent, not broken).

    Scale shape: orphans come from a LEFT ANTI join on the key
    (shuffle or broadcast per Catalyst/AQE — the parent's distinct key
    projection is usually the small side), counted with a map-side
    combinable aggregate; n_child/n_null need no join at all, so the
    child table is scanned twice but shuffled once. Union the outputs
    for a whole-schema audit (see plans.lake_queries
    ``dq_referential_integrity``).
    """
    fk = list(fk_cols)
    if len(fk) != len(pk_cols):
        raise ValueError(
            f"fk/pk arity mismatch: {fk_cols!r} vs {pk_cols!r}"
        )
    keys = child.select(*fk)
    null_fk = None
    for c in fk:
        cond = F.col(c).isNull()
        null_fk = cond if null_fk is None else (null_fk | cond)
    base = keys.agg(
        F.count(F.lit(1)).cast("long").alias("n_child"),
        F.sum(F.when(null_fk, 1).otherwise(0)).cast("long").alias("n_null_fk"),
    )
    parent_keys = parent.select(
        *[F.col(p).alias(c) for c, p in zip(fk, pk_cols)]
    ).distinct()
    orphans = (
        keys.where(~null_fk)
        .join(parent_keys, fk, "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
    )
    return base.crossJoin(orphans).select(
        F.lit(relationship).alias("relationship"),
        "n_child",
        "n_orphans",
        "n_null_fk",
    )


def schema_drift(old: DataFrame, new: DataFrame) -> DataFrame:
    """Schema-drift report between two table versions: one row per
    column that was ADDED, REMOVED, or TYPE-CHANGED (unchanged columns
    are omitted) — the check an ingest pipeline runs BEFORE handing a
    new snapshot to ``upsert_parquet(merge_schema=...)``, turning the
    upsert guard's refusal into an actionable diff. Pure
    driver-side metadata (two schema objects, zero jobs); the result
    is a tiny DataFrame so it can be sunk next to the DQ expectation
    reports.
    """
    spark = old.sparkSession
    o = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    n = {f.name: f.dataType.simpleString() for f in new.schema.fields}
    rows = []
    for c in sorted(o.keys() | n.keys()):
        if c not in n:
            rows.append((c, o[c], None, "removed"))
        elif c not in o:
            rows.append((c, None, n[c], "added"))
        elif o[c] != n[c]:
            rows.append((c, o[c], n[c], "type_changed"))
    return spark.createDataFrame(
        rows, "column string, old_type string, new_type string, status string"
    )


def _drift_share_grain(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    keys: Sequence[str],
) -> DataFrame:
    """The shared category-grain drift construction
    (:func:`distribution_drift_tvd` / :func:`distribution_psi`): one
    map-side-combinable count per side at (keys, category) grain, one
    full-outer category join (a category missing on one side counts
    0 there), ONE window per side for the group totals — bounded at
    category grain, the drift operators' contract. Returns
    ``(*keys, __v, __r, __c, __nr, __nc)`` (the scalar consumers
    prune ``__v``; :func:`distribution_drift_explain` keeps it as
    the drill-down's category column). NULL categories are excluded
    (a NULL is no category — coalesce to a sentinel upstream to track
    NULL's share).

    NULL-keyed rows are EXCLUDED at entry (the keyed-join alignment
    convention, see ``ml_eval.kendall_tau``): the category alignment
    is a full-outer join on (keys, category), which cannot match
    NULL = NULL — without the filter a NULL-keyed group's identical
    category lands as TWO unmatched rows and the drift statistics
    read MAXIMAL drift for identical data. ``coalesce`` the key to a
    sentinel upstream if NULL should be a real group."""
    keyed = list(keys)
    key_nn = F.col(value_col).isNotNull()
    for c in keyed:
        key_nn = key_nn & F.col(c).isNotNull()
    count_side = lambda df, out: (  # noqa: E731
        df.where(key_nn)
        .groupBy(*keyed, F.col(value_col).alias("__v"))
        .agg(F.count(F.lit(1)).cast("long").alias(out))
    )
    cats = count_side(ref, "__r").join(
        count_side(cur, "__c"), keyed + ["__v"], "full"
    ).select(
        *keyed,
        "__v",
        F.coalesce(F.col("__r"), F.lit(0)).cast("long").alias("__r"),
        F.coalesce(F.col("__c"), F.lit(0)).cast("long").alias("__c"),
    )
    w = Window.partitionBy(*keyed)
    return cats.select(
        *keyed,
        "__v",
        "__r",
        "__c",
        F.sum("__r").over(w).cast("long").alias("__nr"),
        F.sum("__c").over(w).cast("long").alias("__nc"),
    )


def distribution_drift_tvd(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Categorical distribution drift per ``keys`` group between a
    REFERENCE snapshot and a CURRENT one, as total variation distance
    — ``TVD = ½ Σ_c |p_ref(c) − p_cur(c)|`` over the union of
    categories: the DQ check that catches an upstream source silently
    changing its mix (a language's share collapsing, an event type
    vanishing) where :func:`schema_drift` only catches shape changes.
    TVD is the drift statistic whose terms stay EXACT rationals with
    no quantization at all (χ² is still rejected: it squares
    cross-products past DECIMAL(38,0) at ~10^9 rows per side); it is
    bounded in [0, 1] and has the operational reading "the largest
    possible disagreement in the share of any category set". For the
    number monitoring dashboards quote, :func:`distribution_psi`
    computes PSI on the same grain via the literal log-quanta table
    design (quantized, error bounded and documented there) — run both
    from one grain; they answer different questions (TVD: worst-case
    share disagreement; PSI: likelihood-ratio-weighted drift that
    amplifies tail categories).

    Exactness — EXACT: clearing denominators,
    ``TVD = Σ_c |r_c·n_cur − c_c·n_ref| / (2·n_ref·n_cur)`` — the
    numerator is an integer sum in DECIMAL(38,0) (each term
    ≤ n_ref·n_cur ≤ 10^20), one final IEEE division. ``tvd`` is NULL
    when either side of the group is empty (drift from/to nothing is
    undefined, not 0 and not 1 — surface it, don't score it). NULL
    categories are EXCLUDED (the module's row-level checks make NULL
    visible; here a NULL is no category — ``coalesce`` to a sentinel
    first if NULL's share should be tracked).

    Scale shape: one map-side-combinable count per side at
    (keys, category) grain, one full-outer category join, ONE window
    per side for the group totals (category grain — bounded for
    categorical columns, the operator's contract), one final
    aggregate. Returns ``n_ref``, ``n_cur``, ``n_categories`` (union
    grain), ``tvd_num`` (DECIMAL(38,0) — serialize as string in gate
    queries) and ``tvd``."""
    keyed = list(keys)
    withtot = _drift_share_grain(ref, cur, value_col, keyed)
    term = F.abs(
        F.col("__r").cast("decimal(38,0)") * F.col("__nc")
        - F.col("__c").cast("decimal(38,0)") * F.col("__nr")
    )
    agg = withtot.groupBy(*keyed).agg(
        F.any_value(F.col("__nr")).cast("long").alias("n_ref"),
        F.any_value(F.col("__nc")).cast("long").alias("n_cur"),
        F.count(F.lit(1)).cast("long").alias("n_categories"),
        F.coalesce(F.sum(term), F.lit(0))
        .cast("decimal(38,0)")
        .alias("tvd_num"),
    )
    den = (
        F.lit(2).cast("decimal(38,0)")
        * F.col("n_ref").cast("decimal(38,0)")
        * F.col("n_cur")
    ).cast("decimal(38,0)")
    return agg.select(
        *keyed,
        "n_ref",
        "n_cur",
        "n_categories",
        "tvd_num",
        F.when(
            (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
            F.col("tvd_num").cast("double") / den.cast("double"),
        ).alias("tvd"),
    )


# PSI log-quanta: round(10^12·ln(i)) for i on the share grid,
# precomputed ONCE in Python and embedded as integer LITERALS in both
# engines — constants of the metric, never an engine log() whose low
# bits could diverge (the ml_eval.ndcg_discounts / log_loss_table
# recipe, sanctioned by the r9 verdict for exactly this family).
_PSI_LN_SCALE = 10**12
_PSI_GRID_MAX = 4096


def psi_ln_table(grid: int) -> list[int]:
    """The literal integer ln table for :func:`distribution_psi`:
    ``T[i] = round(10^12 · ln(i))`` for i in 1..grid."""
    import math

    if not 2 <= grid <= _PSI_GRID_MAX:
        raise ValueError(
            f"share_grid must be in 2..{_PSI_GRID_MAX} (literal-table "
            f"contract), got {grid}"
        )
    return [
        round(_PSI_LN_SCALE * math.log(i)) for i in range(1, grid + 1)
    ]


def psi_ln_lookup(tab: list[int], idx: Column) -> Column:
    """``T[idx]`` as ONE literal-array ``get`` instead of a G-row
    ``createDataFrame`` + broadcast-hash join per lookup (r12, guide
    §1.2 / §2.4): the ln table is a constant of the metric, so it
    belongs in the EXPRESSION, not in a relation — each relational
    lookup paid a driver→JVM local-relation round-trip plus one
    BroadcastExchange per reference, measured ~1.3 s of pure overhead
    per from-cells gate whose data is ≤ k² rows. ``F.get`` is 0-based
    and returns NULL for NULL / zero / negative / past-the-end
    indices, which is EXACTLY the old left-join semantics against the
    1-indexed table (no match ⇒ NULL term, downstream guards
    unchanged). The DuckDB oracle twins keep their VALUES ln_tab CTEs
    — the literal values are identical by construction.

    The array is built with ONE ``F.expr`` parse, not ``F.lit(list)``:
    the lit path converts the G elements through py4j one by one —
    measured 0.59 s of pure DRIVER time per lookup site at G = 1000,
    where parsing the array() text costs ~4 ms. (Driver-side
    construction time is inside the bench's timed region, so it is as
    real as executor time for these sub-second gates.)"""
    arr = F.expr("array(" + ",".join(f"{int(t)}L" for t in tab) + ")")
    return F.get(arr, idx.cast("int") - F.lit(1))


def distribution_psi(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    keys: Sequence[str] = (),
    share_grid: int = 1000,
) -> DataFrame:
    """Population stability index per ``keys`` group between a
    REFERENCE snapshot and a CURRENT one —
    ``PSI = Σ_c (p_cur(c) − p_ref(c))·ln(p_cur(c)/p_ref(c))`` over the
    union of categories: the drift number monitoring dashboards quote
    next to :func:`distribution_drift_tvd` (rule of thumb: < 0.1
    stable, 0.1–0.25 drifting, > 0.25 shifted). Where TVD reads
    worst-case share disagreement, PSI weights each category's change
    by its log likelihood ratio, amplifying collapses of small
    categories that TVD barely sees. Algebraically PSI IS the
    symmetrized Kullback-Leibler divergence (Jeffreys' J-divergence,
    ``KL(p‖q) + KL(q‖p)``) — the DIRECTIONAL one-sided form
    (train→serve surprise, which tells you WHICH side moved) is
    :func:`distribution_kl` on the same grain and table, and
    :func:`distribution_js` is the mixture-symmetrized form — the
    whole KL family reads from one ``_drift_share_grain``.

    Quantization design (the literal log-quanta table — the engine's
    sanctioned escape from the no-engine-log exactness policy): each
    side's share is floor-quantized to the integer grid
    ``q = (count·G) div n_side`` with ``G = share_grid``, eps-filled
    to ≥ 1 quantum (PSI is undefined on empty buckets; the classic
    convention fills them with a small epsilon — here exactly one
    quantum, 1/G). What is then computed is EXACTLY the PSI of the
    two quantized distributions:
    ``psi_num = Σ_c (q_cur − q_ref)·(T[q_cur] − T[q_ref])`` with
    ``T[i] = round(10^12·ln(i))`` literal integers (both factors
    share a sign, so every term is ≥ 0 like true PSI), and
    ``psi = psi_num/(G·10^12)`` is one IEEE division. Error: the ln
    table contributes ≤ 10^-12 per category; the share quantization
    perturbs each share by < 1/G (plus the eps-fill on empty/tiny
    buckets — the standard PSI epsilon caveat: categories absent from
    one side contribute ``(q − 1)·ln(q)/G`` rather than ∞). With the
    default G = 1000 the share resolution is 0.1% — finer than any
    monitoring threshold in use; raise G (≤ 4096) when tracking
    sub-0.1% categories, or read TVD (exact) alongside.

    Scale shape: identical to TVD on the data side — the shared
    :func:`_drift_share_grain` (category-grain counts, full-outer
    join, one bounded window per side), then two literal-array
    ``get`` lookups of the G-entry ln table (:func:`psi_ln_lookup`)
    in a codegen Project — no join, no exchange — and one final
    aggregate; the SQL twin joins the same values as a VALUES
    relation. ``psi`` is NULL when
    either side of the group is empty (drift from/to nothing —
    surface it, don't score it; ``psi_num`` is 0 there, never a
    division by a zero total). Returns ``n_ref``, ``n_cur``,
    ``n_categories``, ``psi_num`` (DECIMAL(38,0) — serialize as
    string in gate queries) and ``psi``."""
    tab = psi_ln_table(share_grid)
    g = int(share_grid)
    keyed = list(keys)
    withtot = _drift_share_grain(ref, cur, value_col, keyed)
    q = lambda cnt, tot: F.greatest(  # noqa: E731
        F.lit(1).cast("long"),
        F.expr(f"(CAST({cnt} AS DECIMAL(38,0)) * {g}) div {tot}"),
    )
    quantized = withtot.select(
        *keyed,
        "__nr",
        "__nc",
        F.when(
            (F.col("__nr") > 0) & (F.col("__nc") > 0),
            q("__r", "__nr"),
        ).alias("__qr"),
        F.when(
            (F.col("__nr") > 0) & (F.col("__nc") > 0),
            q("__c", "__nc"),
        ).alias("__qc"),
    )
    # literal-array lookups (r12, psi_ln_lookup): a NULL q (one side
    # of the group empty) yields a NULL lookup, so the term stays
    # NULL and the sum skips it — the same surface-don't-score arm
    # the old LEFT joins encoded
    quantized = quantized.withColumn(
        "__lr", psi_ln_lookup(tab, F.col("__qr"))
    ).withColumn("__lc", psi_ln_lookup(tab, F.col("__qc")))
    term = (
        (F.col("__qc") - F.col("__qr")).cast("decimal(38,0)")
        * (F.col("__lc") - F.col("__lr"))
    ).cast("decimal(38,0)")
    agg = quantized.groupBy(*keyed).agg(
        F.any_value(F.col("__nr")).cast("long").alias("n_ref"),
        F.any_value(F.col("__nc")).cast("long").alias("n_cur"),
        F.count(F.lit(1)).cast("long").alias("n_categories"),
        F.coalesce(F.sum(term), F.lit(0))
        .cast("decimal(38,0)")
        .alias("psi_num"),
    )
    den = (
        F.lit(g).cast("decimal(38,0)") * F.lit(_PSI_LN_SCALE)
    ).cast("decimal(38,0)")
    return agg.select(
        *keyed,
        "n_ref",
        "n_cur",
        "n_categories",
        "psi_num",
        F.when(
            (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
            F.col("psi_num").cast("double") / den.cast("double"),
        ).alias("psi"),
    )


def distribution_kl(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    keys: Sequence[str] = (),
    share_grid: int = 1000,
) -> DataFrame:
    """One-sided Kullback-Leibler divergence ``KL(cur‖ref)`` per
    ``keys`` group — the DIRECTIONAL drift number: "how surprised is
    the reference model by today's data", the standard train→serve
    monitoring direction (:func:`distribution_psi` symmetrizes it —
    PSI ≡ KL(p‖q) + KL(q‖p), Jeffreys' J — and
    :func:`distribution_js` mixes it; neither tells you WHICH side
    moved). ``KL = Σ_c p_cur(c)·ln(p_cur(c)/p_ref(c))`` over the
    union of categories.

    Quantization design (the literal ln-quanta table, exactly
    :func:`distribution_psi`): the CURRENT side floor-quantizes with
    NO clamp (``q_cur = (count·G) div n_cur``; a zero current share
    contributes exactly 0 — the 0·ln 0 = 0 convention taken on the
    integer side) while the REFERENCE side — the denominator, where
    a zero is singular — eps-fills to ≥ 1 quantum
    (``q_ref = max(1, (count·G) div n_ref)``: a category the
    reference never saw is scored as if it had share 1/G — the
    classic epsilon convention, made exact). What is computed is
    EXACTLY the KL of the quantized share vectors:
    ``kl_num = Σ_c q_cur·(T[q_cur] − T[q_ref])`` with
    ``T[i] = round(10^12·ln i)`` literal integers, and
    ``kl = kl_num/(G·10^12)`` is one IEEE division. Unlike PSI's
    terms (whose two factors share a sign), individual KL terms CAN
    be negative — non-negativity of the SUM is Gibbs' inequality on
    normalized vectors, which floor quantization perturbs by
    < n_categories/G (the :func:`distribution_js` slack note; the
    ref-side eps-fill additionally over-weights never-seen
    categories by up to (G−1)/G... of one quantum each). With the
    default G = 1000 the slack is ≪ the 0.1/0.25-style thresholds
    KL is read against; raise G (≤ 4096) for finer mixes, or read
    TVD (exact) alongside.

    Scale shape: identical to TVD/PSI — the shared
    :func:`_drift_share_grain` (category-grain counts, full-outer
    join, one bounded window per side), two literal-array ``get``
    lookups of the G-entry ln table (:func:`psi_ln_lookup`) in a
    codegen Project — no join, no exchange — one final aggregate. ``kl`` is NULL when either side of the group is empty
    (drift from/to nothing — surface it, don't score it). Returns
    ``n_ref``, ``n_cur``, ``n_categories``, ``kl_num``
    (DECIMAL(38,0) — serialize as string in gate queries) and
    ``kl``."""
    tab = psi_ln_table(share_grid)
    g = int(share_grid)
    keyed = list(keys)
    withtot = _drift_share_grain(ref, cur, value_col, keyed)
    q_raw = lambda cnt, tot: F.expr(  # noqa: E731
        f"(CAST({cnt} AS DECIMAL(38,0)) * {g}) div {tot}"
    )
    both = (F.col("__nr") > 0) & (F.col("__nc") > 0)
    quantized = withtot.select(
        *keyed,
        "__nr",
        "__nc",
        # ref side (the denominator): eps-filled to one quantum
        F.when(
            both,
            F.greatest(F.lit(1).cast("long"), q_raw("__r", "__nr")),
        ).alias("__qr"),
        # cur side: NO clamp — zero stays zero (0·ln 0 = 0 arm)
        F.when(both, q_raw("__c", "__nc")).alias("__qc"),
    )
    # literal-array lookups (r12, psi_ln_lookup): q_cur = 0 finds no
    # table entry (1-indexed) — its term is forced to 0 by the guard
    # below; a NULL q (one side of the group empty) propagates to a
    # NULL term, the sum skips it, and kl is NULLed by the final guard
    quantized = quantized.withColumn(
        "__lr", psi_ln_lookup(tab, F.col("__qr"))
    ).withColumn("__lc", psi_ln_lookup(tab, F.col("__qc")))
    term = F.when(
        F.col("__qr").isNotNull() & F.col("__qc").isNotNull(),
        F.when(
            F.col("__qc") > 0,
            F.col("__qc").cast("decimal(38,0)")
            * (F.col("__lc") - F.col("__lr")),
        ).otherwise(F.lit(0).cast("decimal(38,0)")),
    ).cast("decimal(38,0)")
    agg = quantized.groupBy(*keyed).agg(
        F.any_value(F.col("__nr")).cast("long").alias("n_ref"),
        F.any_value(F.col("__nc")).cast("long").alias("n_cur"),
        F.count(F.lit(1)).cast("long").alias("n_categories"),
        F.coalesce(F.sum(term), F.lit(0))
        .cast("decimal(38,0)")
        .alias("kl_num"),
    )
    den = (
        F.lit(g).cast("decimal(38,0)") * F.lit(_PSI_LN_SCALE)
    ).cast("decimal(38,0)")
    return agg.select(
        *keyed,
        "n_ref",
        "n_cur",
        "n_categories",
        "kl_num",
        F.when(
            (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
            F.col("kl_num").cast("double") / den.cast("double"),
        ).alias("kl"),
    )


def distribution_drift_explain(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    keys: Sequence[str] = (),
    share_grid: int = 1000,
) -> DataFrame:
    """Per-CATEGORY drift drill-down on the shared grain — the rows a
    dashboard shows when :func:`distribution_psi` /
    :func:`distribution_kl` / :func:`distribution_drift_tvd` cross a
    threshold and someone asks WHICH category moved: one row per
    (keys, category) carrying the exact integer term that category
    contributes to each scalar. The contract that makes the
    drill-down trustworthy (pinned in tests): per group,
    ``sum(tvd_term_num) == tvd_num``, ``sum(psi_term_num) ==
    psi_num`` and ``sum(kl_term_num) == kl_num`` of the scalar
    operators — the explain rows ARE the scalars, disaggregated, not
    a parallel approximation that can disagree with the alert.

    Per category c: ``n_ref_cat``/``n_cur_cat`` (exact counts),
    ``share_delta = c/n_cur − r/n_ref`` (two IEEE divisions + one
    subtraction — correctly rounded, engine-identical),
    ``tvd_term_num = |r·n_cur − c·n_ref|`` (exact; sums to
    2·n_ref·n_cur·TVD), ``psi_term_num = (q_c^ − q_r^)·(T[q_c^] −
    T[q_r^])`` (both shares clamped to ≥ 1 quantum — PSI's
    quantization, every term ≥ 0), and ``kl_term_num = [q_c > 0]
    q_c·(T[q_c] − T[q_r^])`` (cur raw, ref eps-filled — KL's
    quantization; terms CAN be negative: a category whose current
    share trails its reference share argues AGAINST drift, and
    hiding that would make the drill-down sum disagree with the
    scalar). All term columns are NULL when either side of the group
    is empty (surface, don't score — the scalar convention), and
    DECIMAL(38,0) otherwise (serialize as strings in gate queries).

    Scale shape: the shared :func:`_drift_share_grain` + three
    literal-array ``get`` lookups of the G-entry ln table
    (:func:`psi_ln_lookup`, a codegen Project — no join, no exchange)
    — identical to the scalar plans, stopping one aggregate short. Sort consumers by
    ``psi_term_num`` DESC for the "top movers" view."""
    tab = psi_ln_table(share_grid)
    g = int(share_grid)
    keyed = list(keys)
    withtot = _drift_share_grain(ref, cur, value_col, keyed)
    both = (F.col("__nr") > 0) & (F.col("__nc") > 0)
    q_raw = lambda cnt, tot: F.expr(  # noqa: E731
        f"(CAST({cnt} AS DECIMAL(38,0)) * {g}) div {tot}"
    )
    clamp1 = lambda c: F.greatest(F.lit(1).cast("long"), c)  # noqa: E731
    quantized = withtot.select(
        *keyed,
        F.col("__v"),
        "__r",
        "__c",
        "__nr",
        "__nc",
        F.when(both, clamp1(q_raw("__r", "__nr"))).alias("__qr"),
        F.when(both, clamp1(q_raw("__c", "__nc"))).alias("__qc"),
        F.when(both, q_raw("__c", "__nc")).alias("__qcr"),
    )
    # literal-array lookups (r12, psi_ln_lookup) — same NULL/0 arms
    # as the old LEFT joins
    quantized = (
        quantized.withColumn("__lr", psi_ln_lookup(tab, F.col("__qr")))
        .withColumn("__lc", psi_ln_lookup(tab, F.col("__qc")))
        .withColumn("__lcr", psi_ln_lookup(tab, F.col("__qcr")))
    )
    tvd_term = F.when(
        both,
        F.abs(
            F.col("__r").cast("decimal(38,0)") * F.col("__nc")
            - F.col("__c").cast("decimal(38,0)") * F.col("__nr")
        ),
    ).cast("decimal(38,0)")
    psi_term = F.when(
        both,
        (F.col("__qc") - F.col("__qr")).cast("decimal(38,0)")
        * (F.col("__lc") - F.col("__lr")),
    ).cast("decimal(38,0)")
    kl_term = F.when(
        both,
        F.when(
            F.col("__qcr") > 0,
            F.col("__qcr").cast("decimal(38,0)")
            * (F.col("__lcr") - F.col("__lr")),
        ).otherwise(F.lit(0).cast("decimal(38,0)")),
    ).cast("decimal(38,0)")
    share_delta = F.when(
        both,
        F.col("__c").cast("double") / F.col("__nc").cast("double")
        - F.col("__r").cast("double") / F.col("__nr").cast("double"),
    )
    return quantized.select(
        *keyed,
        F.col("__v").alias("value"),
        F.col("__r").alias("n_ref_cat"),
        F.col("__c").alias("n_cur_cat"),
        F.col("__nr").alias("n_ref"),
        F.col("__nc").alias("n_cur"),
        share_delta.alias("share_delta"),
        tvd_term.alias("tvd_term_num"),
        psi_term.alias("psi_term_num"),
        kl_term.alias("kl_term_num"),
    )


def distribution_js(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    keys: Sequence[str] = (),
    share_grid: int = 1000,
) -> DataFrame:
    """Jensen-Shannon divergence per ``keys`` group between a
    REFERENCE snapshot and a CURRENT one —
    ``JS = ½·KL(p‖m) + ½·KL(q‖m)`` with ``m = ½(p+q)`` — the third
    drift lens completing :func:`distribution_drift_tvd` (exact
    worst-case share disagreement) and :func:`distribution_psi`
    (likelihood-ratio-weighted drift): JS is SYMMETRIC, bounded in
    [0, ln 2], and — unlike PSI — needs NO epsilon convention for
    one-sided categories: a category absent from one side contributes
    its mass against the mixture, a finite ``(q/2)·ln 2`` rather than
    PSI's eps-filled spike, which makes JS the stable choice when new
    categories appear routinely (new languages, new event types).

    Quantization design (the literal log-quanta table, as
    :func:`distribution_psi`): each side's share is floor-quantized
    to ``q = (count·G) div n_side`` on the ``G = share_grid`` grid
    (NO clamp — zero stays zero), the mixture lives on the 2G grid as
    ``q_m = q_ref + q_cur``, and
    ``js_num = Σ_c [q_ref·(T[2·q_ref] − T[q_m]) +
    q_cur·(T[2·q_cur] − T[q_m])]`` with ``T = psi_ln_table(2G)``
    literal integers (a zero share's arm contributes exactly 0 — the
    ``0·ln 0 = 0`` convention, taken on the integer side so no log of
    0 is ever looked up); ``js = js_num/(2·G·10^12)`` is one IEEE
    division. What is computed is EXACTLY the JS functional of the
    two quantized share vectors: each true share is perturbed by
    < 1/G (floor), so the quantized vectors may sum to slightly
    under 1 (by < n_categories/G) — for pathological many-tiny-
    category mixes that sub-normalization can push the functional a
    hair below 0; with the default G = 1000 and dashboard-scale
    category counts the effect is ≪ the 0.1-style thresholds JS is
    read against. Raise G (≤ 2048 here, since the table spans 2G)
    for finer mixes, or read TVD (exact) alongside.

    Scale shape: identical to TVD/PSI on the data side — the shared
    :func:`_drift_share_grain`, then three literal-array ``get``
    lookups of the 2G-entry ln table (:func:`psi_ln_lookup`:
    T[2·q_ref], T[2·q_cur] and the mixture's T[q_ref + q_cur], which
    each term reads twice) in a codegen Project — no join, no
    exchange — and one final aggregate; the SQL twin joins the same
    values as a VALUES relation. ``js`` is NULL when either side
    of the group is empty. Returns ``n_ref``, ``n_cur``,
    ``n_categories``, ``js_num`` (DECIMAL(38,0) — serialize as
    string in gate queries) and ``js``."""
    g = int(share_grid)
    if not 2 <= g <= _PSI_GRID_MAX // 2:
        raise ValueError(
            f"share_grid must be in 2..{_PSI_GRID_MAX // 2} (the ln "
            f"table spans 2·share_grid), got {g}"
        )
    tab = psi_ln_table(2 * g)
    keyed = list(keys)
    withtot = _drift_share_grain(ref, cur, value_col, keyed)
    q = lambda cnt, tot: F.expr(  # noqa: E731
        f"(CAST({cnt} AS DECIMAL(38,0)) * {g}) div {tot}"
    )
    quantized = withtot.select(
        *keyed,
        "__nr",
        "__nc",
        F.when(
            (F.col("__nr") > 0) & (F.col("__nc") > 0), q("__r", "__nr")
        ).alias("__qr"),
        F.when(
            (F.col("__nr") > 0) & (F.col("__nc") > 0), q("__c", "__nc")
        ).alias("__qc"),
    )
    # literal-array lookups (r12, psi_ln_lookup) — same NULL/0 arms
    # as the old LEFT joins (a zero index finds no entry)
    joined = (
        quantized.withColumn("__t2r", psi_ln_lookup(tab, F.col("__qr") * 2))
        .withColumn("__t2c", psi_ln_lookup(tab, F.col("__qc") * 2))
        .withColumn(
            "__tm", psi_ln_lookup(tab, F.col("__qr") + F.col("__qc"))
        )
    )
    # a zero quantized share finds no table row (indices start at 1):
    # its arm contributes exactly 0 — the 0·ln 0 = 0 convention. NULL
    # q (one side of the group empty) propagates to a NULL term, the
    # sum skips it, and js is NULLed by the final guard.
    arm = lambda qcol, tcol: F.when(  # noqa: E731
        F.col(qcol) > 0,
        F.col(qcol).cast("decimal(38,0)")
        * (F.col(tcol) - F.col("__tm")),
    ).otherwise(F.lit(0).cast("decimal(38,0)"))
    term = (
        F.when(
            F.col("__qr").isNotNull() & F.col("__qc").isNotNull(),
            F.when(
                (F.col("__qr") + F.col("__qc")) > 0,
                arm("__qr", "__t2r") + arm("__qc", "__t2c"),
            ).otherwise(F.lit(0).cast("decimal(38,0)")),
        )
    ).cast("decimal(38,0)")
    agg = joined.groupBy(*keyed).agg(
        F.any_value(F.col("__nr")).cast("long").alias("n_ref"),
        F.any_value(F.col("__nc")).cast("long").alias("n_cur"),
        F.count(F.lit(1)).cast("long").alias("n_categories"),
        F.coalesce(F.sum(term), F.lit(0))
        .cast("decimal(38,0)")
        .alias("js_num"),
    )
    den = (
        F.lit(2 * g).cast("decimal(38,0)") * F.lit(_PSI_LN_SCALE)
    ).cast("decimal(38,0)")
    return agg.select(
        *keyed,
        "n_ref",
        "n_cur",
        "n_categories",
        "js_num",
        F.when(
            (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
            F.col("js_num").cast("double") / den.cast("double"),
        ).alias("js"),
    )


