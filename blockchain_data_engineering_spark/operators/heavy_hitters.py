"""Mergeable deterministic heavy-hitters summary (Misra–Gries).

Completes the sketch family (distinct: KMV/HLL, membership: Bloom,
frequency POINT PROBES: CMS, percentiles: the r7 quantile sketch —
operators/relational.py, operators/quantiles.py, streaming/sketches.py)
with the one remaining member: FINDING the top keys. CMS can only
answer frequencies for keys you already suspect; an exact
``groupBy(key).count()`` finds them but its state is |distinct keys| —
unbounded at 100 TB. The Misra–Gries summary ("Finding repeated
elements", Misra & Gries, Sci. Comput. Program. 1982; the SpaceSaving
variant is Metwally–Agrawal–El Abbadi ICDT 2005) keeps exactly ≤ k
counters with the guarantee ``f − n/(k+1) ≤ c ≤ f``, and is MERGEABLE
with no loss of that guarantee (Agarwal, Cormode, Huang, Phillips,
Wei & Yi, "Mergeable summaries", PODS 2012 §3.1: add counters keyed by
item, subtract the (k+1)-th largest combined counter from all, drop the
non-positive — the subtracted mass is ≥ d·(k+1), so the cumulative
error stays ≤ (n_A + n_B)/(k+1)).

No reference counterpart (the reference engine has no sketch surface —
654 LoC of per-batch REST ETL); this extends the training-data superset
alongside operators/quantiles.py. The training-data uses are the
vocabulary head (BPE seeding, stop-list audits), hot-key detection for
skew salting, and per-source token attribution — each a "what ARE the
top keys" question over a stream too wide to groupBy exactly.

Determinism: classic MG is stream-order-dependent. This implementation
builds the summary from the EXACT per-group item counts (one map-side-
combinable hash aggregate collapses the facts to |distinct items|
grain) and then applies one offset step — keep the top k counters,
subtract the (k+1)-th largest count ``d`` — which IS a valid MG
summary (c = f − d ≤ f, and f − c = d ≤ n/(k+1) because k+1 items each
have count ≥ d), is independent of row order, and is replayable in any
engine with a window function. The top k+1 is the shared
``relational.bottom_k`` step. Rank ties break by the md5 of the item
(then the item itself) — the repo's deterministic-tiebreak idiom
(quantiles.row_priority) — so the kept set is bit-identical everywhere.
Items at the rank boundary tied WITH ``d`` get c = 0 and drop, on both
engines, by the same ``cnt > d`` predicate.

State (one row per ``keys`` group, the quantile-sketch layout):
``n_total`` (long — items counted, NULLs excluded), ``err`` (long —
the accumulated subtraction offset; 0 for a fresh build over ≤ k
distinct items), ``counters`` (array<struct<item,c>> sorted by item —
order is presentational; ≤ k entries, possibly EMPTY when every
counter cancelled at a merge boundary, in which case the state still
asserts f ≤ err for every item). For any item x:
``c_x ≤ f_x ≤ c_x + err`` if stored, else ``f_x ≤ err``; and
``err ≤ n_total/(k+1)`` through any sequence of merges.

Scale shape: the build is ONE hash aggregate (map-side combinable — the
shuffle carries |distinct items per partition| partial counts, never
the facts) + a WindowGroupLimit-bounded top-(k+1) over the AGGREGATED
grain + a |groups|-row offset broadcast. Merge is ONE n-way combine
over stacked states (:func:`heavy_hitters_combine` — per-batch deltas
read from the ``streaming/sketches.delta_sink`` store, or
``a.unionByName(b)`` for two, which is :func:`heavy_hitters_merge`);
merge and estimate are pure state-grain ops (|groups|·k rows). Keep ``k+1`` under
``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000) or
raise that conf.

Exactness contract: items are compared as strings (``item_col`` is
cast); counts and offsets are exact BIGINT arithmetic end-to-end — no
floats anywhere, so the DuckDB oracle replays the construction
bit-identically (plans/analytics_queries.py agg_heavy_hitters_merged).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from blockchain_data_engineering_spark.functions.scalar import bounded_window_key
from blockchain_data_engineering_spark.operators.quantiles import row_priority
from blockchain_data_engineering_spark.operators.relational import bottom_k

_ITEM = "item"
_C = "c"


def _item_tiebreak() -> Column:
    """60-bit md5 rank tiebreak of the ``item`` column — LITERALLY
    quantiles.row_priority over the one column (concat_ws over a
    single non-NULL column is the identity), so the two deterministic
    tiebreak hashes can never drift apart. DuckDB twin:
    ``CAST('0x' || substr(md5(item), 1, 15) AS BIGINT)``."""
    return row_priority((_ITEM,))


def _counters_struct() -> Column:
    return F.struct(F.col(_ITEM), F.col(_C))


def _offset_and_pack(
    counts: DataFrame, k: int, keyed: list[str]
) -> DataFrame:
    """Shared second stage of build and merge: from exact/combined
    (keys, item, cnt) counts, rank per group by (cnt DESC, md5, item),
    take ``d`` = the (k+1)-th count (0 when absent), keep rank ≤ k with
    cnt > d as ``c = cnt − d``, and pack per group into
    ``(counters, __d)``. Returns one row per group THAT HAS counts —
    including groups whose counters all cancelled (empty array), so the
    caller can still carry their err. The top k+1 is the shared
    ``relational.bottom_k`` step: WindowGroupLimit-bounded when keyed
    (the window runs over the aggregated |distinct items| grain and
    only k+1 rows per group survive per partition before the
    exchange), TakeOrderedAndProject when global."""
    order = [
        F.col("cnt").desc(),
        _item_tiebreak(),
        F.col(_ITEM),
    ]
    ranked = bottom_k(counts, keyed, order, k + 1)
    if not keyed:
        # the rank of the ≤ k+1 global survivors: a bounded window,
        # declared as such (functions.scalar.bounded_window_key)
        w = Window.partitionBy(bounded_window_key(_ITEM)).orderBy(*order)
        ranked = ranked.withColumn("__rn", F.row_number().over(w))
    d = ranked.where(F.col("__rn") == k + 1).select(
        *keyed, F.col("cnt").alias("__d")
    )
    if keyed:
        joined = ranked.where(F.col("__rn") <= k).join(
            F.broadcast(d), keyed, "left"
        )
    else:
        joined = (
            ranked.where(F.col("__rn") <= k)
            .withColumn("__k", F.lit(1))
            .join(
                F.broadcast(d.withColumn("__k", F.lit(1))), "__k", "left"
            )
            .drop("__k")
        )
    dd = F.coalesce(F.col("__d"), F.lit(0).cast("long"))
    kept = joined.select(
        *keyed,
        F.col(_ITEM),
        (F.col("cnt") - dd).cast("long").alias(_C),
        dd.alias("__d"),
    )
    # collect_list of the survivors + any_value of the group's d; a
    # group whose every counter cancelled (all kept c ≤ 0) still emits
    # its row — filter INSIDE the array so the group row survives
    packed = kept.groupBy(*keyed).agg(
        F.array_sort(
            F.collect_list(
                F.when(F.col(_C) > 0, _counters_struct())
            )
        ).alias("counters"),
        F.any_value(F.col("__d")).alias("__d"),
    )
    return packed


def heavy_hitters_state(
    df: DataFrame,
    item_col: str,
    k: int,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Build the summary state: one row per ``keys`` group with
    ``n_total`` (long), ``err`` (long) and ``counters``
    (array<struct<item,c>>, ≤ k entries sorted by item). NULL items
    are excluded (they are no key). A fresh build's ``err`` is the
    (k+1)-th largest exact count — 0 when the group has ≤ k distinct
    items, in which case the summary is exact."""
    keyed = list(keys)
    base = df.where(F.col(item_col).isNotNull()).select(
        *keyed, F.col(item_col).cast("string").alias(_ITEM)
    )
    counts = base.groupBy(*keyed, _ITEM).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    totals = counts.groupBy(*keyed).agg(
        F.sum("cnt").cast("long").alias("n_total")
    )
    packed = _offset_and_pack(counts, k, keyed)
    if keyed:
        out = packed.join(totals, keyed)
    else:
        out = packed.crossJoin(F.broadcast(totals))  # two 1-row frames
    # coalesce: the GLOBAL build over an empty (or all-NULL-item)
    # input still emits one state row — its counts are 0, never NULL
    # (the documented state contract; keyed groups simply vanish)
    return out.select(
        *keyed,
        F.coalesce(F.col("n_total"), F.lit(0)).cast("long").alias("n_total"),
        F.coalesce(F.col("__d"), F.lit(0)).cast("long").alias("err"),
        "counters",
    )


def heavy_hitters_combine(
    states: DataFrame, k: int, keys: Sequence[str] = ()
) -> DataFrame:
    """N-way merge of STACKED states (one frame holding many per-group
    state rows, e.g. per-batch / per-shard deltas): counters sum
    item-wise, ONE (k+1)-th-largest subtraction ``d`` drops the
    non-positive, ``n_total`` adds and ``err = Σ errs + d``. A single
    offset step over all inputs at once — the PODS-2012 potential
    argument is unchanged (the subtraction removes ≥ d·(k+1) counter
    mass), so the combined ``err ≤ Σ n_i/(k+1)``; pinned empirically in
    tests/test_heavy_hitters.py and tests/test_streaming.py.

    The inputs must summarize pairwise-disjoint ROW populations
    (different days/shards/batches): ``n_total`` adds and a row counted
    twice inflates both the counters and the total (the additive-state
    contract, shared with quantiles.quantile_sketch_merge; contrast the
    idempotent HLL/Bloom register merges). Groups present in only some
    inputs pass through with d = 0 from the missing ones; a group whose
    counters all cancel keeps its row (empty array) so its error bound
    survives further merges. All ops run at state grain
    (|groups|·k·n_states rows), never the facts — PROVIDED the input
    states are materialized (read from a store, persisted, or
    checkpointed): this function references ``states`` twice (scalar
    sums + counter explode), so states still carrying their build
    lineage re-run the build per reference (plans/analytics_queries.py
    agg_heavy_hitters_merged persists its in-plan halves for exactly
    this reason; the streaming store reads parquet and needs
    nothing)."""
    keyed = list(keys)
    empty = F.array().cast("array<struct<item:string,c:bigint>>")
    scalars = states.groupBy(*keyed).agg(
        F.coalesce(F.sum("n_total"), F.lit(0)).cast("long").alias("n_total"),
        F.coalesce(F.sum("err"), F.lit(0)).cast("long").alias("__err_in"),
    )
    # item-wise counter sum at state grain (≤ k·n_states entries per
    # group), then the same offset step as the build
    counts = states.select(
        *keyed, F.explode("counters").alias("__s")
    ).groupBy(*keyed, F.col(f"__s.{_ITEM}").alias(_ITEM)).agg(
        F.sum(f"__s.{_C}").cast("long").alias("cnt")
    )
    packed = _offset_and_pack(counts, k, keyed)
    if keyed:
        out = scalars.join(packed, keyed, "left")
    else:
        # constant-key left join, NOT a cross join: two 1-row frames,
        # and packed may be empty when every counter cancelled
        out = (
            scalars.withColumn("__k", F.lit(1))
            .join(packed.withColumn("__k", F.lit(1)), "__k", "left")
            .drop("__k")
        )
    return out.select(
        *keyed,
        "n_total",
        (F.col("__err_in") + F.coalesce(F.col("__d"), F.lit(0)))
        .cast("long")
        .alias("err"),
        F.coalesce(F.col("counters"), empty).alias("counters"),
    )


def heavy_hitters_merge(
    a: DataFrame, b: DataFrame, k: int, keys: Sequence[str] = ()
) -> DataFrame:
    """Merge two summary states (Agarwal et al. PODS 2012 §3.1): sum
    counters item-wise, subtract the (k+1)-th largest combined counter
    ``d``, drop the non-positive; ``n_total`` adds and
    ``err = err_A + err_B + d``. The two-input case of
    :func:`heavy_hitters_combine` — see there for the guarantee and
    the disjoint-population precondition. Accepts states of any row
    count including empty frames; a group present in only one input
    passes through with its counters intact."""
    return heavy_hitters_combine(a.unionByName(b), k, keys)


def heavy_hitters_estimate(
    state: DataFrame, keys: Sequence[str] = ()
) -> DataFrame:
    """Flatten a state to estimator rows: one row per stored counter
    with ``count_lo = c`` (never over the true frequency) and
    ``count_hi = c + err`` (never under it), plus the group
    ``n_total``. Groups whose counters all cancelled emit no rows —
    their state still asserts every frequency ≤ err. Every item with
    true frequency > err is guaranteed present (it cannot have been
    cancelled), so a φ-heavy-hitter scan (f > φ·n) is COMPLETE
    whenever φ ≥ 1/(k+1) — the tight bound (err ≤ n/(k+1) ≤ φ·n, so
    f > φ·n ⇒ f > err; :func:`heavy_hitters_above` states the same
    bound)."""
    keyed = list(keys)
    return state.select(
        *keyed,
        "n_total",
        "err",
        F.explode("counters").alias("__s"),
    ).select(
        *keyed,
        F.col(f"__s.{_ITEM}").alias(_ITEM),
        F.col(f"__s.{_C}").alias("count_lo"),
        (F.col(f"__s.{_C}") + F.col("err")).cast("long").alias("count_hi"),
        "n_total",
    )


def heavy_hitters_above(
    state: DataFrame,
    phi_num: int,
    phi_den: int,
    keys: Sequence[str] = (),
) -> DataFrame:
    """φ-heavy-hitter scan from a state (φ = phi_num/phi_den as a
    RATIONAL so the threshold comparison stays exact integer
    arithmetic — ``count·den > num·n_total``, no float φ·n): estimator
    rows with ``count_hi > φ·n_total``, flagged ``guaranteed`` when
    even ``count_lo`` clears the bar. COMPLETE whenever φ ≥ 1/(k+1):
    every item with true frequency > φ·n_total appears (its f > err,
    so it cannot have been cancelled — module guarantee), and every
    ``guaranteed`` row is a true φ-heavy hitter; rows in between are
    candidates a second exact pass over just those keys can settle.
    Comparisons run in DECIMAL(38,0) so count·den never wraps."""
    if phi_den <= 0 or phi_num < 0:
        raise ValueError(
            f"phi must be a non-negative rational: got {phi_num}/{phi_den}"
        )
    est = heavy_hitters_estimate(state, keys)
    num = F.lit(int(phi_num)).cast("decimal(38,0)")
    den = F.lit(int(phi_den)).cast("decimal(38,0)")
    bar = num * F.col("n_total").cast("decimal(38,0)")
    return est.where(
        F.col("count_hi").cast("decimal(38,0)") * den > bar
    ).withColumn(
        "guaranteed",
        F.col("count_lo").cast("decimal(38,0)") * den > bar,
    )


def heavy_hitters(
    df: DataFrame,
    item_col: str,
    k: int,
    keys: Sequence[str] = (),
) -> DataFrame:
    """One-shot build → estimate: the ≤ k heaviest items per group with
    deterministic [count_lo, count_hi] bounds and the group total.
    For incremental / distributed rollups keep the
    :func:`heavy_hitters_state` and merge-then-estimate."""
    return heavy_hitters_estimate(
        heavy_hitters_state(df, item_col, k, keys), keys
    )
