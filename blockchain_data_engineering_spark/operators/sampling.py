"""Deterministic weighted priority sampling (Duffield–Lund–Thorup).

Priority sampling ("Priority sampling for estimation of arbitrary
subset sums", Duffield, Lund & Thorup, JACM 54(6), 2007): draw
``u_i`` uniform in (0,1] per row, give each row priority
``q_i = w_i / u_i``, keep the k LARGEST priorities, and let τ be the
(k+1)-th largest. Each kept row carries the estimator weight
``ŵ_i = max(w_i, τ)``; then for ANY subset S,
``E[Σ_{i∈sample∩S} ŵ_i] = Σ_{i∈S} w_i`` — one k-row sample answers
every future weighted subset-sum question unbiasedly, with near-
optimal variance (≤ W²/(k−1)). This is the WEIGHTED completion of the
repo's sampling family: the md5-threshold split and shard shuffle are
uniform samplers, ``sample_token_weighted`` is a systematic quota
pass over one fixed token line — priority sampling is the reusable
sample that stands in for the population (train-subset token audits,
source-mix accounting, cost attribution) without re-scanning 100 TB.

No reference counterpart (the reference engine has no sampling
surface); extends the training-data superset alongside
operators/quantiles.py — and shares its skeleton: the same
deterministic md5 draw (52-bit prefix here, so ``u``'s numerator stays
exactly representable in a double), the same WindowGroupLimit-bounded
per-group top-k build. (Mergeable too, but over the RANKED top-(k+1)
state — union two top-(k+1) sets, re-rank, re-derive τ; the
estimator-weighted OUTPUT rows alone don't carry q, so merge from
outputs is not supported.)

Determinism & portability: ``u_i = (h52_i + 1) / 2^52`` from the md5
of a row-unique id (never 0, so q is finite), and
``q_i = (w_i · 2^52) / (h52_i + 1)`` is a fixed two-operation IEEE
expression over exactly-representable integer operands (w < 2^53,
h+1 ≤ 2^52) — correctly-rounded * and / make it bit-identical in any
engine, the repo-wide float contract (plans/parity.py, quantize_int8).
The DuckDB oracle replays it verbatim.

Scale shape: ONE WindowGroupLimit-bounded shuffle (top-(k+1) per
group, partial per-partition before the exchange), a |groups|-row τ
table broadcast back onto the ≤ k·|groups| sample — never a global
sort, never the facts past the group limit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from blockchain_data_engineering_spark.functions.scalar import md5_int

# 52-bit md5 prefix: 13 hex chars. h+1 ∈ [1, 2^52] is exactly
# representable in a double, which keeps q's operands exact.
_H_BITS = 52


def _u_denominator(priority_cols: Sequence[str]) -> Column:
    """``h52 + 1`` — the exact-in-double denominator of the priority.
    Same non-NULL / row-unique id contract as quantiles.row_priority
    (duplicate ids share one draw; concat_ws skips NULLs)."""
    sid = F.concat_ws(
        "|", *[F.col(c).cast("string") for c in priority_cols]
    )
    return md5_int(sid, 13) + 1


def weighted_priority_state(
    df: DataFrame,
    weight_col: str,
    priority_cols: Sequence[str],
    k: int,
    keys: Sequence[str] = (),
) -> DataFrame:
    """The MERGEABLE sketch state: the top-(k+1) rows per ``keys``
    group by priority, with the priority exposed as ``__q`` — rank k+1
    exists only to supply τ. Bit-identical under merge:
    ``weighted_priority_merge(state(A), state(B), k)`` equals
    ``state(A ∪ B)`` exactly (priorities are per-row deterministic,
    and any row in the union's top-(k+1) is in its own side's) —
    property-pinned in tests/test_sampling.py. Zero / negative / NULL
    weights are excluded (no sampling mass)."""
    keyed = list(keys)
    pcols = list(priority_cols)
    w = F.col(weight_col)
    base = df.where(w.isNotNull() & (w > 0)).select(
        *keyed,
        *pcols,
        weight_col,
        (
            (w.cast("double") * F.lit(float(1 << _H_BITS)))
            / _u_denominator(pcols).cast("double")
        ).alias("__q"),
    )
    return _top_k1(base, k, keyed, pcols).drop("__rn")


def _top_k1(
    base: DataFrame, k: int, keyed: list[str], pcols: list[str]
) -> DataFrame:
    """rank ≤ k+1 by priority DESC (WindowGroupLimit-bounded), rank
    kept in ``__rn``."""
    win = Window.partitionBy(*keyed).orderBy(
        F.col("__q").desc(), *[F.col(c) for c in pcols]
    )
    return base.withColumn("__rn", F.row_number().over(win)).where(
        F.col("__rn") <= k + 1
    )


def weighted_priority_merge(
    a: DataFrame,
    b: DataFrame,
    k: int,
    keys: Sequence[str] = (),
    priority_cols: Sequence[str] = (),
) -> DataFrame:
    """Union two states and re-take the top (k+1) per group — the
    state a single pass over the combined population would build.
    ``priority_cols`` must repeat the build's tiebreak columns.

    DISJOINTNESS PRECONDITION: the two states must summarize disjoint
    row populations (different days/shards/streams). A row present in
    both inputs enters the union twice with IDENTICAL priority
    (priorities are deterministic in the row id), so it occupies two
    of the k+1 slots and its weight is double-counted by any
    subset-sum estimate over the merged sample — merging overlapping
    states (a replayed batch, a state merged with itself) corrupts the
    estimator without error. (Contrast the HLL/Bloom register merges,
    which are max/or and therefore idempotent to overlap; the quantile
    sketch shares THIS merge's additive contract — see
    quantiles.quantile_sketch_merge.) Callers that cannot guarantee
    disjointness must ``dropDuplicates([*keys, *priority_cols])``
    before estimating."""
    keyed = list(keys)
    pcols = list(priority_cols)
    return _top_k1(a.unionByName(b), k, keyed, pcols).drop("__rn")


def weighted_priority_estimate(
    state: DataFrame,
    weight_col: str,
    k: int,
    keys: Sequence[str] = (),
    priority_cols: Sequence[str] = (),
) -> DataFrame:
    """Estimator rows from a state: the rank ≤ k rows with
    ``est_weight = max(w, τ)`` (τ = the (k+1)-th priority, NULL — and
    the sample exhaustive and exact — when the group has ≤ k rows)."""
    keyed = list(keys)
    pcols = list(priority_cols)
    w = F.col(weight_col)
    ranked = _top_k1(state, k, keyed, pcols)
    tau = ranked.where(F.col("__rn") == k + 1).select(
        *keyed, F.col("__q").alias("__tau")
    )
    sample = ranked.where(F.col("__rn") <= k).drop("__rn", "__q")
    if keyed:
        joined = sample.join(F.broadcast(tau), keyed, "left")
    else:
        # global: τ is one row (n > k) or none (exhaustive sample) —
        # a left join on a constant key keeps the sample either way
        joined = (
            sample.withColumn("__k", F.lit(1))
            .join(
                F.broadcast(tau.withColumn("__k", F.lit(1))),
                "__k",
                "left",
            )
            .drop("__k")
        )
    # Spark's greatest() skips NULLs, so a NULL τ (exhaustive sample)
    # yields est_weight = w; the DuckDB twin must spell the CASE out
    # (its greatest() NULL semantics differ across versions)
    return joined.select(
        *keyed,
        *pcols,
        weight_col,
        F.greatest(w.cast("double"), F.col("__tau")).alias("est_weight"),
    )


def weighted_priority_sample(
    df: DataFrame,
    weight_col: str,
    priority_cols: Sequence[str],
    k: int,
    keys: Sequence[str] = (),
) -> DataFrame:
    """One-shot build → estimate: the k highest-priority rows per
    ``keys`` group, each carrying ``est_weight = max(w, τ)``. Output:
    the input's ``keys``, ``priority_cols`` and ``weight_col`` columns
    plus ``est_weight`` (double). Subset-sum contract: summing
    ``est_weight`` over any predicate's sample rows unbiasedly
    estimates the predicate's true ``w`` total (property-pinned in
    tests/test_sampling.py). For incremental / distributed rollups,
    keep the :func:`weighted_priority_state` instead and
    merge-then-estimate."""
    state = weighted_priority_state(df, weight_col, priority_cols, k, keys)
    return weighted_priority_estimate(
        state, weight_col, k, keys, priority_cols
    )
