"""Mergeable deterministic quantile sketch (bottom-k priority sample).

Completes the sketch family (distinct: KMV/HLL, heavy hitters: CMS,
membership: Bloom — all in operators/relational.py and
streaming/sketches.py) with PERCENTILES: the one statistic that still
required exact rank-selection passes (`events_anomaly_mad`,
`events_value_quantiles`), whose full-sort-per-quantile shape a 100 TB
monitoring pipeline cannot re-run per window. No reference counterpart
(the reference engine has no sketch surface at all — 654 LoC of
per-batch REST ETL); this extends the training-data superset.

Design — the uniform-sampling quantile sketch (the baseline sampler of
Karnin–Lang–Liberty, "Optimal quantile approximation in streams",
FOCS 2016 §1.1; also Manku–Rajagopalan–Lindsay's backing-sample
construction, SIGMOD 1998), made DETERMINISTIC and engine-portable by
drawing each row's sampling priority from md5 — the one hash line
(``functions/scalar.md5_int``) the KMV distinct sketch also draws from:

- every row gets a 60-bit priority ``h = md5(row-id)`` (uniform,
  deterministic, identical in any engine that ships md5);
- the sketch state per key group is the ``k`` rows with the SMALLEST
  priorities — a uniform-without-replacement sample of size k — plus
  the group's total row count;
- quantile q is answered by the sample's order statistic at rank
  ``ceil(q·k_actual)``.

Rejected alternative — Spark's built-in ``approx_percentile`` /
``percentile_approx`` (a GK variant): its state is JVM-private (not
storable/mergeable as a table, not maintainable by the streaming
delta store), its answers depend on partition merge order (not
bit-reproducible run-to-run, let alone engine-to-engine), and no
other engine can replay it — which forfeits both the repo-wide
oracle contract and the cross-system portability the md5 idiom buys.

Rank guarantee (DKW inequality over the k uniform draws): the
estimated quantile's true rank is within ``ε·n`` of ``q·n`` with
probability ``1 − 2e^{−2kε²}`` — k=512 gives ε ≈ 0.067 at 99%
confidence, k=4096 gives ε ≈ 0.024. KLL's compactor hierarchy would
shave the state to O(1/ε·√log log) but needs per-compaction coin
flips whose stream-order dependence breaks both determinism and
SQL-replayability; at k ≤ 4096 longs (≤ 64 KB per group) the sampling
baseline's extra state is irrelevant next to those two properties —
the same trade the KMV sketch makes vs HLL++.

Why this shape at 100 TB:

- **Build** is one per-group bottom-k, the shared
  ``relational.bottom_k`` step: Catalyst rewrites the keyed
  ``row_number() ≤ k`` filter into ``WindowGroupLimit`` (partial
  per-partition top-k BEFORE the shuffle — map-side combine for order
  statistics; plan-pinned in tests/test_quantiles.py), so the exchange
  carries at most k rows per group per input partition, never the
  facts. The global (no keys) build is the KMV
  ``TakeOrderedAndProject`` shape: per-partition k-heaps merged on the
  driver, NO global sort.
- **State** is one row per key group — ``(n_total, samples[])`` —
  storable in any parquet/Delta table and MERGEABLE by ONE n-way
  merge, :func:`quantile_sketch_combine`: one aggregate concatenates
  the sample arrays of any number of stacked states per group and
  keeps the k smallest by priority (a per-partition / per-day /
  per-batch rollup, or ``a.unionByName(b)`` for two). Merging is EXACT:
  combine(sketch(A₁) ∪ … ∪ sketch(Aₙ)) is bit-identical to
  sketch(A₁ ∪ … ∪ Aₙ) — pinned by a property test. The streaming
  store (``streaming/sketches.delta_sink``) is this merge over
  per-batch states.
- **Query** is array arithmetic over the ≤ k-element state — zero
  additional shuffle, zero scan. (The array sort/transform HOFs
  evaluate interpreted, but over |groups|·k elements — state grain,
  never fact grain.)

Exactness contract: ``value_col`` must be exactly comparable (integer
quanta for float values — ``plans.parity.quanta``); ``priority_cols``
must identify rows uniquely (a primary key) so the sample is uniform
over ROWS — duplicate ids collapse their rows to one coin flip, which
skews weights. All estimate arithmetic is integer until the caller
divides; DuckDB replays the identical construction
(plans/analytics_queries.py agg_quantile_sketch_merged oracle).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from blockchain_data_engineering_spark.functions.scalar import md5_int
from blockchain_data_engineering_spark.operators.relational import bottom_k

# Samples are (pri, v) structs; array_sort orders lexicographically by
# field position, so priority order falls out of the struct layout.
_PRI = "pri"
_V = "v"


def row_priority(priority_cols: Sequence[str]) -> Column:
    """60-bit md5-prefix sampling priority of a row id — the KMV hash
    line (relational.kmv_bottom_k): fixed-width lowercase hex preserves
    numeric order and 2^60 fits a BIGINT in every engine. DuckDB twin:
    ``CAST('0x' || substr(md5(id), 1, 15) AS BIGINT)``."""
    sid = F.concat_ws(
        "|", *[F.col(c).cast("string") for c in priority_cols]
    )
    # contract: priority_cols non-NULL and row-unique. concat_ws SKIPS
    # NULL components, so ("a", NULL) and ("a",) would hash alike, and
    # duplicate ids share one coin flip (their rows enter or miss the
    # sample together, skewing weights toward duplicated ids).
    return md5_int(sid, 15)


def quantile_sketch(
    df: DataFrame,
    value_col: str,
    priority_cols: Sequence[str],
    k: int,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Build the sketch state: one row per ``keys`` group with
    ``n_total`` (long, NULL values excluded — they have no rank) and
    ``samples`` (array<struct<pri,v>> sorted by priority, ≤ k).

    Two passes over the input, both map-side reduced: a partial-count
    aggregate for ``n_total`` and the WindowGroupLimit bottom-k — the
    count cannot ride the rank window because it must count ALL rows,
    not the kept k, and fusing them would block the group-limit
    pushdown that keeps the shuffle k-bounded. Keep ``k`` under
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000)
    or raise that conf — above it the rank filter runs post-window.
    """
    keyed = list(keys)
    base = df.where(F.col(value_col).isNotNull()).select(
        *keyed,
        row_priority(priority_cols).alias(_PRI),
        F.col(value_col).alias(_V),
    )
    counts = base.groupBy(*keyed).agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    samples = (
        bottom_k(base, keyed, [_PRI, _V], k)
        .groupBy(*keyed)
        .agg(
            F.array_sort(F.collect_list(F.struct(F.col(_PRI), F.col(_V)))).alias(
                "samples"
            )
        )
    )
    if keyed:
        return samples.join(counts, keyed)
    # global: two 1-row grand aggregates
    return samples.crossJoin(F.broadcast(counts))


def quantile_sketch_combine(
    states: DataFrame, k: int, keys: Sequence[str] = ()
) -> DataFrame:
    """N-way merge of STACKED states (one frame of per-group state rows —
    per-batch deltas read from a store, or ``a.unionByName(b)``):
    ``n_total`` adds and ``samples`` is the bottom k by priority of
    every input's samples — EXACTLY the state ``quantile_sketch``
    builds over the union of the inputs (bit-identical; the bottom k of
    a union of per-part bottom-ks is the union's bottom k; pinned in
    tests/test_properties.py). ONE aggregate at state grain, which reads
    ``states`` once: per group the sample arrays concatenate
    (≤ k·n_states structs) and the sorted prefix of k is kept. The
    global path returns one row for any input, an empty frame included
    (``n_total`` 0, no samples).

    DISJOINTNESS PRECONDITION: the states must summarize disjoint row
    populations (different days/shards/batches). ``n_total`` ADDS and a
    (pri, v) sample present in two inputs survives twice, so merging
    overlapping states — a state merged with itself — double-counts
    rows and skews the sample. (Contrast the HLL/Bloom register merges,
    which are max/or and therefore idempotent to overlap.)"""
    keyed = list(keys)
    samples = F.flatten(F.collect_list(F.col("samples")))
    return states.groupBy(*keyed).agg(
        F.slice(F.array_sort(samples), 1, k).alias("samples"),
        F.coalesce(F.sum("n_total"), F.lit(0)).cast("long").alias("n_total"),
    )


def quantile_sketch_merge(
    a: DataFrame, b: DataFrame, k: int, keys: Sequence[str] = ()
) -> DataFrame:
    """Union two sketch states — the two-input case of
    :func:`quantile_sketch_combine` (see there for the exactness
    guarantee and the disjointness precondition)."""
    return quantile_sketch_combine(a.unionByName(b), k, keys)


def quantile_sketch_query(
    state: DataFrame, qs_bp: Sequence[int], keys: Sequence[str] = ()
) -> DataFrame:
    """Answer quantiles from the state: for each ``q`` (in basis
    points, so rank selection stays pure integer arithmetic — no
    engine-divergent float ceil), the sample's order statistic by
    VALUE at rank ``max(1, ceil(q·k_actual/10000))``. One row per
    (group, q); ``est_v`` is NULL only for an empty global sketch.
    Pure array arithmetic over the ≤ k-element state — no shuffle,
    no scan."""
    keyed = list(keys)
    byv = F.array_sort(
        F.transform(
            F.col("samples"),
            lambda s: F.struct(s[_V].alias(_V), s[_PRI].alias(_PRI)),
        )
    )
    exploded = state.select(
        *keyed,
        F.col("n_total"),
        F.size(F.col("samples")).cast("long").alias("k_actual"),
        byv.alias("__byv"),
        F.explode(
            F.array(*[F.lit(int(q)).cast("int") for q in qs_bp])
        ).alias("q_bp"),
    )
    rank = F.greatest(
        F.lit(1).cast("long"),
        F.expr("(q_bp * k_actual + 9999) div 10000"),
    )
    return exploded.select(
        *keyed,
        "q_bp",
        "n_total",
        "k_actual",
        F.try_element_at(F.col("__byv"), rank.cast("int"))[_V].alias("est_v"),
    )
