"""Streaming sketch maintenance: one delta store for every mergeable
summary — Count-Min and HyperLogLog registers
(operators/relational.py), the bottom-k quantile sample
(operators/quantiles.py), the Misra–Gries heavy-hitters summary
(operators/heavy_hitters.py) and the (actual, predicted) confusion
cells (operators/ml_eval.confusion_cells).

Each of these is a state plus one merge (Agarwal et al., "Mergeable
summaries", PODS 2012): CMS counters and eval cells add, HLL registers
max, quantile samples re-take the bottom k, heavy-hitter counters sum
and take one offset step. So a stream needs only each micro-batch's
state *delta* folded into a tiny store, never a reprocess of history.
The reference has no equivalent (its only running aggregate is the
Postgres table itself); at 100 TB/day mergeable state is the only
viable shape for "distinct wallets so far" / "hot units so far": a
batch's delta is ≤ CMS_DEPTH·256 (CMS), 256 (HLL), k per group
(quantile, heavy hitters) or k² per group (cells) rows regardless of
stream volume.

Exactly-once without transactional storage: :func:`delta_sink` writes
each micro-batch's state into a ``_batch_id=N`` partition with dynamic
partition overwrite. A replayed batch (checkpoint recovery, H4)
overwrites ITS OWN partition with identical rows — the state is a
deterministic function of the batch rows — so the merged read is
unchanged, the same idempotence argument as the content-hash keys in
streaming.pipeline. A reader is the sketch's own merge over the store:
``hll_estimate_from_registers(hll_merge(spark.read.parquet(store)))``,
``cms_merge(…)``, ``quantile_sketch_combine(…, k, keys)``,
``heavy_hitters_combine(…, k, keys)``, or any ml_eval confusion-cell
statistic with ``n=F.col("n")`` (it sums duplicate cells itself) — one
job over n_batches·state rows; compact by rewriting the store as a
single merged partition when n_batches grows large.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blockchain_data_engineering_spark.sources.io import write_partitioned


def delta_sink(store_path: str, state: Callable[[DataFrame], DataFrame]):
    """foreachBatch sink landing ``state(batch_df)`` — a sketch's state
    builder, e.g. ``lambda b: hll_registers(b, "addr")`` — as the
    batch's ``_batch_id=N`` partition of the store at ``store_path``.
    Use with ``.foreachBatch(delta_sink(...))``."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        delta = state(batch_df).withColumn("_batch_id", F.lit(batch_id))
        write_partitioned(delta, store_path, ["_batch_id"])

    return sink
