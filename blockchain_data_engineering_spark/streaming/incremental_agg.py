"""Incremental aggregate maintenance: a materialized rollup kept in
sync with a streamed landing table at per-slot-bucket grain.

The reference recomputes its rollups from scratch on every run (the
two Airflow rollup tasks, airflow/archive/dags/etl_vol_dag.py:59-86);
the engine's reorg-aware example keeps per-block CONTRIBUTIONS and
aggregates on read. This module adds the third point in the design
space — the one that scales to 100 TB of history with a bounded
refresh cost: partial aggregates materialized per
``(group key, slot bucket)``, where only the buckets a batch (or a
reorg) touches are recomputed.

Idempotence by construction: a bucket's partials are always
RECOMPUTED FROM THE LANDING TABLE (the source of truth whose keyed
upsert is already idempotent), never incremented in place — replaying
a batch recomputes the same buckets to the same values, so the rollup
needs no exactly-once bookkeeping of its own. This is the same reason
the refresh composes with chain reorgs: after
``rollback_aware_upsert`` converges the landing table, re-refreshing
the affected buckets converges the rollup, whatever order markers and
blocks arrived in.

Cost model per batch: O(landing rows in touched buckets) read (a
slot-range predicate — pushed to row-group stats on a flat landing
table, partition pruning on a slot-partitioned one) + a
dynamic-partition overwrite of exactly the touched ``__bucket=``
directories. Append-mostly streams touch O(1) recent buckets per
batch; a reorg touches O(orphaned range / bucket_slots) buckets.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from blockchain_data_engineering_spark.sources.io import (
    _child_names,
    _hadoop_fs,
    write_partitioned,
)

BUCKET_COL = "__bucket"
PARTIAL_COUNT_COL = "__n"


def partial_rollup(
    rows: DataFrame,
    key_cols: Sequence[str],
    slot_col: str,
    measures: dict[str, Column],
    bucket_slots: int,
) -> DataFrame:
    """The mergeable partial state: one row per (key, slot bucket)
    holding each measure's SUM over the bucket plus the row count.
    One map-side-combined shuffle; associativity of sum/count is what
    makes :func:`final_rollup` exact over any bucket partitioning."""
    bucket = F.floor(F.col(slot_col) / F.lit(bucket_slots)).cast("long")
    return rows.groupBy(
        *key_cols, bucket.alias(BUCKET_COL)
    ).agg(
        *[F.sum(expr).alias(name) for name, expr in measures.items()],
        F.count(F.lit(1)).alias(PARTIAL_COUNT_COL),
    )


def final_rollup(
    partials: DataFrame, key_cols: Sequence[str], measure_names: Sequence[str]
) -> DataFrame:
    """Fold bucket partials to the final per-key aggregate: a second
    sum over ≤ (keys × buckets) rows — the cheap read-side half of the
    split aggregation."""
    return partials.groupBy(*key_cols).agg(
        *[F.sum(n).alias(n) for n in measure_names],
        F.sum(PARTIAL_COUNT_COL).alias("n_rows"),
    )


class IncrementalRollup:
    """A rollup table materialized as ``path/__bucket=N/…`` parquet
    partitions, refreshed bucket-by-bucket from a landing DataFrame.

    ``measures`` maps output column name → additive expression to sum
    (quantize doubles first — plans/parity.quanta — if cross-engine
    exactness matters). Reads of the result go through
    :meth:`final`.
    """

    def __init__(
        self,
        path: str,
        key_cols: Sequence[str],
        slot_col: str,
        measures: dict[str, Column],
        bucket_slots: int = 10_000,
    ):
        self.path = path.rstrip("/")
        self.key_cols = list(key_cols)
        self.slot_col = slot_col
        self.measures = dict(measures)
        self.bucket_slots = bucket_slots

    # -- state probes ---------------------------------------------------

    def stored_buckets(self, spark: SparkSession) -> list[int]:
        """Bucket ids currently materialized (from the partition
        directory names — O(directories), no data read)."""
        fs, _HPath, hpath = _hadoop_fs(spark, self.path)
        return sorted(
            int(name.split("=", 1)[1])
            for name in _child_names(fs, hpath)
            if name.startswith(f"{BUCKET_COL}=")
        )

    def touched_buckets(self, rows: DataFrame) -> list[int]:
        """Distinct slot buckets present in ``rows`` — the collect is
        O(buckets in the batch), bounded by batch slot span, never by
        table size."""
        bucket = F.floor(F.col(self.slot_col) / F.lit(self.bucket_slots))
        return sorted(
            r["b"]
            for r in rows.select(bucket.cast("long").alias("b"))
            .distinct()
            .collect()
        )

    # -- maintenance ----------------------------------------------------

    def refresh(
        self, landing: DataFrame, buckets: Sequence[int]
    ) -> None:
        """Recompute ``buckets`` from ``landing`` and swap exactly
        those partition directories: dynamic-partition overwrite
        replaces buckets that still have rows; buckets left EMPTY by
        the refresh (every contributing row deleted, e.g. by a reorg
        undo) are deleted explicitly — dynamic overwrite alone would
        silently retain their stale partials."""
        if not buckets:
            return
        spark = landing.sparkSession
        bucket_set = sorted(set(int(b) for b in buckets))
        bucket = F.floor(F.col(self.slot_col) / F.lit(self.bucket_slots))
        scoped = landing.where(bucket.cast("long").isin(bucket_set))
        # persisted: the write AND the present-buckets collect both
        # read the partials — uncached, each would re-run the scoped
        # landing scan + aggregation (2× the refresh cost)
        part = partial_rollup(
            scoped,
            self.key_cols,
            self.slot_col,
            self.measures,
            self.bucket_slots,
        ).persist()
        try:
            write_partitioned(part, self.path, [BUCKET_COL])
            present = {
                r["b"]
                for r in part.select(
                    F.col(BUCKET_COL).alias("b")
                ).distinct().collect()
            }
        finally:
            # this runs every micro-batch (sync_batch): a transient
            # write failure must not pin the cached partials forever
            part.unpersist()
        emptied = [b for b in bucket_set if b not in present]
        if emptied:
            fs, HPath, _ = _hadoop_fs(spark, self.path)
            for b in emptied:
                fs.delete(HPath(f"{self.path}/{BUCKET_COL}={b}"), True)

    def sync_batch(self, landing: DataFrame, batch_rows: DataFrame) -> None:
        """Post-upsert batch hook: refresh the buckets this batch's
        rows fall in (call with the same canonical survivor rows the
        landing upsert consumed — rollback_aware_upsert's sink_fn
        hands exactly those)."""
        self.refresh(landing, self.touched_buckets(batch_rows))

    def refresh_from(
        self, spark: SparkSession, landing: DataFrame, lo_slot: int
    ) -> None:
        """Reorg reconciliation: recompute every stored OR
        landing-present bucket at/after ``lo_slot``'s bucket. Use after
        an undo whose replacement blocks have not all streamed yet —
        chain replay re-fills the range incrementally anyway (replayed
        blocks touch the same buckets), so this is the explicit
        catch-up for consumers that need the rollup exact NOW."""
        lo_bucket = lo_slot // self.bucket_slots
        stored = [b for b in self.stored_buckets(spark) if b >= lo_bucket]
        bucket = F.floor(F.col(self.slot_col) / F.lit(self.bucket_slots))
        in_landing = [
            r["b"]
            for r in landing.where(F.col(self.slot_col) >= F.lit(lo_bucket * self.bucket_slots))
            .select(bucket.cast("long").alias("b"))
            .distinct()
            .collect()
        ]
        self.refresh(landing, sorted(set(stored) | set(in_landing)))

    # -- reads ------------------------------------------------------------

    def partials(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

    def final(self, spark: SparkSession) -> DataFrame:
        """The maintained aggregate: fold the stored partials."""
        return final_rollup(
            self.partials(spark), self.key_cols, list(self.measures)
        )
