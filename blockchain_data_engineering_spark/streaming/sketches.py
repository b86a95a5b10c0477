"""Streaming sketch maintenance: running frequency (Count-Min),
cardinality (HyperLogLog), and quantile (bottom-k priority sample,
operators/quantiles.py) state over unbounded streams.

All three sketches are MERGEABLE — CMS counters add across batches, HLL
registers max across batches — so a stream needs only its per-batch
register *delta* folded into a tiny store, never a reprocess of
history. The reference has no equivalent (its only running aggregate is
the Postgres table itself); at 100 TB/day mergeable registers are the
only viable shape for "distinct wallets so far" / "hot units so far":
state stays ≤ depth·256 (CMS) or 256 (HLL) rows per batch regardless of
stream volume.

Exactly-once without transactional storage: each micro-batch writes its
register delta into a ``_batch_id=N`` partition with dynamic partition
overwrite. A replayed batch (checkpoint recovery, H4) overwrites ITS
OWN partition with identical rows — the merged read is unchanged, the
same idempotence argument as the content-hash keys in
streaming.pipeline. Readers aggregate the store (sum / max per bucket):
one job over n_batches·256-ish rows; compact by rewriting the store as
a single merged partition when n_batches grows large.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blockchain_data_engineering_spark.operators.relational import (
    CMS_DEPTH,
    cms_registers,
    hll_estimate_from_registers,
    hll_registers,
)
from blockchain_data_engineering_spark.sources.io import write_partitioned


def _write_delta(regs: DataFrame, store_path: str, batch_id: int) -> None:
    regs = regs.withColumn("_batch_id", F.lit(batch_id))
    write_partitioned(regs, store_path, ["_batch_id"])


def cms_delta_sink(store_path: str, col: str, depth: int = CMS_DEPTH):
    """foreachBatch sink maintaining a Count-Min register store over
    ``batch_df[col]``. Use with ``.foreachBatch(cms_delta_sink(...))``;
    read the running sketch with :func:`cms_store_registers`."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _write_delta(cms_registers(batch_df, col, depth), store_path, batch_id)

    return sink


def cms_store_registers(spark: SparkSession, store_path: str) -> DataFrame:
    """Merged (j, b, c) registers over every batch delta in the store —
    counters ADD across batches (CMS is a linear sketch). Feed to
    ``operators.relational.cms_estimate`` for point frequencies."""
    return (
        spark.read.parquet(store_path)
        .groupBy("j", "b")
        .agg(F.sum("c").alias("c"))
    )


def hll_delta_sink(store_path: str, col: str):
    """foreachBatch sink maintaining an HLL register store over
    ``batch_df[col]``; read with :func:`hll_store_estimate`."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _write_delta(hll_registers(batch_df, col), store_path, batch_id)

    return sink


def hll_store_registers(spark: SparkSession, store_path: str) -> DataFrame:
    """Merged (b, m_j) registers — max per bucket IS the union sketch."""
    return (
        spark.read.parquet(store_path)
        .groupBy("b")
        .agg(F.max("m_j").alias("m_j"))
    )


def hll_store_estimate(spark: SparkSession, store_path: str) -> DataFrame:
    """One-row running-cardinality estimate for the whole stream so
    far — bit-identical to the batch sketch over the same rows."""
    return hll_estimate_from_registers(hll_store_registers(spark, store_path))


def quantile_delta_sink(
    store_path: str,
    value_col: str,
    priority_cols: list[str],
    k: int,
    keys: list[str] | None = None,
):
    """foreachBatch sink maintaining a running QUANTILE sketch store
    (operators/quantiles.py — the r7 family completion: distinct,
    frequency, membership, now percentiles over an unbounded stream).
    Each batch lands its own ≤ k-sample bottom-k-priority state as a
    ``_batch_id=N`` partition — the same exactly-once-by-idempotence
    contract as the CMS/HLL sinks above (the state is a deterministic
    function of the batch rows, so a replay overwrites its own
    partition with identical bytes). Read with
    :func:`quantile_store_state` / :func:`quantile_store_query`."""
    from blockchain_data_engineering_spark.operators.quantiles import (
        quantile_sketch,
    )

    keyed = list(keys or [])

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _write_delta(
            quantile_sketch(batch_df, value_col, priority_cols, k, keyed),
            store_path,
            batch_id,
        )

    return sink


def quantile_store_state(
    spark: SparkSession,
    store_path: str,
    k: int,
    keys: list[str] | None = None,
) -> DataFrame:
    """Merged sketch state over every batch delta: ``n_total`` ADDS,
    samples re-take the bottom k by priority across batches — EXACTLY
    the state ``quantile_sketch`` builds over the union of all batch
    rows (bottom-k of a union of per-batch bottom-ks IS the union's
    bottom-k whenever each delta kept ≥ k; pinned in
    tests/test_streaming.py). One job over n_batches·|groups| state
    rows — never a history reprocess."""
    from pyspark.sql.window import Window

    keyed = list(keys or [])
    st = spark.read.parquet(store_path)
    ns = st.groupBy(*keyed).agg(F.sum("n_total").alias("n_total"))
    flat = st.select(*keyed, F.explode("samples").alias("s")).select(
        *keyed, "s.pri", "s.v"
    )
    if keyed:
        w = Window.partitionBy(*keyed).orderBy("pri", "v")
        kept = (
            flat.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .drop("__rn")
        )
        merged = kept.groupBy(*keyed).agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pri"), F.col("v")))
            ).alias("samples")
        )
        return merged.join(ns, keyed)
    kept = flat.orderBy("pri", "v").limit(k)
    merged = kept.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("pri"), F.col("v")))
        ).alias("samples")
    )
    return merged.crossJoin(F.broadcast(ns))


def quantile_store_query(
    spark: SparkSession,
    store_path: str,
    k: int,
    qs_bp: list[int],
    keys: list[str] | None = None,
) -> DataFrame:
    """Running quantiles for the whole stream so far — bit-identical
    to ``quantile_sketch_query(quantile_sketch(<all rows>))``."""
    from blockchain_data_engineering_spark.operators.quantiles import (
        quantile_sketch_query,
    )

    return quantile_sketch_query(
        quantile_store_state(spark, store_path, k, keys),
        qs_bp,
        list(keys or []),
    )


def heavy_hitters_delta_sink(
    store_path: str,
    col: str,
    k: int,
    keys: list[str] | None = None,
):
    """foreachBatch sink maintaining a running HEAVY-HITTERS store
    (operators/heavy_hitters.py — the r8 family completion: distinct,
    frequency point-probes, membership, percentiles, now "what ARE the
    hot keys" over an unbounded stream). Each batch lands its own
    ≤ k-counter Misra–Gries state as a ``_batch_id=N`` partition — the
    same exactly-once-by-idempotence contract as the other sinks (the
    state is a deterministic function of the batch rows, so a replay
    overwrites its own partition with identical bytes). Read with
    :func:`heavy_hitters_store_state` / :func:`heavy_hitters_store_topk`.
    """
    from blockchain_data_engineering_spark.operators.heavy_hitters import (
        heavy_hitters_state,
    )

    keyed = list(keys or [])

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _write_delta(
            heavy_hitters_state(batch_df, col, k, keyed),
            store_path,
            batch_id,
        )

    return sink


def heavy_hitters_store_state(
    spark: SparkSession,
    store_path: str,
    k: int,
    keys: list[str] | None = None,
) -> DataFrame:
    """Merged summary state over every batch delta: one n-way
    PODS-2012 merge (counters sum item-wise, ONE (k+1)-th-largest
    subtraction, errors accumulate — ``heavy_hitters_combine``), so
    ``err ≤ n_total/(k+1)`` holds for the whole stream so far. One job
    over n_batches·|groups|·k state rows — never a history reprocess.
    """
    from blockchain_data_engineering_spark.operators.heavy_hitters import (
        heavy_hitters_combine,
    )

    return heavy_hitters_combine(
        spark.read.parquet(store_path), k, list(keys or [])
    )


def heavy_hitters_store_topk(
    spark: SparkSession,
    store_path: str,
    k: int,
    keys: list[str] | None = None,
) -> DataFrame:
    """Running heavy hitters for the whole stream so far, flattened to
    (item, count_lo, count_hi, n_total) estimator rows."""
    from blockchain_data_engineering_spark.operators.heavy_hitters import (
        heavy_hitters_estimate,
    )

    return heavy_hitters_estimate(
        heavy_hitters_store_state(spark, store_path, k, keys),
        list(keys or []),
    )


def eval_cells_delta_sink(
    store_path: str, actual_col: str, predicted_col: str
):
    """foreachBatch sink maintaining (actual, predicted) confusion
    CELL counts over a labeled stream — the additive state every
    chance-corrected agreement / accuracy statistic derives from
    (``operators/ml_eval.confusion_cells``, whose rows it writes). A
    monitored filter's agreement with its labels is then a ≤ k²-row
    store read, never a reprocess of the stream: cells ADD across
    batches exactly (no error term at all — the strongest member of
    the mergeable family), and a replayed batch overwrites its own
    ``_batch_id`` partition with identical rows. NULL actual/predicted
    rows are excluded (the ml_eval module convention)."""
    from blockchain_data_engineering_spark.operators.ml_eval import (
        confusion_cells,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        cells = confusion_cells(
            batch_df,
            F.col(actual_col).cast("string"),
            F.col(predicted_col).cast("string"),
        )
        _write_delta(cells, store_path, batch_id)

    return sink


def eval_cells_store_cells(spark: SparkSession, store_path: str) -> DataFrame:
    """Running (actual, predicted, n) cells: per-batch deltas summed —
    one job over n_batches·k² rows. Every ``operators/ml_eval``
    confusion-cell statistic reads them with ``n=F.col("n")``: the
    statistic of the WHOLE stream so far, identical to running it over
    every fact ever streamed, by the additivity of cells (pair
    binomials, shares and F1 are not additive — which is why the store
    keeps cells, never a statistic)."""
    return (
        spark.read.parquet(store_path)
        .groupBy("actual", "predicted")
        .agg(F.sum("n").cast("long").alias("n"))
    )
