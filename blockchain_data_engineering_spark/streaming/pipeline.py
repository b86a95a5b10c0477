"""Checkpointed multi-sink streaming pipeline (SURVEY §2.9 T1-T4,
fixing hazards H1/H4).

The reference's foreachBatch body runs TWO separate sink actions off
one unpersisted lineage (volumes → Postgres, transfers → Neo4j;
src/etl_vol_transfers/main.py:211-222) — every action replays the
whole plan including uuid() keys and per-row REST calls. Here each
micro-batch's priced net flows are materialized ONCE as a flat
checkpoint, both sinks plan small queries over that one scan, ids are
content hashes, and the query runs under a checkpoint — restart-safe,
idempotent, exactly-once into transactional/MERGE sinks.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from blockchain_data_engineering_spark.cache import release, round_checkpoint
from blockchain_data_engineering_spark.domain import blocks as B
from blockchain_data_engineering_spark.domain import netflow as N
from blockchain_data_engineering_spark.domain import transfers as TR
from blockchain_data_engineering_spark.domain import utxo as U
from blockchain_data_engineering_spark.domain import volumes as V

Sink = Callable[[DataFrame, int], Any]


def parquet_append_sink(path: str) -> Sink:
    """Append micro-batch output to parquet. With deterministic
    content-hash keys a replayed batch writes identical rows, so a
    downstream MERGE (or read-side dropDuplicates on the key) gives
    exactly-once semantics without transactional storage."""

    def write(df: DataFrame, batch_id: int) -> None:
        df.withColumn("_batch_id", F.lit(batch_id)).write.mode("append").parquet(path)

    return write


def _fits_broadcast(batch: DataFrame) -> bool:
    """Whether Spark sizes ``batch`` within the session's broadcast
    threshold (a persisted batch that has run reports its real size).
    Frames derived from a small batch are broadcast by hint, because
    the planner sizes a join's output as the product of its inputs,
    and a checkpoint scan keeps the size of the plan it replaced."""
    conf = batch.sparkSession._jsparkSession.sessionState().conf()
    size = int(batch._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return 0 <= size <= conf.autoBroadcastJoinThreshold()


def run_vol_transfers_pipeline(
    block_lines: DataFrame,
    dim: DataFrame,
    utxo_outputs: DataFrame | Callable[[], DataFrame],
    vol_sink: Sink,
    transfer_sink: Sink,
    checkpoint_dir: str,
    available_now: bool = True,
    utxo_store_append: Sink | None = None,
) -> StreamingQuery:
    """The flagship reference pipeline (E1) as a checkpointed stream.

    block_lines:  streaming NDJSON lines.
    dim:          price×decimals dimension (static or re-read per batch
                  — H5 fix).
    utxo_outputs: historical outputs table for input resolution
                  (stream-static join replacing per-row REST, J5).
                  MUST be unique per (tx_hash, output_index) — the
                  bucketed upsert store guarantees that. Pass a
                  ZERO-ARG CALLABLE returning a fresh DataFrame to
                  re-read the store each micro-batch (a plain
                  DataFrame snapshots its file listing at creation, so
                  files appended later are invisible) — required for
                  live tailing where ``utxo_store_append`` grows the
                  store; a plain DataFrame is fine for bounded replays
                  over a complete history.
    utxo_store_append: optional sink receiving each batch's outputs
                  BEFORE resolution — wire it to the same table
                  ``utxo_outputs`` reads (parquet append + callable
                  re-read, or upsert_parquet_bucketed) to maintain
                  UTxO state across batches; without it an output
                  created in batch N but spent in batch N+1 is
                  unresolvable.

    ``vol_sink`` and ``transfer_sink`` receive frames over the batch's
    checkpoint, which is released when both have returned, so a sink
    writes its frame before it returns. Each tx hash is taken to be in
    one block of a batch: the block coordinates are joined onto the
    net-flow rows, so a tx in k blocks of one batch has each of its
    rows k times in both sinks' input (and its net flows already count
    its outputs k times).
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Persist the parsed batch FIRST: the UTxO append and every
        # branch of the priced frame below read it, and without the
        # persist each read re-scans the micro-batch source — the
        # observe() counter showed 4 scans per batch before this line
        # (the same recompute-per-action shape as reference hazard H1).
        parsed = B.parse_block_lines(batch_df).persist()
        try:
            outputs_b = B.tx_outputs_table(parsed)
            if utxo_store_append is not None:
                # land this batch's outputs in the UTxO store FIRST so
                # cross-batch spends resolve (deterministic content
                # keys make replays idempotent under a MERGE store)
                utxo_store_append(outputs_b, batch_id)
            # Two-tier resolution: intra-batch spends against the
            # batch's own outputs first, only the misses against the
            # history. While the batch is small the misses are
            # broadcast, so the history is scanned once with no
            # exchange whatever its size or layout; past the threshold
            # the planner picks the join from its own estimates.
            small = _fits_broadcast(parsed)
            hits, misses = U.resolve_in_batch(B.tx_inputs_table(parsed), outputs_b)
            history = utxo_outputs() if callable(utxo_outputs) else utxo_outputs
            resolved = hits.unionByName(
                U.resolve_inputs(F.broadcast(misses) if small else misses, history)
            )
            flows = N.transacted(
                U.input_units(resolved),
                B.output_units(outputs_b).drop("output_index"),
            )
            coords = parsed.select(
                F.explode("transactions.id").alias("tx_hash"), "height", "slot"
            )
            # ONE materialization, N sinks (H1 fix): a flat scan, so
            # each sink analyses and plans only its own few operators
            # instead of the parse → resolve → net-flow lineage
            flat = round_checkpoint(V.priced(flows.join(coords, "tx_hash"), dim))
        finally:
            parsed.unpersist()
        try:
            vol_sink(V.received_volumes(flat, "height", "slot"), batch_id)
            transfer_sink(
                TR.edges(F.broadcast(flat) if small else flat, "value_adj"), batch_id
            )
        finally:
            # a checkpoint left to garbage collection outlives many
            # batches (cache.round_checkpoint)
            release(flat)

    # A8/observe: per-micro-batch row counts surface in
    # StreamingQueryProgress.observedMetrics["source"] — the native
    # replacement for the reference's df.count() diagnostic
    # (src/etl_blockchain/main.py:32), costing one accumulator instead
    # of a second job.
    observed = block_lines.observe(
        "source", F.count(F.lit(1)).alias("n_lines")
    )
    writer = (
        observed.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
