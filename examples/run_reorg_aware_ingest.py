"""End-to-end demo: chain ingestion that SURVIVES a reorg — the undo
story the reference streamer lacks (it requests forward rolls only,
src/cardano_streamer/main.py:42-47, so a reorg silently leaves
orphaned-block rows in its sinks).

A mock Ogmios node serves 16 blocks of chain A, then a RollBackward to
block 11 and a 5-block replacement fork. The producer lands blocks AND
the rollback marker as NDJSON; a micro-batched foreachBatch sink then
maintains THREE tables through the reorg:

  blocks       — the keyed landing table (rollback_aware_upsert)
  fp_index     — a fingerprint index DERIVED from landed blocks
                 (a ``derived`` path: rows stamped with their contributing
                 block's roll seq + slot, undone by the same orphan
                 predicate)
  block_rollup — per-block rollup CONTRIBUTIONS (block grain so the
                 aggregate is reorg-undoable; aggregate on read)
  agg_rollup   — a MATERIALIZED per-(height%5) aggregate maintained by
                 streaming.incremental_agg.IncrementalRollup: bucket
                 partials recomputed FROM the landing table per batch
                 (idempotent by construction), reorg-converged because
                 the replayed fork re-touches the orphaned buckets

At the end every table is compared against a one-shot batch run over
the post-reorg chain — byte-identical convergence, printed as OK/FAIL.

    python examples/run_reorg_aware_ingest.py [work_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from blockchain_data_engineering_spark.domain import blocks as B
from blockchain_data_engineering_spark.domain.synthetic import generate_chain
from blockchain_data_engineering_spark.session import get_spark
from blockchain_data_engineering_spark.sources.io import upsert_parquet
from blockchain_data_engineering_spark.streaming import sources as SRC
from blockchain_data_engineering_spark.streaming.chain_sync import (
    ChainSyncProducer,
    MockChainSyncNode,
)
from blockchain_data_engineering_spark.streaming.incremental_agg import (
    IncrementalRollup,
)
from blockchain_data_engineering_spark.streaming.rollback import (
    rollback_aware_upsert,
)


def main(work: str) -> None:
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()

    # --- a chain with a scripted reorg ---------------------------------
    chain_a = generate_chain(n_blocks=16, seed=21)
    anchor = chain_a.blocks[11]["py/state"]  # last block that stays
    fork = generate_chain(
        n_blocks=5,
        seed=97,
        start_height=anchor["height"] + 1,
        start_slot=anchor["slot"] + 7,
    )
    node = MockChainSyncNode(
        chain_a.lines,
        reorg={
            "after": 16,
            "point": {"slot": anchor["slot"], "id": anchor["id"]},
            "blocks": fork.lines,
        },
    ).start()
    land = os.path.join(work, "landing")
    n = ChainSyncProducer(
        node.host, node.port, land, rotate_every=3, emit_rollbacks=True
    ).run()
    node.close()
    print(f"landed {n} blocks (+1 rollback marker)")

    # --- the reorg-aware micro-batched pipeline ------------------------
    blocks_tbl = os.path.join(work, "blocks")
    fp_index = os.path.join(work, "fp_index")
    rollup_tbl = os.path.join(work, "block_rollup")
    agg_rollup = IncrementalRollup(
        os.path.join(work, "agg_rollup"),
        key_cols=["n_tx"],
        slot_col="slot",
        measures={"sum_height": F.col("height")},
        # small enough that the fixture spans SEVERAL buckets — the
        # reorg then really exercises cross-bucket refresh (orphans in
        # buckets the replacement fork never touches are on_rollback's
        # job, not sync_batch's)
        bucket_slots=7,
    )

    def derived_sink(rows):
        # rows = this batch's CANONICAL survivors, stamped (__seq, slot)
        upsert_parquet(
            rows.select(F.md5("id").alias("fp"), "__seq", "slot"),
            fp_index,
            ["fp"],
        )
        upsert_parquet(
            rows.select(
                "id", "__seq", "slot", (F.col("height") % 5).alias("n_tx")
            ),
            rollup_tbl,
            ["id"],
        )
        # the materialized aggregate: recompute the slot buckets this
        # batch touched from the (already converged) landing table
        landing_now = rows.sparkSession.read.parquet(blocks_tbl)
        agg_rollup.sync_batch(
            landing_now.withColumn("n_tx", F.col("height") % 5), rows
        )

    def on_rollback(lo_slot):
        # the materialized aggregate's partials sum rows the undo just
        # deleted — row deletes alone can't fix them. The hook fires
        # AFTER this batch's survivors are upserted and derived_sink
        # ran, so the landing table read here is fully converged;
        # recompute every bucket at/after the rollback point. Covers
        # marker-only batches (no survivors, so derived_sink's sync
        # never fires) and orphans in buckets this batch's new rows
        # don't touch. Buckets sync_batch just refreshed are re-done —
        # redundant but correct, and reorg-rare.
        from blockchain_data_engineering_spark.sources.io import _hadoop_fs

        fs, _HPath, hpath = _hadoop_fs(spark, blocks_tbl)
        if fs.exists(hpath):
            landing_now = spark.read.parquet(blocks_tbl)
        else:
            # full truncation: delete_parquet_where removed the whole
            # landing dir — refresh against an empty frame so every
            # stored bucket at/after the point is dropped, not retained
            landing_now = spark.createDataFrame(
                [], "__seq long, id string, slot long, height long"
            )
        agg_rollup.refresh_from(
            spark, landing_now.withColumn("n_tx", F.col("height") % 5), lo_slot
        )

    def sink(batch_df, batch_id):
        rollback_aware_upsert(
            batch_df,
            blocks_tbl,
            ["id"],
            derived=[fp_index, rollup_tbl],
            sink_fn=derived_sink,
            on_rollback=on_rollback,
        )

    q = (
        SRC.ndjson_file_stream(spark, land, max_files_per_trigger=2)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # --- converge check vs a one-shot post-reorg batch run -------------
    canon = B.parse_block_lines(
        spark.createDataFrame(
            [(l,) for l in chain_a.lines[:12] + fork.lines], ["value"]
        )
    ).select("id", "slot", "height").localCheckpoint(eager=True)

    got_blocks = {
        (r["id"], r["slot"])
        for r in spark.read.parquet(blocks_tbl).collect()
    }
    exp_blocks = {(r["id"], r["slot"]) for r in canon.collect()}
    got_fps = {r["fp"] for r in spark.read.parquet(fp_index).collect()}
    exp_fps = {r[0] for r in canon.select(F.md5("id")).collect()}
    got_rollup = {
        (r["id"], r["n_tx"])
        for r in spark.read.parquet(rollup_tbl).collect()
    }
    exp_rollup = {
        (r["id"], r["n_tx"])
        for r in canon.select(
            "id", (F.col("height") % 5).alias("n_tx")
        ).collect()
    }
    got_agg = {tuple(r) for r in agg_rollup.final(spark).collect()}
    exp_agg = {
        tuple(r)
        for r in canon.withColumn("n_tx", F.col("height") % 5)
        .groupBy("n_tx")
        .agg(
            F.sum("height").alias("sum_height"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .collect()
    }
    n_markers = spark.read.parquet(blocks_tbl + "__rollbacks").count()

    def verdict(name, ok):
        print(f"  {name:<14} {'OK — converged' if ok else 'FAIL'}")
        return ok

    print(f"reorg markers recorded: {n_markers}")
    print("post-reorg convergence vs one-shot batch:")
    all_ok = all(
        [
            verdict("blocks", got_blocks == exp_blocks),
            verdict("fp_index", got_fps == exp_fps),
            verdict("block_rollup", got_rollup == exp_rollup),
            verdict("agg_rollup", got_agg == exp_agg),
        ]
    )
    total = spark.read.parquet(rollup_tbl).agg(F.sum("n_tx")).first()[0]
    print(f"rollup aggregate (post-reorg): sum(n_tx) = {total}")
    print(f"wall: {time.time() - t0:.1f}s")
    if not all_ok:
        raise SystemExit(1)


if __name__ == "__main__":
    if len(sys.argv) > 1:
        main(sys.argv[1])
    else:
        work = tempfile.mkdtemp(prefix="reorg_demo_")
        try:
            main(work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
