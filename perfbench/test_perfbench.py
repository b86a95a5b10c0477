"""Tests for the benchmark's own helpers.

    python -m pytest perfbench -q

The Spark tests start one small local session for the module.
"""

from __future__ import annotations

import random
import subprocess
import sys

import pandas as pd
import pytest

from perfbench import chain, common, mix
from perfbench.stagemetrics import StageMetrics, StageRecord, sum_stages


# --------------------------------------------------------- percentiles ---
def test_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert common.nearest_rank(xs, 50) == 3.0
    assert common.nearest_rank(xs, 100) == 5.0
    assert common.nearest_rank(xs, 1) == 1.0


@pytest.mark.parametrize(
    "n,pct",
    [(5, None), (19, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, pct):
    samples = [float(i) for i in range(n)]
    random.Random(n).shuffle(samples)
    got = common.tail_percentile(samples)
    if pct is None:
        assert got is None
    else:
        assert got[0] == pct
        assert sum(1 for x in samples if x > got[1]) >= common.MIN_BEYOND


def test_op_stats_reports_count_and_no_tail_for_short_runs():
    stats = common.op_stats([3.0, 1.0, 2.0])
    assert stats == {"median": 2.0, "op.count": 3.0, "op.tail_pct": 0.0, "op.tail_s": 0.0}
    stats = common.op_stats([float(i) for i in range(40)])
    assert (stats["op.tail_pct"], stats["op.tail_s"]) == (75.0, 29.0)


# ------------------------------------------------------- CPU accounting ---
def test_tree_cpu_counts_a_reaped_child():
    before = common.tree_cpu_s()
    subprocess.run(
        [sys.executable, "-c", "import time\nt=time.process_time()\nwhile time.process_time()-t<0.3: pass"],
        check=True,
    )
    assert common.tree_cpu_s() - before >= 0.25


def test_steal_frac_is_a_share_of_all_cpus():
    n = common.nproc()
    start = common.Mark(wall=10.0, cpu=0.0, steal=1.0)
    end = common.Mark(wall=12.0, cpu=5.0, steal=1.0 + n)
    assert common.steal_frac(start, end) == pytest.approx(0.5)
    assert common.steal_s() >= 0.0


# ---------------------------------------------------------- stage sums ---
def _stage(sid, status="COMPLETE", tasks=2, cpu_ns=10**9, shuffle=100):
    return StageRecord(sid, status, tasks, cpu_ns, shuffle, 3, 4)


def test_sum_stages_skips_skipped_and_counts_shared_stages_once():
    totals = sum_stages(
        2, [_stage(1), _stage(2, status="SKIPPED"), _stage(3, tasks=4), _stage(1)]
    )
    assert (totals.jobs, totals.stages, totals.tasks) == (2, 2, 6)
    assert totals.cpu_s == pytest.approx(2.0)
    assert totals.shuffle_write_bytes == 200
    assert totals.spill_bytes == 14


# ------------------------------------------------------------- digests ---
def test_result_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, None]})
    b = a.iloc[::-1][["v", "k"]]
    assert mix.result_digest(a) == mix.result_digest(b)
    c = a.assign(v=[0.1, 0.25, None])
    assert mix.result_digest(a) != mix.result_digest(c)


def test_generated_tables_repeat_for_a_seed():
    t1, t2 = mix.generate_tables(5), mix.generate_tables(5)
    assert all(t1[k].equals(t2[k]) for k in t1)
    assert not t1["lineitem"].equals(mix.generate_tables(6)["lineitem"])


# ------------------------------------------------------- Spark-backed ---
@pytest.fixture(scope="module")
def ws():
    w = common.Workspace("tests")
    yield w
    w.close()


@pytest.fixture(scope="module")
def spark(ws):
    s = common.start_spark(ws)
    yield s
    common.stop_spark(s)


def test_reference_cpu_scales_an_operation_to_a_quiet_host(spark):
    ref = common.reference_cpu_s(spark)
    assert ref > 0
    assert common.host_adjusted(2 * ref, ref) == pytest.approx(2 * common.REF_QUIET_CPU_S)


def test_stage_metrics_phase_reads_its_own_jobs(spark):
    sm = StageMetrics(spark)
    with sm.phase("t.shuffle") as ph:
        spark.range(10_000, numPartitions=4).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    t = ph["totals"]
    assert t.jobs >= 1 and t.stages >= 2 and t.tasks >= 4
    assert t.cpu_s > 0 and t.shuffle_write_bytes > 0
    assert ph["wall_s"] > 0
    with sm.phase("t.nothing") as ph:
        pass
    assert ph["totals"].jobs == 0 and ph["totals"].tasks == 0


@pytest.fixture(scope="module")
def small_chain():
    return chain.generate_chain(n_blocks=30, seed=7)


def test_oracle_matches_streaming_pipeline(spark, ws, small_chain, monkeypatch):
    monkeypatch.setattr(chain, "BLOCKS_PER_FILE", 10)  # three micro-batches
    log = chain.ProgressLog()
    spark.streams.addListener(log)
    warmed = []
    try:
        res = chain.stream_chain(
            spark, ws, "t_stream", small_chain, log, warmup=1, on_warm=lambda: warmed.append(1)
        )
    finally:
        spark.streams.removeListener(log)
    assert [p.batchId for p in res.progress] == [0, 1, 2]
    assert [p.batchId for p in res.timed] == [1, 2]
    assert warmed == [1] and res.window_s > 0
    assert sorted(res.marks) == [0, 1, 2]
    assert len(res.batch_cpu_s()) == 2 and all(c > 0 for c in res.batch_cpu_s())
    run = common.Run()
    chain.check_replay(spark, small_chain, res, run)
    assert (run.attempted, run.failed, run.problems) == (3, 0, [])


def test_oracle_matches_backfill_and_catches_a_wrong_price(spark, ws, small_chain):
    src = ws.sub("t_backfill")
    chain.write_ndjson(small_chain.lines, src, 10)
    units = chain.chain_units(small_chain)
    exp = chain.expected_outputs(small_chain, small_chain.blocks)
    assert exp.vol_rows > 0 and exp.edges > 0
    dim = chain.price_dim(spark, small_chain)
    vol, edges, _ = chain.backfill_pass(spark, src, dim, units, None, "t")
    assert chain.compare(exp, units, vol, edges) == []

    # the same outputs checked against a chain whose prices differ
    wrong = chain.SyntheticChain(**vars(small_chain))
    wrong.prices = [{**p, "last_price_ada": p["last_price_ada"] * 2} for p in small_chain.prices]
    bad = chain.compare(chain.expected_outputs(wrong, wrong.blocks), units, vol, edges)
    assert any("volume" in line for line in bad)


def test_traced_backfill_reports_every_layer(spark, ws, small_chain):
    src = ws.sub("t_backfill_traced")
    chain.write_ndjson(small_chain.lines, src, 10)
    units = chain.chain_units(small_chain)
    dim = chain.price_dim(spark, small_chain)
    vol, edges, layers = chain.backfill_pass(spark, src, dim, units, StageMetrics(spark), "tt")
    exp = chain.expected_outputs(small_chain, small_chain.blocks)
    assert chain.compare(exp, units, vol, edges) == []
    assert layers["blocks.rows"] == 30
    assert layers["netflow.rows_out"] > 0 and layers["blocks.parse_cpu_s"] > 0
    assert layers["utxo.resolved_rows"] <= layers["blocks.inputs_rows"]
    assert layers["transfers.edges_out"] == exp.edges
