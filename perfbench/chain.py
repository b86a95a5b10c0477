"""The chain replay workload, the chain backfill pass and their
pure-Python output oracle.

``chain_replay`` streams ``generate_chain(seed)`` blocks as 100-block
NDJSON files through ``streaming.pipeline.run_vol_transfers_pipeline``
with a parquet UTxO store that the pipeline grows itself, exactly the
live-tailing shape: one file per micro-batch, the store re-read by a
callable each batch, parquet append sinks. The loop is closed: the next
file is handed to the source when the previous batch has written both
sinks, until the run's time is up. The first files warm the query up;
the timed window starts after them, inside the same query, as it would
for an indexer that has been tailing the chain for a while.

``backfill_pass`` runs the same kernels as one batch plan over NDJSON
files already on disk, into noop sinks; the ``batch_mix`` workload
(``mix.py``) runs it once per pass.

Both check every operation against ``expected_outputs``, computed from
the generator's own golden tables (``SyntheticChain.outputs``,
``tx_inputs``, ``prices``, ``decimals``) without Spark.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from collections import Counter
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from blockchain_data_engineering_spark.domain import blocks as B
from blockchain_data_engineering_spark.domain import netflow as N
from blockchain_data_engineering_spark.domain import transfers as TR
from blockchain_data_engineering_spark.domain import utxo as U
from blockchain_data_engineering_spark.domain import volumes as V
from blockchain_data_engineering_spark.domain.schema import (
    DECIMALS_SCHEMA,
    PRICE_SCHEMA,
)
from blockchain_data_engineering_spark.domain.synthetic import (
    SyntheticChain,
    generate_chain,
)
from blockchain_data_engineering_spark.sources.io import read_ndjson_blocks
from blockchain_data_engineering_spark.streaming.pipeline import (
    parquet_append_sink,
    run_vol_transfers_pipeline,
)
from blockchain_data_engineering_spark.streaming.sources import ndjson_file_stream

from perfbench.common import (
    Clock,
    Mark,
    Run,
    Workspace,
    op_stats,
    peak_rss_mib,
    host_adjusted,
    reference_cpu_s,
    spark_cpus,
    steal_frac,
)
from perfbench.stagemetrics import StageMetrics, StageTotals

BLOCKS_PER_FILE = 100
# Replay: files generated per second of run time. A warm batch takes
# ~2 s at local[4], so this leaves the source far from running dry.
REPLAY_FILES_PER_SECOND = 2
REPLAY_WARMUP_FILES = 1
# Batches timed at the least, however long they take; ``op_cpu_s`` is
# the median over just these. Batch CPU still falls over the first
# batches after warm-up, so a median over however many batches fit in
# the window would move with the host's speed. A traced run needs an
# odd and an even one too.
TIMED_BATCHES = 3
# Backfill: blocks per pass and the files they are split into.
BACKFILL_BLOCKS = 4_000
REL_TOL = 1e-9
LOVELACE = "lovelace"


# ------------------------------------------------------------- oracle ---
@dataclass
class Expected:
    """What the sinks must hold for some range of blocks."""

    vol_rows: int = 0
    unit_sums: Counter = field(default_factory=Counter)
    edges: int = 0
    max_edges_per_key: int = 0


def _adjusted(unit: str, value: int, prices: dict, decimals: dict) -> float:
    """Reference ``get_adjusted_price`` semantics."""
    if unit == LOVELACE:
        return value / 1e6
    if unit not in prices:
        return 0.0
    d = decimals.get(unit)
    scaled = value / 10.0**d if d else float(value)
    return scaled * prices[unit]


def expected_outputs(chain: SyntheticChain, blocks: list[dict]) -> Expected:
    """Volume rows, per-unit ADA volume sums and transfer edges that
    ``blocks`` (a slice of ``chain.blocks``) must produce. Inputs whose
    output never appears in the chain are dropped, as the pipeline's
    inner-join resolution drops them."""
    prices = {p["unit"]: p["last_price_ada"] for p in chain.prices}
    decimals = {d["unit"]: d["decimals"] for d in chain.decimals}
    exp = Expected()
    for block in blocks:
        for tx in block["py/state"]["transactions"]:
            h = tx["id"]
            net: Counter = Counter()
            for ref in chain.tx_inputs[h]:
                out = chain.outputs.get(ref)
                if out is not None:
                    for unit, q in out["value"].items():
                        net[(out["address"], unit)] -= q
            for oi in range(len(tx["outputs"])):
                out = chain.outputs[(h, oi)]
                for unit, q in out["value"].items():
                    net[(out["address"], unit)] += q
            receivers: Counter = Counter()
            senders: Counter = Counter()
            for (_, unit), v in net.items():
                if v > 0:
                    receivers[unit] += 1
                    exp.unit_sums[unit] += _adjusted(unit, v, prices, decimals)
                elif v < 0:
                    senders[unit] += 1
            exp.vol_rows += len(receivers)
            for unit, r in receivers.items():
                exp.edges += r * senders[unit]
                exp.max_edges_per_key = max(exp.max_edges_per_key, r * senders[unit])
    return exp


def chain_units(chain: SyntheticChain) -> list[str]:
    return sorted({u for out in chain.outputs.values() for u in out["value"]})


def vol_aggs(units: list[str]) -> list:
    """Row count and per-unit ``value_adj`` sums of a volumes frame, plus
    a count of rows whose unit the chain never produced."""
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(~F.col("unit").isin(units), 1).otherwise(0)).alias("stray"),
    ] + [
        F.sum(F.when(F.col("unit") == u, F.col("value_adj")).otherwise(0.0)).alias(
            f"u{i}"
        )
        for i, u in enumerate(units)
    ]


def compare(exp: Expected, units: list[str], vol: dict, edges: int) -> list[str]:
    """Differences between an ``Expected`` and a ``vol_aggs`` row plus an
    edge count; empty when they agree."""
    bad = []
    if vol["rows"] != exp.vol_rows:
        bad.append(f"volume rows {vol['rows']} != {exp.vol_rows}")
    if vol["stray"]:
        bad.append(f"{vol['stray']} volume rows with unknown units")
    for i, u in enumerate(units):
        got, want = vol[f"u{i}"] or 0.0, exp.unit_sums.get(u, 0.0)
        if not math.isclose(got, want, rel_tol=REL_TOL):
            bad.append(f"unit {u[:12]} volume {got!r} != {want!r}")
    if edges != exp.edges:
        bad.append(f"transfer edges {edges} != {exp.edges}")
    return bad


# ------------------------------------------------------------- inputs ---
def write_ndjson(lines: list[str], directory: str, per_file: int) -> list[str]:
    os.makedirs(directory, exist_ok=True)
    paths = []
    for i in range(0, len(lines), per_file):
        path = os.path.join(directory, f"part-{i // per_file:05d}.ndjson")
        with open(path, "w") as fh:
            fh.write("\n".join(lines[i : i + per_file]) + "\n")
        paths.append(path)
    return paths


def price_dim(spark, chain: SyntheticChain) -> DataFrame:
    dim = V.price_dim(
        spark.createDataFrame(chain.prices, PRICE_SCHEMA),
        spark.createDataFrame(chain.decimals, DECIMALS_SCHEMA),
    )
    return dim.cache()


# ------------------------------------------------------------- replay ---
class ProgressLog(StreamingQueryListener):
    """Keeps every streaming progress event, by run id. ``recentProgress``
    holds only the last 100 by default."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.by_run: dict[str, list] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self.lock:
            self.by_run.setdefault(str(p.runId), []).append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def batches(self, run_id: str) -> list:
        """Progress of the batches that read data, by batch id."""
        with self.lock:
            got = list(self.by_run.get(run_id, []))
        return sorted((p for p in got if p.numInputRows > 0), key=lambda p: p.batchId)


@dataclass
class StreamResult:
    run_id: str
    progress: list  # every batch, warm-up included
    warmup: int
    window_s: float
    sink_s: dict[str, list[float]]
    marks: dict[int, Mark]  # taken when each batch has written its sinks
    dirs: dict[str, str]

    @property
    def timed(self) -> list:
        return [p for p in self.progress if p.batchId >= self.warmup]

    def batch_cpu_s(self) -> list[float]:
        """CPU seconds of each timed batch: from the end of the batch
        before it to its own end, so the hand-over of its file counts."""
        first = max(1, self.warmup)
        return [
            self.marks[b].cpu - self.marks[b - 1].cpu
            for b in sorted(self.marks)
            if b >= first
        ]


def stream_chain(
    spark,
    ws: Workspace,
    name: str,
    chain: SyntheticChain,
    log: ProgressLog,
    seconds: float | None = None,
    warmup: int = 0,
    on_warm=None,
    trace: bool = False,
) -> StreamResult:
    """Replay ``chain`` through the pipeline one file per micro-batch.

    The first ``warmup`` batches warm the query up. Once the last of
    them has written its sinks, ``on_warm`` is called and the timed
    window starts, so no timed batch pays for starting the query. With
    ``seconds`` None every file is replayed; otherwise files are handed
    over until the window has lasted ``seconds`` and at least
    ``TIMED_BATCHES`` batches are timed. When ``trace`` is set, the sink
    wrappers record their wall time on odd timed batches only, so the
    even ones give the untraced reference for the trace overhead."""
    d = {k: ws.sub(name, k) for k in ("staged", "src", "store", "vol", "tr", "ckpt")}
    staged = write_ndjson(chain.lines, d["staged"], BLOCKS_PER_FILE)
    os.makedirs(d["src"])
    # one file visible at a time: the batch that reads it hands over the next
    feed = iter(staged)
    os.replace(next(feed), os.path.join(d["src"], "part-00000.ndjson"))

    outputs_schema = B.tx_outputs_table(
        B.parse_block_lines(spark.createDataFrame([], "value string"))
    ).schema
    store_sink = parquet_append_sink(d["store"])
    vol_sink = parquet_append_sink(d["vol"])
    tr_sink = parquet_append_sink(d["tr"])
    sink_s: dict[str, list[float]] = {"utxo": [], "vol": [], "tr": []}
    done = threading.Event()
    last_end = [0.0]
    marks: dict[int, Mark] = {}

    window: list[Clock] = []

    def start_window():
        window.append(Clock(seconds or 0.0))
        if on_warm is not None:
            on_warm()

    def wrap(key, sink):
        def write(df, batch_id):
            t0 = time.perf_counter()
            sink(df, batch_id)
            if trace and batch_id >= warmup and batch_id % 2 == 1:
                sink_s[key].append(time.perf_counter() - t0)
        return write

    tr_write = wrap("tr", tr_sink)

    def last_sink(df, batch_id):
        tr_write(df, batch_id)
        marks[batch_id] = Mark.now()
        last_end[0] = marks[batch_id].wall
        if batch_id == warmup - 1:
            start_window()
        expired = (
            seconds is not None
            and batch_id - warmup + 1 >= TIMED_BATCHES
            and window[0].expired()
        )
        nxt = None if expired else next(feed, None)
        if nxt is None:
            done.set()
        else:
            os.replace(nxt, os.path.join(d["src"], os.path.basename(nxt)))

    if warmup == 0:
        start_window()
    q = run_vol_transfers_pipeline(
        ndjson_file_stream(spark, d["src"], max_files_per_trigger=1),
        price_dim(spark, chain),
        lambda: spark.read.schema(outputs_schema).parquet(d["store"]),
        wrap("vol", vol_sink),
        last_sink,
        d["ckpt"],
        available_now=False,
        utxo_store_append=wrap("utxo", store_sink),
    )
    run_id = str(q.runId)
    try:
        while not done.wait(0.05):
            if not q.isActive:
                raise RuntimeError(f"replay stream ended early: {q.exception()}")
        # the last batch has written its sinks; wait for its progress
        # event (offsets committed) before stopping the idle query
        want = len(os.listdir(d["src"]))
        deadline = time.perf_counter() + 60
        while len(log.batches(run_id)) < want and time.perf_counter() < deadline:
            time.sleep(0.02)
    finally:
        q.stop()
    return StreamResult(
        run_id=run_id,
        progress=log.batches(run_id),
        warmup=warmup,
        window_s=last_end[0] - window[0].start,
        sink_s=sink_s,
        marks=marks,
        dirs=d,
    )


def check_replay(spark, chain: SyntheticChain, res: StreamResult, run: Run) -> None:
    """Each completed batch is one operation; it fails when its lines,
    volume rows, per-unit volumes or edge count differ from the oracle
    for its file's blocks."""
    units = chain_units(chain)
    vols = {
        r["_batch_id"]: r.asDict()
        for r in spark.read.parquet(res.dirs["vol"])
        .groupBy("_batch_id")
        .agg(*vol_aggs(units))
        .collect()
    }
    edges = {
        r["_batch_id"]: r["count"]
        for r in spark.read.parquet(res.dirs["tr"]).groupBy("_batch_id").count().collect()
    }
    empty = {"rows": 0, "stray": 0, **{f"u{i}": 0.0 for i in range(len(units))}}
    for p in res.progress:
        b = p.batchId
        blocks = chain.blocks[b * BLOCKS_PER_FILE : (b + 1) * BLOCKS_PER_FILE]
        bad = compare(expected_outputs(chain, blocks), units, vols.get(b, empty), edges.get(b, 0))
        lines = p.observedMetrics["source"]["n_lines"]
        if lines != len(blocks):
            bad.append(f"source saw {lines} lines, file holds {len(blocks)}")
        run.attempted += 1
        run.check(not bad, f"replay batch {b}: {'; '.join(bad)}")


def prepare_replay(ws: Workspace, seed: int, seconds: float) -> dict:
    """The chain: the warm-up files, then more files than the timed
    window can replay."""
    n_files = REPLAY_WARMUP_FILES + max(8, int(seconds * REPLAY_FILES_PER_SECOND))
    return {"chain": generate_chain(n_blocks=n_files * BLOCKS_PER_FILE, seed=seed)}


def run_replay(spark, ws: Workspace, inputs: dict, seconds: float, trace: bool, setup) -> Run:
    chain = inputs["chain"]
    log = ProgressLog()
    spark.streams.addListener(log)
    res = stream_chain(
        spark, ws, "replay", chain, log, seconds, REPLAY_WARMUP_FILES, setup.done, trace
    )
    ref = reference_cpu_s(spark)
    run = Run()
    check_replay(spark, chain, res, run)
    cpu = statistics.median(res.batch_cpu_s()[:TIMED_BATCHES])
    run.end_to_end = {
        "op_cpu_s": host_adjusted(cpu, ref),
        "peak_rss_mb": peak_rss_mib(spark),
    }
    run.cpu = {"op.cpu_raw_s": cpu, "host.ref_cpu_s": ref}
    if trace:
        run.layers = {**replay_layers(spark, res), **run.cpu}
    return run


def replay_layers(spark, res: StreamResult) -> dict:
    def med_duration(key: str) -> float:
        return statistics.median(p.durationMs.get(key, 0) / 1e3 for p in res.timed)

    te = [p.durationMs["triggerExecution"] / 1e3 for p in res.timed]
    stats = op_stats(te)
    blocks = sum(p.observedMetrics["source"]["n_lines"] for p in res.timed)
    per_batch = StageMetrics(spark).stream_batches(res.run_id)
    n = len(res.timed)
    totals = sum((per_batch[p.batchId] for p in res.timed), StageTotals())
    store_files = [f for f in os.listdir(res.dirs["store"]) if f.endswith(".parquet")]
    rows = {k: spark.read.parquet(res.dirs[k]).count() for k in ("store", "vol", "tr")}
    # odd timed batches recorded sink times; even ones did not
    te = {p.batchId: p.durationMs["triggerExecution"] for p in res.timed}
    traced = [t for b, t in te.items() if b % 2 == 1]
    plain = [t for b, t in te.items() if b % 2 == 0]
    layers = {
        "wall.throughput": blocks / res.window_s,
        "wall.op_p50_s": stats["median"],
        "host.steal_frac": steal_frac(res.marks[res.warmup - 1], res.marks[max(res.marks)]),
        "stream.add_batch_s": med_duration("addBatch"),
        "stream.query_planning_s": med_duration("queryPlanning"),
        "stream.wal_commit_s": med_duration("walCommit"),
        "stream.latest_offset_s": med_duration("latestOffset"),
        "stream.jobs_per_batch": totals.jobs / n,
        "stream.stages_per_batch": totals.stages / n,
        "stream.tasks_per_batch": totals.tasks / n,
        "stream.lines_in": float(blocks),
        "sink.vol_write_s": statistics.median(res.sink_s["vol"]),
        "sink.transfer_write_s": statistics.median(res.sink_s["tr"]),
        "sink.utxo_append_s": statistics.median(res.sink_s["utxo"]),
        "sink.rows_written": float(sum(rows.values())),
        "utxo.history_rows": float(rows["store"]),
        "utxo.history_files": float(len(store_files)),
        "op.count": stats["op.count"],
        "op.tail_pct": stats["op.tail_pct"],
        "op.tail_s": stats["op.tail_s"],
    }
    if traced and plain:
        layers["trace.overhead_frac"] = statistics.median(traced) / statistics.median(plain) - 1
    return layers


# ----------------------------------------------------------- backfill ---
def backfill_pass(spark, src: str, dim: DataFrame, units: list[str], sm: StageMetrics | None, tag: str):
    """One backfill over ``src``. Untraced (``sm`` None) it is one lazy
    plan per sink, as the pipeline writes it. Traced, each layer is
    materialized under its own job group so its time and stage metrics
    can be read; returns (volume aggregates, edge count, layer dict)."""
    vol_obs, tr_obs = Observation(f"{tag}.vol"), Observation(f"{tag}.tr")
    layers: dict[str, float] = {}
    cached: list[DataFrame] = []

    def keep(df: DataFrame, count_as: str | None = None) -> DataFrame:
        df = df.persist()
        cached.append(df)
        if sm is not None and count_as:
            layers[count_as] = float(df.count())
        return df

    def phase(name: str):
        return nullcontext({}) if sm is None else sm.phase(f"{tag}.{name}")

    try:
        with phase("blocks") as ph_blocks:
            parsed = keep(read_ndjson_blocks(spark, src), "blocks.rows")
            outputs = B.tx_outputs_table(parsed)
            inputs = B.tx_inputs_table(parsed)
            if sm is not None:
                outputs = keep(outputs, "blocks.outputs_rows")
                inputs = keep(inputs, "blocks.inputs_rows")
        with phase("utxo") as ph_utxo:
            resolved = U.resolve_inputs(inputs, outputs)
            if sm is not None:
                resolved = keep(resolved, "utxo.resolved_rows")
        with phase("netflow") as ph_net:
            transacted = keep(
                N.transacted(
                    U.input_units(resolved),
                    B.output_units(outputs).drop("output_index"),
                ),
                "netflow.rows_out",
            )
        coords = parsed.select(F.explode("transactions.id").alias("hash"), "height", "slot")
        with phase("volumes") as ph_vol:
            V.volumes(transacted, dim, blocks_coords=coords).observe(
                vol_obs, *vol_aggs(units)
            ).write.format("noop").mode("overwrite").save()
        with phase("transfers") as ph_tr:
            TR.transfer_edges(transacted, dim).observe(
                tr_obs, F.count(F.lit(1)).alias("edges")
            ).write.format("noop").mode("overwrite").save()
    finally:
        for df in cached:
            df.unpersist()
    vol, edges = vol_obs.get, tr_obs.get["edges"]
    if sm is not None:
        layers.update(_backfill_layer_times(ph_blocks, ph_utxo, ph_net, ph_vol, ph_tr))
        layers["volumes.rows_out"] = float(vol["rows"])
        layers["transfers.edges_out"] = float(edges)
    return vol, edges, layers


def _backfill_layer_times(blocks, utxo, net, vol, tr) -> dict[str, float]:
    return {
        "blocks.parse_s": blocks["wall_s"],
        "blocks.parse_cpu_s": blocks["totals"].cpu_s,
        "utxo.resolve_s": utxo["wall_s"],
        "utxo.resolve_cpu_s": utxo["totals"].cpu_s,
        "utxo.shuffle_bytes": float(utxo["totals"].shuffle_write_bytes),
        "netflow.s": net["wall_s"],
        "netflow.cpu_s": net["totals"].cpu_s,
        "netflow.shuffle_bytes": float(net["totals"].shuffle_write_bytes),
        "volumes.s": vol["wall_s"],
        "transfers.s": tr["wall_s"],
    }


def prepare_backfill(ws: Workspace, seed: int, seconds: float) -> dict:
    """The chain as NDJSON files, two per core, and its expected
    outputs."""
    chain = generate_chain(n_blocks=BACKFILL_BLOCKS, seed=seed)
    src = ws.sub("backfill")
    files = write_ndjson(chain.lines, src, BACKFILL_BLOCKS // (2 * spark_cpus()))
    return {
        "chain": chain,
        "src": src,
        "files": files,
        "expected": expected_outputs(chain, chain.blocks),
    }


def backfill_layers(samples: list[dict], inputs: dict) -> dict[str, float]:
    """Per-layer metrics from the traced passes' ``backfill_pass`` dicts
    (medians), with the resolved share of inputs and its base."""
    layers = {k: statistics.median(s[k] for s in samples) for k in samples[0]}
    layers.pop("blocks.rows")
    n_in = layers["blocks.inputs_rows"]
    layers.update(
        {
            "utxo.inputs_attempted": n_in,
            "utxo.resolved_ratio": layers.pop("utxo.resolved_rows") / n_in,
            "utxo.history_rows": layers["blocks.outputs_rows"],
            "utxo.history_files": float(len(inputs["files"])),
            "transfers.max_edges_per_key": float(inputs["expected"].max_edges_per_key),
        }
    )
    return layers
