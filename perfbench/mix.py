"""The ``batch_mix`` workload. One pass is a chain backfill
(``chain.backfill_pass``) followed by four registered gate queries, each
built and written to a noop sink; passes repeat until the time is up.

The tables the queries read are generated from the seed in the shape of
the repository's test tables (same columns and types, the same value
domains: two-decimal prices, 0.01-step discounts, a 30-word document
vocabulary with ~5% " dup" near-duplicates, a month of ordered events). Each query's result is compared once per run with its
DuckDB twin from ``ORACLES`` (row count and an order-insensitive hash),
outside the timed passes: the twins run while the session starts, the
Spark results are collected in the warm-up pass.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import chain
from perfbench.common import (
    Clock,
    Mark,
    Run,
    Workspace,
    host_adjusted,
    nproc,
    op_stats,
    peak_rss_mib,
    reference_cpu_s,
    steal_frac,
)
from perfbench.stagemetrics import StageMetrics, StageTotals

QUERY_NAMES = (
    "flagship_volume_stack",
    "netflow_decimal",
    "pipeline_corpus_dedup",
    "stream_reorg_replay",
)
# Row counts of the generated tables.
SIZES = {
    "orders": 3_000,
    "part": 400,
    "documents": 120,
    "events": 2_000,
}
SUPPLIERS = 20
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
P_TYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
TS = pa.timestamp("us")


# ------------------------------------------------------------- tables ---
def _days(rng, n: int, start: str, span: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _cents(rng, n: int, lo: int, hi: int) -> np.ndarray:
    return rng.integers(lo * 100, hi * 100, n) / 100.0


def generate_tables(seed: int) -> dict[str, pa.Table]:
    """The four tables the mix reads, from ``seed``. ``orders`` sets
    the lineitem count: 1-7 lines per order."""
    rng = np.random.default_rng(seed)
    n_orders = SIZES["orders"]
    lines_per_order = rng.integers(1, 8, n_orders)
    n_li = int(lines_per_order.sum())
    orderkey = np.repeat(np.arange(n_orders), lines_per_order)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines_per_order])
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(orderkey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, SIZES["part"], n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, SUPPLIERS, n_li), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float)),
            "l_extendedprice": pa.array(_cents(rng, n_li, 900, 105_000)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
            "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", 2498), TS),
        }
    )
    n_part = SIZES["part"]
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(P_TYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
        }
    )
    return {
        "lineitem": lineitem,
        "part": part,
        "documents": _documents(rng),
        "events": _events(rng),
    }


def _documents(rng) -> pa.Table:
    n = SIZES["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 50)))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _events(rng) -> pa.Table:
    n = SIZES["events"]
    span_us = 30 * 86_400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), TS),
            "user_id": pa.array(rng.integers(0, max(1, n // 67), n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.maximum(1, np.round(rng.exponential(5_000, n))) / 100.0),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]),
        }
    )


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


# ------------------------------------------------------------- oracle ---
def _norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if v is None:
        return "NULL"
    if isinstance(v, (np.datetime64, dt.datetime)):
        return str(np.datetime64(v, "us"))
    return str(v)


def result_digest(df) -> tuple[int, str]:
    """Row count and an order-insensitive hash of a pandas frame: columns
    sorted by name, cells normalized (floats rounded to 9 places), rows
    sorted."""
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(_norm(v) for v in row) for row in df[cols].itertuples(index=False))
    h = hashlib.sha256("\x1e".join([",".join(cols), *rows]).encode())
    return len(rows), h.hexdigest()


def oracle_digests(sf_dir: str, names) -> dict[str, tuple[int, str]]:
    import duckdb

    from blockchain_data_engineering_spark.plans import ORACLES

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        # half the cores: the JVM starts on the others meanwhile
        con.execute(f"SET threads = {max(1, nproc() // 2)}")
        for t in ("lineitem", "part", "documents", "events"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return {q: result_digest(con.execute(ORACLES[q]).fetchdf()) for q in names}
    finally:
        con.close()


# --------------------------------------------------------------- runs ---
def run_query(spark, fn, sf_dir: str, sm: StageMetrics | None, tag: str) -> dict:
    """Build and sink one query; traced, the build and the sink each run
    under their own job group."""
    if sm is None:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        return {}
    with sm.phase(f"{tag}.build") as build:
        df = fn(spark, sf_dir)
    with sm.phase(f"{tag}.sink") as sink:
        df.write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    t: StageTotals = build["totals"] + sink["totals"]
    return {
        "build_s": build["wall_s"],
        "build_jobs": float(build["totals"].jobs),
        "sink_s": sink["wall_s"],
        "jobs": float(t.jobs),
        "stages": float(t.stages),
        "tasks": float(t.tasks),
        "cpu_s": t.cpu_s,
        "shuffle_write_bytes": float(t.shuffle_write_bytes),
        "spill_bytes": float(t.spill_bytes),
    }


def prepare_batch(ws: Workspace, seed: int, seconds: float) -> dict:
    """The backfill chain and the mix's tables from ``seed``, and the
    DuckDB twins' digests; this runs while the Spark session starts."""
    from blockchain_data_engineering_spark.plans import ORACLES, QUERIES

    missing = [q for q in QUERY_NAMES if q not in QUERIES or q not in ORACLES]
    if missing:
        raise SystemExit(f"batch_mix: not registered with an oracle: {missing}")
    sf_dir = ws.sub("tables")
    write_tables(generate_tables(seed), sf_dir)
    return {
        **chain.prepare_backfill(ws, seed, seconds),
        "sf_dir": sf_dir,
        "want": oracle_digests(sf_dir, QUERY_NAMES),
    }


def run_batch(spark, ws: Workspace, inputs: dict, seconds: float, trace: bool, setup) -> Run:
    """Passes of one chain backfill then each query of the mix. A traced
    run alternates plain and traced passes."""
    from blockchain_data_engineering_spark.plans import QUERIES

    sf_dir, src, exp = inputs["sf_dir"], inputs["src"], inputs["expected"]
    dim = chain.price_dim(spark, inputs["chain"])
    units = chain.chain_units(inputs["chain"])
    sm = StageMetrics(spark) if trace else None
    # warm-up: the backfill (both kinds of pass in a traced run), then
    # the mix with each result collected for the oracle check
    for i, mode in enumerate([None, sm] if trace else [None]):
        chain.backfill_pass(spark, src, dim, units, mode, f"warm{i}")
    got = {}
    for q in QUERY_NAMES:
        got[q] = result_digest(QUERIES[q](spark, sf_dir).toPandas())
        spark.catalog.clearCache()
    setup.done()

    run = Run()
    want = inputs["want"]
    wrong = {q for q in QUERY_NAMES if got[q] != want[q]}
    for q in sorted(wrong):
        run.problems.append(f"{q}: spark {got[q]} != duckdb {want[q]}")

    walls: dict[bool, list[float]] = {False: [], True: []}
    op_s: list[float] = []  # each backfill and query of the untraced passes
    pass_cpu: list[float] = []  # each untraced pass
    plain_marks: list[tuple[Mark, Mark]] = []
    backfill_samples: list[dict] = []
    per_query: dict[str, list[dict]] = {q: [] for q in QUERY_NAMES}
    clock = Clock(seconds)
    i = 0
    while not clock.expired() or (trace and not walls[True]):
        traced = trace and i % 2 == 1
        mode = sm if traced else None
        start = Mark.now()
        t0 = start.wall
        vol, edges, layers = chain.backfill_pass(spark, src, dim, units, mode, f"p{i}")
        ends = [time.perf_counter()]
        for q in QUERY_NAMES:
            rec = run_query(spark, QUERIES[q], sf_dir, mode, f"mix.p{i}.{q}")
            ends.append(time.perf_counter())
            if traced:
                per_query[q].append(rec)
        walls[traced].append(ends[-1] - t0)
        if not traced:
            end = Mark.now()
            op_s += [b - a for a, b in zip([t0, *ends], ends)]
            pass_cpu.append(end.cpu - start.cpu)
            plain_marks.append((start, end))
        bad = chain.compare(exp, units, vol, edges)
        run.attempted += 1 + len(QUERY_NAMES)
        run.failed += len(wrong)
        run.check(not bad, f"backfill pass {i}: {'; '.join(bad)}")
        if traced:
            backfill_samples.append(layers)
        i += 1
    plain = walls[False]
    ref = reference_cpu_s(spark)
    cpu = statistics.median(pass_cpu)
    run.end_to_end = {
        "op_cpu_s": host_adjusted(cpu, ref),
        "peak_rss_mb": peak_rss_mib(spark),
    }
    run.cpu = {"op.cpu_raw_s": cpu, "host.ref_cpu_s": ref}
    if trace:
        stats = op_stats(op_s)
        stolen = [steal_frac(a, b) for a, b in plain_marks]
        run.layers = chain.backfill_layers(backfill_samples, inputs)
        for q, recs in per_query.items():
            for k in recs[0]:
                run.layers[f"query.{q}.{k}"] = statistics.median(r[k] for r in recs)
        run.layers.update(
            {
                "trace.overhead_frac": statistics.median(walls[True])
                / statistics.median(plain)
                - 1,
                "wall.throughput": len(op_s) / sum(plain),
                "wall.op_p50_s": stats["median"],
                "host.steal_frac": statistics.median(stolen),
                **run.cpu,
                "op.count": stats["op.count"],
                "op.tail_pct": stats["op.tail_pct"],
                "op.tail_s": stats["op.tail_s"],
            }
        )
    return run
