"""Benchmark entry point.

    python3 perfbench/run.py --workload chain_replay --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds its inputs from ``--seed``,
measures for ``--seconds``, checks every operation's output and prints,
as the last line of stdout, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics named
in ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. Per-layer metrics a workload does not exercise read 0.
Host evidence and any output mismatch go to stderr.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Fail fast, before any Spark start, when the program is not in the checkout.
import blockchain_data_engineering_spark.domain.synthetic  # noqa: E402,F401

from perfbench import common  # noqa: E402


class Setup:
    """Set-up time: from process start to the end of warm-up."""

    def __init__(self) -> None:
        self.seconds: float | None = None

    def done(self) -> None:
        self.seconds = time.perf_counter() - T0


def workloads():
    """name -> (prepare, run). ``prepare`` builds the inputs from the
    seed without Spark, while the session starts; ``run`` warms up,
    calls ``Setup.done`` and measures."""
    from perfbench import chain, mix

    return {
        "chain_replay": (chain.prepare_replay, chain.run_replay),
        "batch_mix": (mix.prepare_batch, mix.run_batch),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    table = workloads()
    if args.workload not in table:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(table)}")

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load_start = common.load_1m()
    run_start = common.Mark.now()
    ws = common.Workspace(args.workload)
    setup = Setup()
    prepare, measure = table[args.workload]
    try:
        with ThreadPoolExecutor(1) as pool:
            starting = pool.submit(common.start_spark, ws)
            try:
                inputs = prepare(ws, args.seed, args.seconds)
            finally:
                spark = starting.result()
        try:
            run = measure(spark, ws, inputs, args.seconds, bool(args.trace), setup)
        finally:
            common.stop_spark(spark)
    finally:
        ws.close()
    load_end = common.load_1m()

    run.end_to_end["setup_s"] = setup.seconds
    host = {
        "host.load_1m_start": load_start,
        "host.load_1m_end": load_end,
        "host.nproc": float(common.nproc()),
    }
    stolen = common.steal_frac(run_start, common.Mark.now())
    print(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                **host,
                "host.steal_frac_run": stolen,
                **run.cpu,
            }
        ),
        file=sys.stderr,
    )
    for line in run.problems:
        print(f"[perfbench] output mismatch: {line}", file=sys.stderr)

    if args.trace:
        values = {**host, **run.layers}
        wanted = spec["per_layer"]
    else:
        values = run.end_to_end
        wanted = spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    if not args.trace:
        missing = [m["name"] for m in wanted if m["name"] not in values]
        if missing:
            raise RuntimeError(f"workload did not measure {missing}")
    print(
        json.dumps(
            {
                "correct": run.failed == 0 and not run.problems,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
