"""Per-query profiler: executed physical plans plus noop-sink timings.

Usage: python tools/profile.py <query> [<query> ...] [--runs N]

For each registered query (gate or extra) the tool builds the
DataFrame and writes it to a noop sink once, saving the formatted
physical plan of every SQL execution that ran — round checkpoints, the
settle, the sink — to ``plans/<query>.txt``, with the fields that
follow run order rather than plan shape masked (:func:`mask_plan`), so
two dumps of one plan ``diff`` clean. It then times ``N`` more
build+sink runs, each under its own job group, and prints the samples,
their min, the generated classes each run compiled with the Janino
time they took (``0/0ms`` once a query's code is in the codegen cache)
and the Spark jobs and stages each run started (``jobs/stages``, the
stages that ran; ``skipped=`` counts the stages a job listed but did
not run because an earlier job had written their shuffle output). The
input scale comes from ``SPARK_GRAFT_SF_DIR`` (default sf0.1), the
core count from ``SPARK_GRAFT_CPUS``.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if __name__ == "__main__":
    # replace this script's directory on the path: this file would
    # otherwise shadow the stdlib ``profile`` module that pyspark imports
    sys.path[0] = ROOT

from blockchain_data_engineering_spark.plans import QUERIES  # noqa: E402
from blockchain_data_engineering_spark.session import (  # noqa: E402
    DEFAULT_SF_DIR,
    codegen_compiles,
    executed_plans,
    get_spark,
)


# (pattern, replacement) pairs for the plan fields numbered in the
# order things ran: expression ids, exchange plan ids, RDD ids,
# whole-stage codegen ids, the ``Arguments:`` id of an AQE query stage
# block, and the random store directories queries make under the
# temp dir
_RUN_ORDER_FIELDS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
    (re.compile(r"(\(\d+\) \w+QueryStage\n(?:[^\n]+\n)*?Arguments: )\d+"), r"\1N"),
    (re.compile(re.escape(tempfile.gettempdir()) + r"/[^/\s,\]\)]+"), "$TMPDIR/*"),
]


def mask_plan(plan: str) -> str:
    """``plan`` with its run-order fields replaced by placeholders."""
    for pattern, repl in _RUN_ORDER_FIELDS:
        plan = pattern.sub(repl, plan)
    return plan


def _sink(spark, fn) -> None:
    fn(spark, DEFAULT_SF_DIR).write.format("noop").mode("overwrite").save()


def jobs_and_stages(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages that ran, stages skipped) under job group
    ``group``, read from the status tracker, which keeps them with the
    UI off (up to ``spark.ui.retainedJobs`` jobs). A job lists the map
    stages of every shuffle it reads; when an earlier job already wrote
    that shuffle, Spark gives the stage a new id and never submits it.
    Such a skipped stage has no submission time, so it counts apart:
    whether AQE's final job finds a map stage still registered or
    re-lists it is timing, not plan."""
    # jobs reach the tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds}
    ran = {
        s
        for s in stages
        if (info := tracker._jtracker.getStageInfo(s)) and info.submissionTime() > 0
    }
    return len(jobs), len(ran), len(stages - ran)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    spark = get_spark(app_name="bde-profile")
    spark.range(1).count()  # JVM warmup outside any timing
    sc = spark.sparkContext
    for name in args.queries:
        fn = QUERIES[name]
        sc.setJobDescription(f"profile:{name}:plan")
        cold = codegen_compiles(spark)[0]
        with executed_plans(spark) as ran:
            _sink(spark, fn)
        cold = codegen_compiles(spark)[0] - cold
        path = os.path.join(ROOT, "plans", f"{name}.txt")
        with open(path, "w") as fh:
            for i, plan in enumerate(ran, 1):
                # scan locations name the input dir, not this host's path
                plan = plan.replace(DEFAULT_SF_DIR.rstrip("/"), "$SPARK_GRAFT_SF_DIR")
                plan = mask_plan(plan)
                fh.write(f"== execution {i} of {len(ran)} ==\n{plan}\n")
        samples, compiles, counts, skipped = [], [], [], []
        for r in range(args.runs):
            group = f"profile:{name}:run{r}"
            sc.setJobGroup(group, group)
            n0, ms0 = codegen_compiles(spark)
            t0 = time.perf_counter()
            _sink(spark, fn)
            samples.append(time.perf_counter() - t0)
            n1, ms1 = codegen_compiles(spark)
            compiles.append(f"{n1 - n0}/{ms1 - ms0:.0f}ms")
            jobs, stages, skip = jobs_and_stages(sc, group)
            counts.append(f"{jobs}/{stages}")
            skipped.append(str(skip))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
        print(
            f"{name}: plans={path} ({len(ran)} executions, {cold} compiles) "
            f"runs={[round(s, 3) for s in samples]} "
            f"min={min(samples, default=float('nan')):.3f} "
            f"compiles=[{', '.join(compiles)}] "
            f"jobs/stages=[{', '.join(counts)}] "
            f"skipped=[{', '.join(skipped)}] "
            f"load1m={os.getloadavg()[0]:.1f}",
            flush=True,
        )


if __name__ == "__main__":
    main()
