"""SparkSession factory.

Defaults chosen for correctness at small SF and sanity at cluster scale:

- AQE on (runtime join-strategy switch, skew-join splitting, shuffle
  partition coalescing) — replaces the reference's hand-rolled broadcast
  dict (/root/reference/src/etl_vol_transfers/main.py:118-119) with
  optimizer-owned decisions.
- ``spark.sql.shuffle.partitions`` sized to the local core count instead
  of the 200 default; on a real cluster this is overridden per job to
  ~2-3× total executor cores.
- Arrow enabled so any surviving pandas-UDF boundary is columnar, never
  the reference's row-at-a-time pickle path (SURVEY §4.3 H2).
- Session timezone pinned to UTC so event-time semantics are stable and
  oracle-comparable.
- Spark's cache of compiled generated classes sized to the engine's
  working set (``CODEGEN_CACHE_ENTRIES``), so a steady-state operation
  reuses its classes instead of recompiling them with Janino; a static
  conf, fixed when the session starts. ``codegen_compiles`` reads the
  JVM-wide compile count, so a warm run can be checked as warm.
- PySpark's DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  every ``Column`` method and ``F.col`` call reads the active session
  and a conf and sets and clears the JVM's current origin: 13 py4j
  commands per ``F.col`` instead of 3. The cost of turning it off: an
  analysis or runtime error no longer names the Python call (the
  DataFrame query-context fragment) that built the failing expression;
  the Python traceback of the action still points at the action. A
  static conf, like the codegen cache size.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Spark keeps compiled whole-stage and expression classes in an LRU of
# ``spark.sql.codegen.cache.maxEntries`` classes, 100 by default. One
# perfbench ``batch_mix`` pass (chain backfill + four gate queries)
# compiles ~184 distinct classes and one pass of the 50-query gate
# ~1,270 (sf0.001 to sf0.1), so at 100 every steady-state operation
# recompiled its code: 1,640 classes on a second gate pass at sf0.01.
# 4096 holds the gate's working set with 3x headroom (docs/SCALE.md,
# "Generated-code cache").
CODEGEN_CACHE_ENTRIES = 4096

# PySpark reads this conf once per process, from the first session
# active when a wrapped ``Column``/``functions`` call runs, and caches it
# (``pyspark.errors.utils.is_debugging_enabled``).
DATAFRAME_DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"

# Spark logs a WARN from this logger each time a locally checkpointed
# RDD is unpersisted ("its lineage has been truncated and cannot be
# recomputed"). Every ``cache.release`` of a round checkpoint or settled
# result does that on purpose, so ``get_spark`` keeps only its errors.
CHECKPOINT_RELEASE_LOGGER = "org.apache.spark.rdd.MapPartitionsRDD"


def local_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "blockchain-data-engineering-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned local SparkSession."""
    cpus = local_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config(DATAFRAME_DEBUGGING, "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    log4j = spark._jvm.org.apache.logging.log4j
    log4j.core.config.Configurator.setLevel(
        CHECKPOINT_RELEASE_LOGGER, log4j.Level.ERROR
    )
    return spark


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, milliseconds spent compiling) by Janino in this
    JVM since it started, driver and local executor threads alike. A
    generated class found in the codegen cache is not counted; take the
    difference of two readings to count one run's compiles."""
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(compiles.getCount()), nanos / 1e6


@contextmanager
def executed_plans(spark: SparkSession) -> Iterator[list[str]]:
    """Collect the formatted physical plan of every SQL execution that
    runs inside the block (round checkpoints, settles, actions), in
    execution order; the yielded list fills when the block exits.

    Reads the SQL status store, which records plans even with
    ``spark.ui.enabled=false``. It keeps only the newest
    ``spark.sql.ui.retainedExecutions`` entries, so executions are
    selected by id, never by list position."""
    jsc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()

    def newest_first():
        # plans reach the store through the listener bus
        jsc.listenerBus().waitUntilEmpty()
        return store.executionsList().reverseIterator()

    it = newest_first()
    start = it.next().executionId() if it.hasNext() else -1
    plans: list[str] = []
    yield plans
    it, new = newest_first(), []
    while it.hasNext():
        e = it.next()
        if e.executionId() <= start:
            break
        new.append(e.physicalPlanDescription())
    plans.extend(reversed(new))


def configure_for_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an externally provided session.

    The verify driver hands us its own SparkSession; static configs
    (master, memory) are already fixed, but SQL confs are runtime-settable
    and matter for plan quality. ``spark.sql.codegen.cache.maxEntries``
    is static too, so such a session keeps its own codegen cache size
    (``CODEGEN_CACHE_ENTRIES`` applies only to ``get_spark`` sessions).
    ``DATAFRAME_DEBUGGING`` is static as well (a running session refuses
    it with ``CANNOT_MODIFY_STATIC_CONFIG``), and PySpark reads it once
    per process besides, so such a session keeps its own call-site
    capture.
    """
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this session — fine, defaults are close
    return spark
