"""Table catalog over the deterministic parquet test tables.

TESTDATA.md: ``region nation customer supplier part orders lineitem
events documents embeddings`` — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}``.

At cluster scale the same loaders point at partitioned parquet/Delta
table roots; nothing here assumes single files. Scans stay lazy so
Catalyst pushes filters and prunes columns into the parquet reader.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions that should always be broadcast in joins against facts.
DIM_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


# SparkSession objects already tuned — tuning is one-time per SESSION
# (conf is per-SparkSession, not per-application: a second session in
# the same app via newSession()/a second builder call has its own TZ
# and must be tuned too; memoizing on applicationId silently skipped
# it and shifted every NTZ timestamp by the host TZ offset).
_TUNED: weakref.WeakSet = weakref.WeakSet()


def _tune_session(spark: SparkSession) -> None:
    """Pin session TZ to UTC and right-size shuffles, once per session.

    UTC because the verify driver supplies its own SparkSession and
    ``date_trunc``/windowing on TIMESTAMP columns is session-TZ-
    sensitive while the DuckDB oracle runs in UTC. Shuffle partitions
    to the host's core count (the stock 200 default is 6× overhead at
    test scale; AQE coalescing makes this safe at any size). Sessions
    with immutable conf degrade gracefully (filters/windows then follow
    that session's own settings)."""
    if spark in _TUNED:
        return
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass
    try:
        _TUNED.add(spark)
    except TypeError:  # non-weakref-able session stub in tests
        pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table.

    ``events.ts`` has been generated two ways across fixture versions:
    parquet TIMESTAMP(NANOS) (read as long via the legacy conf, then
    truncated to micros) and plain ``timestamp[us]`` with no timezone
    (read as TIMESTAMP_NTZ). Both are normalized to session-local
    TIMESTAMP here: the session TZ is pinned to UTC by
    ``_tune_session``, so the NTZ→LTZ cast is value-preserving and
    matches the DuckDB oracle's UTC TIMESTAMP semantics, while
    downstream ``unix_millis``/window expressions get the TIMESTAMP
    input they require.
    """
    _tune_session(spark)
    if name == "events":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass  # immutable conf: the read below surfaces the real error
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            from pyspark.sql import functions as F

            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        return _ntz_to_utc(df)
    return _ntz_to_utc(spark.read.parquet(f"{sf_dir}/{name}.parquet"))


def _ntz_to_utc(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to session-local TIMESTAMP.

    Fixture parquet written as ``timestamp[us]`` with no timezone reads
    as NTZ; with the session TZ pinned to UTC the cast is
    value-preserving and gives downstream ``unix_millis``/window/
    ``date_trunc`` expressions the TIMESTAMP input they require, with
    the same UTC wall-clock semantics the DuckDB oracle uses.
    """
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if not ntz_cols:
        return df
    from pyspark.sql import functions as F

    return df.withColumns(
        {c: F.col(c).cast("timestamp") for c in ntz_cols}
    )


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition a scan to the session's default
    parallelism — use right after :func:`load_table` when the NEXT
    stage does heavy per-row compute (JSON parse, shingling,
    higher-order functions, pandas UDFs).

    Why: the test parquet files are written as a single row group, so
    Spark's scan yields ONE non-empty partition no matter what
    ``spark.sql.files.maxPartitionBytes`` says — a narrow CPU-bound
    pipeline then runs on one core out of 32. A ~10 MB round-robin
    shuffle buys full-width parallelism for everything downstream.

    At cluster scale the table root has thousands of files/row groups
    and the scan is already wide — drop the call (it would only add a
    shuffle and defeat scan-level filter pushdown for later filters,
    which is also why this is opt-in per query, not done inside
    ``load_table``)."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for ``spark.sql`` use."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
