"""Batch IO: dimension loaders, NDJSON block reader, JDBC passthrough,
and an idempotent upsert sink (SURVEY §2.1).

The reference's sinks are Postgres JDBC appends with numPartitions=1
(src/etl_blockchain/main.py:22-29) and psycopg2 ``INSERT ... ON
CONFLICT DO UPDATE`` upserts (airflow/archive/dags/etl_vol_dag.py:24-39).
The engine's own storage is parquet (Delta's MERGE INTO is the
drop-in at 100 TB); JDBC remains available as a passthrough for
existing Postgres consumers.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from blockchain_data_engineering_spark.domain.blocks import (
    VALUE,
    envelope,
    parse_block_lines,
)
from blockchain_data_engineering_spark.operators.relational import (
    dedup_keep_last,
)


def _hadoop_fs(spark: SparkSession, path: str):
    """``(fs, HPath, hpath)`` for ``path`` via the JVM Hadoop
    ``FileSystem`` API — the portable existence/rename/delete layer
    that resolves through the path's own scheme (``file://``,
    ``hdfs://``, ``s3a://``). Driver-local ``os``/``shutil`` calls are
    NOT portable: on an object-store table path they silently probe the
    driver's local disk, report "missing", and the first "upsert" then
    overwrites the whole table."""
    jvm = spark._jvm
    HPath = jvm.org.apache.hadoop.fs.Path
    hpath = HPath(path.rstrip("/"))
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, HPath, hpath


def _child_names(fs, hpath) -> list[str]:
    """Names of the direct children of ``hpath`` ([] when absent)."""
    if not fs.exists(hpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(hpath)]


def _write_text_file(fs, hpath, text: str) -> None:
    """Write ``text`` to ``hpath`` through the Hadoop FS (overwrite)."""
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _read_text_file(fs, hpath) -> str:
    """Read ``hpath`` fully as UTF-8 text through the Hadoop FS."""
    stream = fs.open(hpath)
    try:
        return bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()


def _n_parquet(fs, hpath) -> int:
    """Number of parquet data files directly under ``hpath``."""
    return sum(1 for n in _child_names(fs, hpath) if n.endswith(".parquet"))


def _swap_dir(
    fs,
    HPath,
    live: str,
    write,
    fn: str,
    staged: str | None = None,
    aside: str | None = None,
    marker: str | None = None,
) -> None:
    """The one table-rewrite protocol of the parquet writers: replace
    the directory ``live`` with what ``write(staged)`` produces, or
    remove it when ``write`` is None.

    Durability contract. ``write`` fills a fresh ``staged`` directory
    (default ``<live>__tmp``); then ``live`` is renamed to ``aside``
    (default ``<live>__old``), ``staged`` is renamed to ``live``, and
    ``aside`` is deleted. A failed swap rename (Hadoop ``rename``
    reports failure by returning false) rolls back to the live copy
    and raises :class:`IOError`. A crash between the two renames
    leaves the only copy at ``aside``; :func:`_recover`, which every
    writer runs before it probes the table, restores it. No step
    destroys the last copy of the data. ``marker`` (the
    ``_bucketing.json`` text) is written into ``staged`` before the
    swap, so no reader sees a bucketed table without its layout.

    Every call goes through the Hadoop ``FileSystem`` of the path's
    scheme, so it runs unchanged on ``file://``, HDFS and S3A — but the
    swap is atomic only where directory rename is atomic (local FS,
    HDFS). On S3A a rename is a non-atomic copy+delete, and a crash
    mid-rename can leave a split state the recovery cannot detect:
    there use the transactional drop-ins (Delta/Iceberg ``MERGE INTO``,
    ``DELETE WHERE``, ``OPTIMIZE``), call sites unchanged. One writer
    per table.
    """
    staged = staged or live + "__tmp"
    hlive, hstaged = HPath(live), HPath(staged)
    hold = HPath(aside or live + "__old")
    if write is not None:
        fs.delete(hstaged, True)
        write(staged)
        if marker is not None:
            _write_text_file(fs, HPath(staged + "/_bucketing.json"), marker)
    fs.delete(hold, True)
    if fs.exists(hlive) and not fs.rename(hlive, hold):
        raise IOError(f"{fn}: could not rename {live} aside")
    if write is not None and not fs.rename(hstaged, hlive):
        fs.rename(hold, hlive)  # roll back: restore the live table
        raise IOError(f"{fn}: swap rename failed for {live}")
    fs.delete(hold, True)


def _recover(fs, HPath, live: str, fn: str, aside: str | None = None) -> None:
    """Finish a :func:`_swap_dir` a crash interrupted. With ``live``
    missing, ``aside`` (default ``<live>__old``) is the only copy and is
    restored — never mistaken for a first write. With ``live`` present
    the swap completed and ``aside`` is stale, so it is dropped."""
    hlive, hold = HPath(live), HPath(aside or live + "__old")
    if not fs.exists(hold):
        return
    if fs.exists(hlive):
        fs.delete(hold, True)
    elif not fs.rename(hold, hlive):
        raise IOError(f"{fn}: recovery rename failed for {live}")


def _require_keys(df: DataFrame, keys: Sequence[str], fn: str) -> None:
    """Refuse a batch that lacks a key column — on the first write
    too, not only on merges."""
    missing = [k for k in keys if k not in df.columns]
    if missing:
        raise ValueError(
            f"{fn}: key columns {missing} missing from the incoming batch"
        )


def _newest_per_key(
    batch: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[Column] | None,
    existing: DataFrame | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """``ON CONFLICT (pk) DO UPDATE`` as a frame: one row per key, where
    the batch beats ``existing`` on a shared key and duplicate keys
    within the batch resolve by ``order_cols`` (first wins; unspecified
    without it). ``unionByName`` makes column reorder a non-event, and
    ``merge_schema`` NULL-fills whichever side lacks a column."""
    order = list(order_cols or [])
    if existing is None:
        return dedup_keep_last(batch, keys, order or [F.lit(1)])
    merged = batch.withColumn("__new", F.lit(1)).unionByName(
        existing.withColumn("__new", F.lit(0)),
        allowMissingColumns=merge_schema,
    )
    return dedup_keep_last(
        merged, keys, [F.col("__new").desc(), *order]
    ).drop("__new")


def read_ndjson_blocks(spark: SparkSession, path: str) -> DataFrame:
    """Batch twin of streaming.sources.ndjson_file_stream: NDJSON block
    lines → typed block rows."""
    return parse_block_lines(spark.read.text(path))


def read_ndjson_blocks_with_quarantine(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Quarantine variant of :func:`read_ndjson_blocks`: split the feed
    into (good, quarantined) instead of silently nulling malformed
    lines. The reference's consumer crashed the whole run on one bad
    frame (src/etl_blockchain/main.py:65-70 jsonpickle.loads); at
    100 TB of crawl/chain intake a poison line must land in a
    quarantine table for replay, not kill the job or vanish.

    A line is quarantined when it fails to parse as a block envelope
    (``from_json`` → NULL struct) or parses without the required
    ``py/state`` payload. One narrow scan, no shuffle; the two returned
    plans share the parsed projection so Catalyst reuses the scan when
    both are written in one job (foreachBatch twin-sink pattern,
    streaming/pipeline.py)."""
    parsed = spark.read.text(path).select(
        F.col(VALUE).alias("raw"), envelope().alias("json")
    )
    ok = F.col("json").isNotNull() & F.col("json.`py/state`.id").isNotNull()
    good = parsed.where(ok).select("json.`py/state`.*")
    bad = parsed.where(~ok).select("raw")
    return good, bad


def load_prices_dim(spark: SparkSession, path: str) -> DataFrame:
    """Price dimension from the reference's JSON envelope
    ``{date, assets: [{id, symbol, last_price_usd, last_price_ada, ...}]}``
    (src/etl_vol_transfers/data/prices/*.json, loaded at main.py:107-108;
    the driver pandas-loaded it and broadcast a dict — here it's a
    DataFrame that joins with a broadcast hint)."""
    raw = spark.read.option("multiLine", True).json(path)
    return raw.select(F.explode("assets").alias("a")).select(
        F.col("a.id").alias("unit"),
        F.col("a.symbol").alias("symbol"),
        F.col("a.last_price_usd").cast("double").alias("last_price_usd"),
        F.col("a.last_price_ada").cast("double").alias("last_price_ada"),
        F.col("a.last_update").alias("last_update"),
        F.col("a.pricing_provider").alias("pricing_provider"),
    )


def load_decimals_dim(spark: SparkSession, path: str) -> DataFrame:
    """Decimals dimension (data/decimals/decimals.json, main.py:110-111)."""
    return spark.read.option("multiLine", True).json(path).select(
        F.col("unit"), F.col("decimals").cast("int").alias("decimals")
    )


def read_jdbc(
    spark: SparkSession, url: str, table: str, properties: dict | None = None
) -> DataFrame:
    """JDBC extract (S9) — passthrough to spark.read.jdbc. Partition
    options (partitionColumn/lowerBound/upperBound/numPartitions)
    should be supplied for any non-trivial table."""
    return spark.read.jdbc(url, table, properties=properties or {})


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    properties: dict | None = None,
    num_partitions: int | None = None,
) -> None:
    """JDBC append sink (S5). The reference pinned numPartitions=1 to
    avoid hammering Postgres (main.py:146) — kept as an option, not a
    hard-coded constant."""
    out = df.coalesce(num_partitions) if num_partitions else df
    out.write.jdbc(url, table, mode=mode, properties=properties or {})


def _jdbc_sql_type(spark_type: str) -> str:
    """ANSI SQL column type for a Spark simpleString type — for the
    ``ALTER TABLE ADD COLUMN`` schema-evolution path (Derby/Postgres
    both accept these)."""
    t = spark_type.lower()
    mapping = {
        "long": "BIGINT",
        "bigint": "BIGINT",
        "int": "INTEGER",
        "integer": "INTEGER",
        "smallint": "SMALLINT",
        "double": "DOUBLE",
        "float": "REAL",
        "string": "VARCHAR(32672)",
        "boolean": "BOOLEAN",
        "timestamp": "TIMESTAMP",
        "date": "DATE",
        "binary": "BLOB",
    }
    if t in mapping:
        return mapping[t]
    if t.startswith("decimal"):
        return t.upper()
    raise ValueError(f"no JDBC type mapping for Spark type {spark_type!r}")


def _jdbc_table_columns(conn, table: str) -> list[str]:
    """Column names of ``table`` via driver metadata ([] when the
    table doesn't exist). Unquoted identifiers fold per the database's
    own rule (Derby/Postgres disagree on the direction), so probe
    verbatim, upper, and lower. A schema-qualified ``table``
    (``schema.name``) restricts matches to that schema (case-folded
    the same way); unqualified names that match in MULTIPLE schemas
    are ambiguous and refuse loudly — concatenating their column
    lists would drive wrong schema-evolution ALTERs (ADVICE r5)."""
    md = conn.getMetaData()
    parts = table.split(".")
    name = parts[-1]
    want_schema = parts[-2] if len(parts) > 1 else None
    # getColumns takes a LIKE pattern: '_' and '%' are wildcards, so an
    # unescaped underscore-bearing name (tx_log) also matches txXlog —
    # wrong columns back, or several tables' columns concatenated.
    # Escape-string handling is driver-flaky (Derby reports ''), so
    # instead keep only rows whose TABLE_NAME is the probe up to CASE
    # (never wildcards): exact match would return [] on
    # case-insensitive drivers storing mixed case (TxLog vs txlog),
    # and a phantom [] here makes upsert_jdbc take the first-write
    # OVERWRITE path over a live table. Distinct same-spelling tables
    # differing only by case are ambiguous — refuse loudly.
    for probe in (name, name.upper(), name.lower()):
        rs = md.getColumns(None, None, probe, None)
        # keyed on (TABLE_SCHEM, TABLE_NAME): two same-named tables in
        # different schemas must surface as DISTINCT entries (→ the
        # ambiguity error below), not merge their column lists
        by_table: dict[tuple[str, str], list[str]] = {}
        while rs.next():
            tname = rs.getString("TABLE_NAME")
            tschem = rs.getString("TABLE_SCHEM") or ""
            if tname.lower() != name.lower():
                continue
            if want_schema is not None and tschem.lower() != want_schema.lower():
                continue
            by_table.setdefault((tschem, tname), []).append(
                rs.getString("COLUMN_NAME")
            )
        rs.close()
        if len(by_table) > 1:
            raise ValueError(
                f"_jdbc_table_columns: table name {table!r} is ambiguous — "
                f"multiple tables match up to case/schema: {sorted(by_table)}"
            )
        if by_table:
            return next(iter(by_table.values()))
    return []


def upsert_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    key_cols: Sequence[str],
    properties: dict | None = None,
    staging_table: str | None = None,
    merge_schema: bool = False,
) -> None:
    """JDBC upsert: the reference's ``INSERT ... ON CONFLICT (pk) DO
    UPDATE`` (airflow/archive/dags/etl_vol_dag.py:24-39) as
    staging-table + ANSI ``MERGE`` — the shape a foreachBatch sink uses
    per micro-batch against Postgres/Derby/any MERGE-capable store.

    The batch lands in ``staging_table`` via a parallel JDBC append,
    then ONE set-based MERGE runs inside the database (driver-side JDBC
    connection, no per-row round-trips). Duplicate keys within ``df``
    must be pre-resolved (``dedup_keep_last``) — MERGE requires a
    unique source per key, same contract as the reference's upsert.

    Schema guard (same contract as :func:`upsert_parquet`): a missing
    target table is created from the batch; a column-set difference
    against an existing table is a clear :class:`ValueError` naming
    the added/absent columns instead of an opaque SQL error from the
    MERGE. ``merge_schema=True`` evolves the table in place: batch-new
    columns are ``ALTER TABLE ADD COLUMN``-ed (existing rows NULL),
    table-only columns are simply left out of the MERGE's SET/INSERT
    lists (NULL for inserted rows) — both directions NULL-fill,
    matching the parquet family.
    """
    props = dict(properties or {})
    staging = staging_table or f"{table}_staging"
    keys = list(key_cols)
    _require_keys(df, keys, "upsert_jdbc")
    jvm = df.sparkSession._jvm
    if "driver" in props:
        jvm.Class.forName(props["driver"])
    jprops = jvm.java.util.Properties()
    for k, v in props.items():
        if k != "driver":
            jprops.setProperty(k, str(v))
    conn = jvm.java.sql.DriverManager.getConnection(url, jprops)
    try:
        existing_cols = _jdbc_table_columns(conn, table)
        if not existing_cols:
            # first write: the batch creates the table (caller has
            # pre-resolved duplicate keys, per the contract above)
            write_jdbc(df, url, table, mode="overwrite", properties=props)
            return
        _check_upsert_schema(
            df.columns, existing_cols, keys, merge_schema, "upsert_jdbc"
        )
        added = [c for c in df.columns if c not in existing_cols]
        if added:  # merge_schema=True (the guard raised otherwise)
            st = conn.createStatement()
            try:
                for f in df.schema.fields:
                    if f.name in added:
                        st.execute(
                            f'ALTER TABLE {table} ADD COLUMN "{f.name}" '
                            + _jdbc_sql_type(f.dataType.simpleString())
                        )
            finally:
                st.close()
        _merge_jdbc_staged(df, url, table, staging, keys, props, conn, jvm)
    finally:
        conn.close()


def _merge_jdbc_staged(
    df: DataFrame,
    url: str,
    table: str,
    staging: str,
    keys: list[str],
    props: dict,
    conn,
    jvm,
) -> None:
    cols = df.columns
    write_jdbc(df, url, staging, mode="overwrite", properties=props)

    # Spark's JDBC writer quotes COLUMN identifiers (case-preserving)
    # but passes table names through verbatim — the MERGE must match
    # both conventions or unquoted references fold to uppercase and miss
    q = lambda ident: '"' + ident.replace('"', '""') + '"'  # noqa: E731
    # string columns may land as CLOB (Derby), which isn't comparable
    # in a join predicate — CAST string keys to VARCHAR on both sides
    str_cols = {f.name for f in df.schema.fields if f.dataType.simpleString() == "string"}

    def _key_eq(k: str) -> str:
        if k in str_cols:
            return (
                f"CAST(t.{q(k)} AS VARCHAR(32672)) = "
                f"CAST(s.{q(k)} AS VARCHAR(32672))"
            )
        return f"t.{q(k)} = s.{q(k)}"

    on = " AND ".join(_key_eq(k) for k in keys)
    sets = ", ".join(f"t.{q(c)} = s.{q(c)}" for c in cols if c not in keys)
    ins_cols = ", ".join(q(c) for c in cols)
    ins_vals = ", ".join(f"s.{q(c)}" for c in cols)
    # pure-key tables (link/pair shapes) have nothing to update — an
    # empty SET list is a syntax error, so omit the MATCHED branch
    matched = f"WHEN MATCHED THEN UPDATE SET {sets} " if sets else ""
    merge = (
        f"MERGE INTO {table} t USING {staging} s ON {on} "
        f"{matched}"
        f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
    )
    st = conn.createStatement()
    try:
        st.execute(merge)
    finally:
        st.close()


def _check_upsert_schema(
    incoming_cols: Sequence[str],
    existing_cols: Sequence[str],
    key_cols: Sequence[str],
    merge_schema: bool,
    fn: str,
) -> None:
    """Schema-evolution guard shared by the upsert family. Column
    REORDER is always fine (merges go through unionByName). A column
    -set difference is an explicit error unless ``merge_schema=True``
    (never a silent drop or an opaque union failure), and the key
    columns must exist on both sides regardless — a missing key would
    null out and collapse every row onto one conflict group."""
    missing_keys = [
        k
        for k in key_cols
        if k not in incoming_cols or k not in existing_cols
    ]
    if missing_keys:
        raise ValueError(
            f"{fn}: key columns {missing_keys} must exist in both the "
            "incoming batch and the existing table"
        )
    if not merge_schema and set(incoming_cols) != set(existing_cols):
        added = sorted(set(incoming_cols) - set(existing_cols))
        dropped = sorted(set(existing_cols) - set(incoming_cols))
        raise ValueError(
            f"{fn}: incoming schema differs from the table "
            f"(new columns {added}, absent columns {dropped}); pass "
            "merge_schema=True to evolve the table (missing side "
            "fills NULL)"
        )


def upsert_parquet(
    df: DataFrame,
    path: str,
    key_cols: Sequence[str],
    order_cols: Sequence[Column] | None = None,
    merge_schema: bool = False,
) -> None:
    """Idempotent key-based upsert into a parquet table (S11).

    Semantics of ``INSERT ... ON CONFLICT (pk) DO UPDATE``: new rows
    win over existing rows with the same key; duplicate keys *within*
    the incoming ``df`` are resolved by ``order_cols`` (first wins
    after ``__new`` desc) — pass e.g. ``[F.col("ts").desc()]`` for
    latest-wins; without it the intra-batch winner is unspecified.

    Schema evolution: column REORDER is always transparent (the merge
    goes through ``unionByName``); a column-set difference raises a
    clear error unless ``merge_schema=True``, which NULL-fills the
    missing side in either direction — the merge rewrites the whole
    table, so the evolved schema is immediately homogeneous.

    Every call rewrites the whole table (read-merge-overwrite) through
    :func:`_swap_dir`, which states the durability contract; see
    :func:`upsert_parquet_bucketed` for the partition-pruned variant.
    """
    spark = df.sparkSession
    keys = list(key_cols)
    _require_keys(df, keys, "upsert_parquet")
    base = path.rstrip("/")
    fs, HPath, hpath = _hadoop_fs(spark, base)
    _recover(fs, HPath, base, "upsert_parquet")
    existing = None
    if _n_parquet(fs, hpath):
        existing = spark.read.parquet(path)
        _check_upsert_schema(
            df.columns, existing.columns, keys, merge_schema, "upsert_parquet"
        )
    # a table-creating batch resolves its duplicate keys by the same
    # rule, so the table never holds a duplicate key
    result = _newest_per_key(df, keys, order_cols, existing, merge_schema)
    _swap_dir(  # the staged write reads <path> lazily
        fs,
        HPath,
        base,
        lambda p: result.write.mode("overwrite").parquet(p),
        "upsert_parquet",
    )


def bucketed_table_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` holds a populated (bucketed or flat) parquet
    table — resolved through the Hadoop FileSystem API from the path's
    own scheme, so callers maintaining index tables don't reimplement
    the probe with local-only ``os.path`` calls (which misreport any
    object-store table as missing)."""
    base = path.rstrip("/")
    fs, _HPath, hpath = _hadoop_fs(spark, base)
    return any(
        n.startswith("__bucket=") or n.endswith(".parquet")
        for n in _child_names(fs, hpath)
    )


def upsert_parquet_bucketed(
    df: DataFrame,
    path: str,
    key_cols: Sequence[str],
    n_buckets: int = 64,
    order_cols: Sequence[Column] | None = None,
    merge_schema: bool = False,
) -> None:
    """Partition-pruned upsert: the scale path for S11 (reference
    src/etl_blockchain/main.py:22-29 ON CONFLICT semantics).

    The table is laid out as parquet partitioned by
    ``__bucket = pmod(xxhash64(keys), n_buckets)``. An incoming batch
    only touches the buckets its keys hash to, so the merge reads and
    rewrites ONLY those partition directories (Spark's dynamic
    partition overwrite); untouched buckets are never opened. Per-batch
    work is O(batch + touched-bucket rows), independent of total table
    size — unlike :func:`upsert_parquet`, which rewrites everything.

    At 100 TB: choose ``n_buckets`` so one bucket ≈ a few GB (e.g.
    65536 for ~100 TB), and swap in Delta/Iceberg ``MERGE INTO`` for
    multi-writer transactionality — the bucketed layout carries over
    (Delta Z-ORDER / Iceberg bucket transform play the same role).

    Conflict semantics match :func:`upsert_parquet`: incoming beats
    existing on the same key; intra-batch duplicates resolved by
    ``order_cols`` (first wins), unspecified without it.

    Schema evolution: a column-set difference between the batch and
    the table raises unless ``merge_schema=True``. With it, an
    evolution batch pays a FULL-table rewrite (every bucket, through
    :func:`_swap_dir`) so file schemas stay homogeneous —
    partition pruning, the touched-bucket merge, and plain
    ``spark.read.parquet`` all keep working without per-read
    ``mergeSchema`` options; steady-state batches remain O(touched).
    Column reorder alone never triggers the rewrite (unionByName).

    Every filesystem call goes through the Hadoop ``FileSystem`` of
    ``path``'s scheme. A steady-state batch lands through
    :func:`write_partitioned`: per-partition-directory replacement with
    a writer-scoped overwrite mode, so it neither renames the table nor
    touches the session conf another stream may share.
    """
    import json

    spark = df.sparkSession
    keys = list(key_cols)
    _require_keys(df, keys, "upsert_parquet_bucketed")
    # empty batches are routine in a streaming foreachBatch sink: with
    # no rows there is nothing to merge, and writing a data-less
    # partitioned dir (only _SUCCESS) would leave a table
    # spark.read.parquet cannot infer a schema from
    if df.isEmpty():
        return
    bucket = F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets))
    incoming = df.withColumn("__bucket", bucket.cast("int"))
    base = path.rstrip("/")
    fs, HPath, hpath = _hadoop_fs(spark, base)
    _recover(fs, HPath, base, "upsert_parquet_bucketed")
    exists = bucketed_table_exists(spark, base)
    # the bucket function is part of the TABLE's layout, not the call:
    # an upsert with a different n_buckets/key set would hash keys to
    # different partitions than the existing rows live in — duplicate
    # keys with stale survivors, silently. Record the layout beside
    # the data and refuse mismatched calls.
    layout = {"n_buckets": n_buckets, "key_cols": keys}
    marker = HPath(base + "/_bucketing.json")
    if not exists:
        _newest_per_key(incoming, keys, order_cols).write.mode(
            "overwrite"
        ).partitionBy("__bucket").parquet(path)
        _write_text_file(fs, marker, json.dumps(layout))
        return
    if fs.exists(marker):
        on_disk = json.loads(_read_text_file(fs, marker))
        if on_disk != layout:
            raise ValueError(
                f"bucketed-upsert layout mismatch at {path}: table was "
                f"written with {on_disk}, call uses {layout}"
            )
    existing = spark.read.parquet(path)
    table_cols = [c for c in existing.columns if c != "__bucket"]
    _check_upsert_schema(
        df.columns, table_cols, keys, merge_schema, "upsert_parquet_bucketed"
    )
    if set(df.columns) != set(table_cols):
        # schema-evolution batch: merge against EVERY bucket and swap
        # the whole table, keeping file schemas homogeneous so later
        # reads and the O(touched) steady-state merges never need
        # mergeSchema
        result = _newest_per_key(
            incoming, keys, order_cols, existing, merge_schema
        )
        _swap_dir(
            fs,
            HPath,
            base,
            lambda p: result.write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(p),
            "upsert_parquet_bucketed",
            marker=json.dumps(layout),
        )
        return
    # the incoming plan is read twice (touched-bucket discovery, then
    # the staged merge write) — persist so an expensive upstream runs
    # once and both passes see identical rows
    incoming = incoming.persist()
    # Spark (correctly) refuses to overwrite a path that is also one of
    # the write plan's inputs, so stage the merged touched-bucket rows
    # first (volume = touched buckets only, not the table), then
    # dynamic-overwrite from the staged copy: that replaces ONLY the
    # partition dirs present in the staged data — exactly the touched
    # buckets. A crash before the final write leaves the table intact
    # (stage dir is garbage, not state).
    stage = base + "__stage"
    hstage = HPath(stage)
    try:
        # touched buckets: bounded by n_buckets, so the collect is a
        # small driver-side list (it parameterizes partition pruning,
        # not data)
        touched = [
            r["__bucket"]
            for r in incoming.select("__bucket").distinct().collect()
        ]
        result = _newest_per_key(
            incoming,
            keys,
            order_cols,
            existing.where(F.col("__bucket").isin(touched)),
            merge_schema,
        )
        fs.delete(hstage, True)
        result.write.mode("overwrite").partitionBy("__bucket").parquet(stage)
        write_partitioned(spark.read.parquet(stage), path, ["__bucket"])
    finally:
        fs.delete(hstage, True)
        incoming.unpersist()
    if not fs.exists(marker):  # legacy table written before markers
        _write_text_file(fs, marker, json.dumps(layout))


def upsert_delta(
    df: DataFrame,
    path: str,
    key_cols: Sequence[str],
    order_cols: Sequence[Column] | None = None,
) -> None:
    """Transactional upsert via Delta Lake ``MERGE INTO`` — the
    documented 100 TB drop-in for :func:`upsert_parquet` /
    :func:`upsert_parquet_bucketed` (multi-writer ACID commits, no
    rename-based swap, object-store-safe). Same call signature and
    conflict semantics: incoming beats existing on ``key_cols``;
    intra-batch duplicate keys resolved by ``order_cols`` (first wins)
    BEFORE the merge, since MERGE requires a unique source row per key.

    Import-gated like the Neo4j connector/Bolt transports: the
    ``delta-spark`` package is not in this container, so the guard path
    is what tests exercise here; where the package exists the session
    must carry the Delta SQL extension + catalog
    (``spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension``,
    ``spark.sql.catalog.spark_catalog=...DeltaCatalog``).
    """
    try:
        from delta.tables import DeltaTable  # type: ignore
    except ImportError as exc:
        raise ImportError(
            "upsert_delta requires the delta-spark package (pip install "
            "delta-spark) and a Delta-configured SparkSession; use "
            "upsert_parquet_bucketed as the package-free interim path"
        ) from exc

    spark = df.sparkSession
    keys = list(key_cols)
    # MERGE demands one source row per key — resolve intra-batch
    # duplicates exactly as the parquet upserts do
    src = _newest_per_key(df, keys, order_cols)
    if not DeltaTable.isDeltaTable(spark, path):
        src.write.format("delta").mode("overwrite").save(path)
        return
    cond = " AND ".join(f"t.`{k}` = s.`{k}`" for k in keys)
    (
        DeltaTable.forPath(spark, path)
        .alias("t")
        .merge(src.alias("s"), cond)
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan (S4 alternative format). ORC is the second columnar
    format Spark ships natively (vectorized reader, predicate pushdown
    via min/max + Bloom stripe stats, column pruning) — the natural
    interchange path for Hive-warehouse consumers of the reference's
    tables, which otherwise only had the JDBC extract
    (src/etl_blockchain/main.py:22-29). Filter pushdown into the
    stripe footer is plan-asserted in tests/test_sources.py."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink twin of :func:`read_orc`. zstd compression: the same
    scan-efficiency default the parquet tables use; at 100 TB the
    stripe size (spark.sql.orc.stripe... defaults) and task output
    sizing follow the same maxPartitionBytes discipline as parquet
    (docs/SCALE.md)."""
    df.write.mode(mode).option("compression", "zstd").orc(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
) -> None:
    """Hive-layout partitioned parquet sink (``path/col=value/…``).
    Partition columns become directories, so any later filter on them
    is PARTITION PRUNING — the scan lists only matching directories and
    never opens the rest (plan-asserted in test_sources). This is the
    lake layout every 100 TB table should use for its dominant filter
    axis (ingest date for events/blocks).

    Uses writer-scoped ``partitionOverwriteMode=dynamic`` so an
    overwrite replaces ONLY the partitions present in ``df`` (idempotent
    backfill of one day), not the whole table — and does not mutate the
    session conf."""
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Small-file compaction: rewrite a FLAT parquet directory into
    ``ceil(total_bytes / target_file_bytes)`` files and return that
    count. Streaming micro-batch sinks (foreachBatch appends) accrete
    thousands of KB-sized files; scan cost then becomes file-listing +
    footer-reads instead of IO, the classic lake-operations failure at
    100 TB. Sizing uses the Hadoop FileSystem API (works on HDFS/S3A,
    not just local), and the rewrite is one narrow ``coalesce`` — no
    shuffle.

    Hive-partitioned (``col=value/`` subdirs) and bucketed
    (``_bucketing.json``) layouts are REFUSED: a flat rewrite would
    flatten the partition key into an ordinary column (killing
    pruning) and strand the bucket marker — compact those per
    partition directory instead. The rewrite goes through
    :func:`_swap_dir`, which states the durability contract; on object
    stores use Delta OPTIMIZE, the transactional drop-in."""
    import math

    base = path.rstrip("/")
    fs, HPath, hpath = _hadoop_fs(spark, base)
    _recover(fs, HPath, base, "compact_parquet")
    # a clear error beats the opaque py4j-wrapped FileNotFoundException
    # listStatus would otherwise raise when the table never existed
    if not fs.exists(hpath):
        raise IOError(f"compact_parquet: no parquet table at {path}")
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if st.isDirectory() and "=" in name:
            raise ValueError(
                "compact_parquet: refusing Hive-partitioned layout "
                f"({name}/ under {path}); compact each partition "
                "directory instead"
            )
    if fs.exists(HPath(base + "/_bucketing.json")):
        raise ValueError(
            f"compact_parquet: refusing bucketed layout at {path} "
            "(would strand _bucketing.json); use compact_parquet_bucketed"
        )
    total = fs.getContentSummary(hpath).getLength()
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    _swap_dir(
        fs,
        HPath,
        base,
        lambda p: df.coalesce(n_files).write.mode("overwrite").parquet(p),
        "compact_parquet",
    )
    return n_files


def delete_parquet_where(
    spark: SparkSession, path: str, condition: Column
) -> int:
    """Delete every row matching ``condition`` from a parquet table —
    flat or bucketed-upsert layout, detected from ``_bucketing.json``
    — preserving the layout. Returns the number of rows deleted.

    The undo primitive the keyed sinks need for chain reorgs
    (streaming.rollback): a RollBackward at slot S means every landed
    row with ``slot > S`` belongs to an orphaned block and must go.
    Deletion rewrites the table through :func:`_swap_dir`, which states
    the durability contract — O(table) per call, which is the right
    trade for an event as rare as a reorg; at lake scale the
    Delta/Iceberg ``DELETE WHERE`` is the transactional drop-in. Rows
    keep their ``__bucket`` values, so the bucketed layout's pruning
    and O(batch) upserts are untouched.

    If nothing survives, the table directory is removed entirely (an
    empty parquet directory would be schema-less and unreadable); the
    next upsert recreates it as a first write.
    """
    base = path.rstrip("/")
    fs, HPath, hpath = _hadoop_fs(spark, base)
    _recover(fs, HPath, base, "delete_parquet_where")
    if not fs.exists(hpath):
        return 0  # nothing landed yet — nothing to undo
    marker = HPath(base + "/_bucketing.json")
    marker_text = _read_text_file(fs, marker) if fs.exists(marker) else None

    df = spark.read.parquet(path)
    # NULL-condition rows don't MATCH the delete predicate — they
    # survive (a bare ~condition would silently drop them too)
    survivors = df.where(~condition | condition.isNull())
    # ONE counting scan (map-side partial agg) for both totals — the
    # naive df.count() + survivors.count() pair costs two extra full
    # table reads before the rewrite scan
    counts = df.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(condition, 1).otherwise(0)).alias("n_del"),
    ).first()
    n_total = counts["n_total"]
    n_keep = n_total - (counts["n_del"] or 0)
    if n_keep == n_total:
        return 0

    def write(staged: str) -> None:
        writer = survivors.write.mode("overwrite")
        if marker_text is not None:
            writer = writer.partitionBy("__bucket")
        writer.parquet(staged)

    _swap_dir(
        fs,
        HPath,
        base,
        write if n_keep else None,
        "delete_parquet_where",
        marker=marker_text,
    )
    return n_total - n_keep


def compact_parquet_bucketed(
    spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> dict[int, int]:
    """Per-bucket small-file compaction for :func:`upsert_parquet_bucketed`
    layouts — the remedy :func:`compact_parquet` deliberately refuses to
    apply. Each ``__bucket=N/`` partition directory is rewritten in
    place to ``ceil(bucket_bytes / target_file_bytes)`` files; buckets
    already at or under their target file count are skipped (no data
    moves for untouched buckets). Returns ``{bucket: n_files_after}``.

    Why it exists: a streaming ingest upserts per micro-batch, so every
    touched bucket gains small files each batch; after thousands of
    batches the index scan cost becomes file listing + footer reads
    instead of IO. Compaction is pure layout maintenance — same rows,
    same ``_bucketing.json`` marker, and partition pruning plus the
    O(batch) touched-bucket merge behave identically afterwards.

    Each bucket is swapped through :func:`_swap_dir`, which states the
    durability contract. Its staging and aside directories live under
    the table root with underscore-prefixed names (``_compact_tmp_N`` /
    ``_compact_old_N``) that Spark's file index ignores, so a crash
    never corrupts partition discovery, and the recovery sweep at the
    top of the next run restores a bucket whose only copy a crash left
    at ``_compact_old_N``. On object stores use Delta OPTIMIZE.

    Read-then-rewrite rule (docs/SCALE.md): rewriting the table path
    invalidates any persisted plan whose lineage reads it
    (recacheByPath) — ``localCheckpoint`` anything still needed BEFORE
    compacting.
    """
    import math
    import re

    fn = "compact_parquet_bucketed"
    base = path.rstrip("/")
    fs, HPath, hpath = _hadoop_fs(spark, base)
    if not fs.exists(hpath):
        raise IOError(f"{fn}: no table at {path}")
    # crash recovery FIRST: restore any bucket whose only copy a crash
    # left at the aside name, and clear stage garbage
    for name in _child_names(fs, hpath):
        m = re.fullmatch(r"_compact_old_(\d+)", name)
        if m:
            live = f"{base}/__bucket={m.group(1)}"
            _recover(fs, HPath, live, fn, aside=f"{base}/{name}")
        elif name.startswith("_compact_tmp_"):
            fs.delete(HPath(f"{base}/{name}"), True)
    if not fs.exists(HPath(base + "/_bucketing.json")):
        raise ValueError(
            f"{fn}: {path} is not a bucketed-upsert layout (no "
            "_bucketing.json); use compact_parquet"
        )
    results: dict[int, int] = {}
    for name in sorted(_child_names(fs, hpath)):
        m = re.fullmatch(r"__bucket=(\d+)", name)
        if not m:
            continue
        b = int(m.group(1))
        bdir = f"{base}/{name}"
        n_parts = _n_parquet(fs, HPath(bdir))
        total = fs.getContentSummary(HPath(bdir)).getLength()
        n_files = max(1, math.ceil(total / target_file_bytes))
        if n_parts <= n_files:
            results[b] = n_parts
            continue
        # the bucket dir read directly has no partition column — the
        # rewrite emits data-only files, exactly what the layout holds
        bucket_df = spark.read.parquet(bdir).coalesce(n_files)
        _swap_dir(
            fs,
            HPath,
            bdir,
            lambda p: bucket_df.write.mode("overwrite").parquet(p),
            fn,
            staged=f"{base}/_compact_tmp_{b}",
            aside=f"{base}/_compact_old_{b}",
        )
        results[b] = n_files
    return results


def maybe_compact_bucketed(
    spark: SparkSession,
    path: str,
    max_files_per_bucket: int = 16,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[int, int] | None:
    """Threshold-triggered compaction for streaming upsert loops: the
    piece that makes :func:`compact_parquet_bucketed` self-maintaining.
    Call it at the END of each foreachBatch body (after every read of
    the table — rewriting the path invalidates cached plans reading
    it, docs/SCALE.md read-then-rewrite rule); it is a cheap pure
    file-LISTING probe (no data read, no Spark job) until some bucket
    exceeds ``max_files_per_bucket`` parquet files, then one compaction
    pass. Returns the compaction result, or ``None`` when nothing
    needed doing (including: table not yet created / not bucketed).

    Sizing: a per-batch upsert adds ~1 file per writing task to each
    touched bucket, so after B batches an unmaintained bucket holds
    O(B) files and the index scan cost becomes file listing + footer
    reads instead of IO. The threshold bounds steady-state files per
    bucket at ``max_files_per_bucket + (batches between probes ×
    files/batch)`` — listing stays O(files), the probe O(buckets).
    """
    base = path.rstrip("/")
    fs, HPath, hpath = _hadoop_fs(spark, base)
    if not fs.exists(HPath(base + "/_bucketing.json")):
        return None  # first batches / flat layout: nothing to maintain
    worst = max(
        (
            _n_parquet(fs, HPath(f"{base}/{name}"))
            for name in _child_names(fs, hpath)
            if name.startswith("__bucket=")
        ),
        default=0,
    )
    if worst <= max_files_per_bucket:
        return None
    return compact_parquet_bucketed(spark, path, target_file_bytes)


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: Sequence[str],
    n_files: int,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet sink: range-partition by the Morton
    key of ``zorder_cols`` (low ``bits`` bits each, callers pre-bucket
    wider domains) and sort within each partition, so every output
    file covers a compact hyper-rectangle-ish region of the key space.
    Parquet's per-file/rowgroup min-max stats on the ORIGINAL columns
    then prune reads for range predicates on ANY z-ordered dimension —
    the multi-dimensional generalization of sorting by one column
    (Delta/Iceberg's OPTIMIZE ZORDER BY; here as a plain parquet
    layout primitive).

    Scale shape: ``repartitionByRange`` samples the key (one pass),
    then one range shuffle; the within-partition sort spills, never
    OOMs. No global sort and no driver materialization at any table
    size.
    """
    from blockchain_data_engineering_spark.functions.scalar import zorder_key

    zk = zorder_key(list(zorder_cols), bits=bits)
    (
        df.repartitionByRange(n_files, zk)
        .sortWithinPartitions(zk)
        .write.mode(mode)
        .parquet(path)
    )


def compaction_plan(
    files: DataFrame,
    target_bytes: int,
    size_col: str = "size_bytes",
    order_col: str = "file",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Small-file compaction PLANNING: assign files to rewrite groups
    of ≈ ``target_bytes`` each — the decision layer in front of
    :func:`compact_parquet` (which rewrites a whole directory) and the
    OPTIMIZE file-binning step every lakehouse table service runs.

    Deterministic cumulative-sum binning, not first-fit-decreasing:
    files are taken in ``order_col`` order (name order ≈ write order,
    so a bin holds temporally adjacent files — what compaction wants
    for downstream time-range pruning) and
    ``bin = floor(cum_bytes_before / target_bytes)``. The greedy FFD
    packing is marginally tighter but sequentially dependent and
    engine-ambiguous; cumsum binning is one window expression,
    reproducible anywhere, and never overshoots a bin by more than one
    file — the same guarantee Delta's OPTIMIZE bin-packing gives.

    ``group_cols`` scopes bins (per partition/bucket — files are never
    compacted across partition boundaries). Scale shape: ONE window
    over the file LISTING (metadata grain, millions of rows at most,
    partitioned by ``group_cols``), never over data. Files already at
    or above ``target_bytes`` get ``bin = NULL`` (leave in place — the
    standard OPTIMIZE skip rule) and don't consume bin budget.
    """
    from pyspark.sql.window import Window

    gcols = list(group_cols)
    big = F.col(size_col) >= F.lit(int(target_bytes))
    w = (
        Window.partitionBy(*gcols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(
        F.sum(F.when(big, 0).otherwise(F.col(size_col))).over(w), F.lit(0)
    )
    return files.select(
        *gcols,
        order_col,
        F.col(size_col).cast("long").alias(size_col),
        F.when(
            ~big, F.floor(cum_before / F.lit(int(target_bytes)))
        ).cast("long").alias("bin"),
    )


def zonemap_scan_decisions(
    file_stats: DataFrame,
    predicates: DataFrame,
    dims: Sequence[tuple[str, str, str, str]],
) -> DataFrame:
    """Zone-map (min/max statistics) pruning PLANNING: for every
    (predicate, file) pair, decide whether the file's per-column
    min/max ranges force a scan — the data-skipping decision every
    parquet/Delta/Iceberg reader makes from footer stats, exposed as
    an engine-checkable operator so LAYOUTS can be evaluated ("how
    many files does this workload touch under linear sort vs Z-order")
    before rewriting 100 TB.

    ``dims`` is a list of ``(min_col, max_col, lo_col, hi_col)``: the
    first two name the file-stats columns, the last two the
    predicate's closed range on that dimension. A file must be scanned
    iff EVERY dimension overlaps: ``min ≤ hi AND max ≥ lo``. NULLs
    resolve toward SCANNING, never skipping — NULL stats (an all-NULL
    chunk) satisfy the dimension, and a NULL predicate bound means
    unbounded on that side (``hi = NULL`` ⇒ no upper limit), so
    ``must_scan`` is always a real boolean and a data-skipping audit
    can never claim pruning it isn't entitled to. Pure
    integer/comparison logic — engine-identical.

    Scale shape: the predicate set BROADCASTS onto the file listing
    (a BroadcastNestedLoopJoin over |files|·|preds| METADATA-grain
    pairs — millions of files × a dashboard's worth of predicates,
    never data). Returns every file-stats column plus the predicate
    columns and ``must_scan`` (boolean)."""
    if not dims:
        raise ValueError("zonemap_scan_decisions needs at least one dim")
    cond = None
    for mn, mx, lo, hi in dims:
        below = (F.col(mn) <= F.col(hi)) | F.col(hi).isNull()
        above = (F.col(mx) >= F.col(lo)) | F.col(lo).isNull()
        ov = (
            (below & above)
            | F.col(mn).isNull()
            | F.col(mx).isNull()
        )
        cond = ov if cond is None else (cond & ov)
    return file_stats.crossJoin(F.broadcast(predicates)).withColumn(
        "must_scan", cond
    )


def zonemap_prune_summary(
    file_stats: DataFrame,
    predicates: DataFrame,
    dims: Sequence[tuple[str, str, str, str]],
    pred_keys: Sequence[str],
    rows_col: str = "n_rows",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-predicate pruning effectiveness over a file layout: from
    :func:`zonemap_scan_decisions`, one aggregate per
    (``group_cols``, ``pred_keys``) — ``n_files``, ``files_scanned``,
    ``rows_scanned`` (the I/O the layout fails to skip). Compare two
    layouts' summaries on the same workload to quantify what a
    Z-order/sort rewrite buys (plans/lake_queries.py
    lake_zonemap_pruning gates exactly that comparison)."""
    dec = zonemap_scan_decisions(file_stats, predicates, dims)
    scan = F.when(F.col("must_scan"), 1).otherwise(0)
    return dec.groupBy(*group_cols, *pred_keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(scan).cast("long").alias("files_scanned"),
        F.sum(scan * F.col(rows_col)).cast("long").alias("rows_scanned"),
    )
