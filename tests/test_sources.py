"""Batch source/sink tests: NDJSON block reader, reference-shaped dim
loaders, and the idempotent key-based parquet upsert (SURVEY §2.1
S4/S11)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from blockchain_data_engineering_spark.domain.synthetic import generate_chain
from blockchain_data_engineering_spark.sources import (
    load_decimals_dim,
    load_prices_dim,
    read_ndjson_blocks,
    upsert_parquet,
)


def test_read_ndjson_blocks(spark, tmp_path):
    chain = generate_chain(n_blocks=10, seed=3)
    p = tmp_path / "blocks.ndjson"
    p.write_text("\n".join(chain.lines) + "\n")
    blocks = read_ndjson_blocks(spark, str(p))
    assert blocks.count() == 10
    assert {"height", "id", "slot", "transactions"} <= set(blocks.columns)


def test_load_dims_reference_shape(spark, tmp_path):
    # the reference's prices envelope: {date, assets: [...]}
    chain = generate_chain(n_blocks=2, seed=3)
    prices_file = tmp_path / "prices.json"
    assets = [
        {"id": p["unit"], "symbol": p["symbol"],
         "last_price_usd": p["last_price_usd"],
         "last_price_ada": p["last_price_ada"],
         "last_update": p["last_update"],
         "pricing_provider": p["pricing_provider"]}
        for p in chain.prices
    ]
    prices_file.write_text(json.dumps({"date": "2025-02-06", "assets": assets}))
    decimals_file = tmp_path / "decimals.json"
    decimals_file.write_text(json.dumps(chain.decimals))

    prices = load_prices_dim(spark, str(prices_file))
    assert prices.count() == len(assets)
    assert {"unit", "last_price_ada"} <= set(prices.columns)
    decs = load_decimals_dim(spark, str(decimals_file))
    assert decs.count() == len(chain.decimals)


def test_upsert_parquet_on_conflict_update(spark, tmp_path):
    # explicit file:// scheme: the probe/swap must resolve through the
    # Hadoop FileSystem API from the path's own scheme (the io.py
    # round-2 defect was a local-os probe that misreports any
    # non-local table as missing and overwrites it)
    path = "file://" + str(tmp_path / "vol_by_block")
    v1 = spark.createDataFrame(
        [("tokA", 1, 10.0), ("tokA", 2, 20.0), ("tokB", 1, 5.0)],
        "unit STRING, height LONG, value_adj DOUBLE",
    )
    upsert_parquet(v1, path, ["unit", "height"])
    # second batch: update (tokA, 2), insert (tokB, 3)
    v2 = spark.createDataFrame(
        [("tokA", 2, 99.0), ("tokB", 3, 7.0)],
        "unit STRING, height LONG, value_adj DOUBLE",
    )
    upsert_parquet(v2, path, ["unit", "height"])
    got = {
        (r.unit, r.height): r.value_adj
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        ("tokA", 1): 10.0,
        ("tokA", 2): 99.0,  # updated, not duplicated
        ("tokB", 1): 5.0,
        ("tokB", 3): 7.0,
    }
    # idempotence: reapplying the same batch changes nothing
    upsert_parquet(v2, path, ["unit", "height"])
    again = {
        (r.unit, r.height): r.value_adj
        for r in spark.read.parquet(path).collect()
    }
    assert again == got


def test_upsert_delta_guard_or_merge(spark, tmp_path):
    """The transactional drop-in (SCALE.md claim) must be executable
    where delta-spark exists and fail with a clear, actionable error
    where it doesn't — never an opaque mid-merge crash."""
    import pytest

    from blockchain_data_engineering_spark.sources import upsert_delta

    path = str(tmp_path / "delta_tbl")
    v1 = spark.createDataFrame([("a", 1, 1.0)], "unit STRING, height LONG, v DOUBLE")
    try:
        import delta  # noqa: F401  # type: ignore
    except ImportError:
        with pytest.raises(ImportError, match="delta-spark"):
            upsert_delta(v1, path, ["unit", "height"])
        return
    # package present (not this container): full MERGE semantics
    upsert_delta(v1, path, ["unit", "height"])
    v2 = spark.createDataFrame(
        [("a", 1, 9.0), ("b", 2, 2.0)], "unit STRING, height LONG, v DOUBLE"
    )
    upsert_delta(v2, path, ["unit", "height"])
    got = {
        (r.unit, r.height): r.v
        for r in spark.read.format("delta").load(path).collect()
    }
    assert got == {("a", 1): 9.0, ("b", 2): 2.0}


def test_upsert_parquet_crash_recovery_restores_old(spark, tmp_path):
    """A crash between the two swap renames leaves the only copy of the
    table at <path>__old; the next upsert must restore it (via Hadoop
    FS rename, not local os calls) instead of treating the table as
    missing — which would silently drop every pre-crash row."""
    import os

    local = str(tmp_path / "crashy")
    path = "file://" + local
    v1 = spark.createDataFrame([("a", 1, 1.0)], "unit STRING, height LONG, v DOUBLE")
    upsert_parquet(v1, path, ["unit", "height"])
    # simulate the crash window: table renamed aside, swap never landed
    os.rename(local, local + "__old")
    v2 = spark.createDataFrame([("b", 2, 2.0)], "unit STRING, height LONG, v DOUBLE")
    upsert_parquet(v2, path, ["unit", "height"])
    got = {(r.unit, r.height) for r in spark.read.parquet(path).collect()}
    assert got == {("a", 1), ("b", 2)}  # pre-crash row survived the merge
    assert not os.path.exists(local + "__old")


def test_upsert_parquet_into_directory_without_data_files(spark, tmp_path):
    """A table directory that exists but holds no parquet file (made
    ahead of the first batch) is a first write: the swap replaces the
    directory instead of renaming the staged table into it as a
    subdirectory, which would leave the path unreadable."""
    local = tmp_path / "precreated"
    local.mkdir()
    (local / "_SUCCESS").touch()
    batch = spark.createDataFrame([(1, 10)], "k LONG, v LONG")
    upsert_parquet(batch, "file://" + str(local), ["k"])
    assert not (local / "precreated__tmp").exists()
    assert [tuple(r) for r in spark.read.parquet(str(local)).collect()] == [
        (1, 10)
    ]


def test_neo4j_cypher_script_sink(spark, tmp_path):
    """S6 passthrough, offline transport: the cypher-script twin must
    emit idempotent UNWIND-MERGE statements carrying exactly the
    reference's relationship shape (keyed Wallet nodes, SENT_TO rel
    with tx_hash/unit keys and value/value_ada props)."""
    import glob
    import json
    import re

    from blockchain_data_engineering_spark.sources import neo4j as N4

    edges = spark.createDataFrame(
        [
            ("s1", "r1", "tx1", "lovelace", 5, 0.000005),
            ("s1", "r2", "tx1", "lovelace", 7, 0.000007),
            ("s2", "r1", "tx2", "tokenX", 3, 0.0),
        ],
        "send_addr string, rx_addr string, tx_hash string, unit string,"
        " value long, value_adj double",
    )
    out = str(tmp_path / "cypher")
    n = N4.write_cypher_script(edges, out, batch_size=2)
    assert n == 3
    files = sorted(glob.glob(out + "/*.cypher"))
    assert len(files) == 2  # batch_size=2 → 2 statements
    text = "".join(open(f).read() for f in files)
    # statement shape: MERGE-keyed nodes + relationship, SET props
    assert "MERGE (s:Wallet {address: row.send_addr})" in text
    assert "MERGE (s)-[t:SENT_TO {tx_hash: row.tx_hash, unit: row.unit}]->(r)" in text
    assert "SET t.value = row.value, t.value_ada = row.value_adj" in text
    # the inlined batch is a Cypher map-literal list: keys are BARE
    # identifiers (cypher-shell rejects JSON's quoted keys), values
    # are JSON scalars; re-quote the keys to round-trip through json
    rows = []
    for m in re.finditer(r"UNWIND (\[.*?\]) AS row", text):
        lit = m.group(1)
        assert '{"' not in lit, "map keys must be bare identifiers"
        as_json = re.sub(
            r"([{,]\s*)([A-Za-z_][A-Za-z0-9_]*)\s*:", r'\1"\2":', lit
        )
        rows += json.loads(as_json)
    assert {(r["send_addr"], r["rx_addr"], r["tx_hash"]) for r in rows} == {
        ("s1", "r1", "tx1"), ("s1", "r2", "tx1"), ("s2", "r1", "tx2")
    }
    # replaying the same batch produces the identical statement text —
    # MERGE keys make the sink idempotent
    out2 = str(tmp_path / "cypher2")
    N4.write_cypher_script(edges, out2, batch_size=2)
    text2 = "".join(open(f).read() for f in sorted(glob.glob(out2 + "/*.cypher")))
    assert text2 == text


def test_upsert_parquet_bucketed_only_rewrites_touched_buckets(spark, tmp_path):
    import glob
    import os

    from blockchain_data_engineering_spark.sources import upsert_parquet_bucketed

    local = str(tmp_path / "bucketed")
    path = "file://" + local  # probe/marker/stage must go through Hadoop FS
    v1 = spark.createDataFrame(
        [(k, float(k)) for k in range(200)], "k LONG, v DOUBLE"
    )
    upsert_parquet_bucketed(v1, path, ["k"], n_buckets=8)
    assert len(glob.glob(f"{local}/__bucket=*")) >= 2

    # snapshot per-file mtimes before the second batch
    before = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{local}/__bucket=*/*.parquet")
    }

    # batch touching few keys: update k=0, insert k=1000
    v2 = spark.createDataFrame([(0, 99.0), (1000, 1.0)], "k LONG, v DOUBLE")
    upsert_parquet_bucketed(v2, path, ["k"], n_buckets=8)

    got = {
        r["k"]: r["v"]
        for r in spark.read.parquet(path).select("k", "v").collect()
    }
    assert len(got) == 201
    assert got[0] == 99.0 and got[1000] == 1.0 and got[7] == 7.0

    # buckets not hashed by k∈{0,1000} must be byte-identical files
    touched = {
        r["__b"]
        for r in spark.createDataFrame([(0,), (1000,)], "k LONG")
        .select(F.pmod(F.xxhash64("k"), F.lit(8)).cast("int").alias("__b"))
        .collect()
    }
    untouched_files = [
        f
        for f in before
        if int(f.split("__bucket=")[1].split("/")[0]) not in touched
    ]
    assert untouched_files, "test needs at least one untouched bucket"
    for f in untouched_files:
        assert os.path.exists(f), f"untouched bucket file was rewritten: {f}"
        assert os.path.getmtime(f) == before[f]


def test_upsert_parquet_bucketed_order_cols_resolve_batch_dups(spark, tmp_path):
    from blockchain_data_engineering_spark.sources import upsert_parquet_bucketed

    path = str(tmp_path / "bucketed_dups")
    base = spark.createDataFrame([(1, "old", 0)], "k LONG, v STRING, ts LONG")
    upsert_parquet_bucketed(base, path, ["k"], n_buckets=4)
    dups = spark.createDataFrame(
        [(1, "stale", 5), (1, "latest", 9)], "k LONG, v STRING, ts LONG"
    )
    upsert_parquet_bucketed(
        dups, path, ["k"], n_buckets=4, order_cols=[F.col("ts").desc()]
    )
    rows = spark.read.parquet(path).select("k", "v", "ts").collect()
    assert len(rows) == 1
    assert rows[0]["v"] == "latest" and rows[0]["ts"] == 9


def test_upsert_parquet_bucketed_rejects_layout_mismatch(spark, tmp_path):
    import pytest

    from blockchain_data_engineering_spark.sources import upsert_parquet_bucketed

    # file:// scheme: the guard's marker read must go through Hadoop FS
    # (with a local-os read the marker is invisible on object stores
    # and the guard never fires)
    path = "file://" + str(tmp_path / "bucketed_layout")
    v = spark.createDataFrame([(1, 1.0)], "k LONG, v DOUBLE")
    upsert_parquet_bucketed(v, path, ["k"], n_buckets=8)
    with pytest.raises(ValueError, match="layout mismatch"):
        upsert_parquet_bucketed(v, path, ["k"], n_buckets=16)
    with pytest.raises(ValueError, match="layout mismatch"):
        upsert_parquet_bucketed(
            spark.createDataFrame([(1, 1.0)], "other LONG, v DOUBLE"),
            path,
            ["other"],
            n_buckets=8,
        )


def test_neo4j_admin_export_layout(spark, tmp_path):
    """S6 bulk sink: the export must be loadable by pairing the one-line
    typed header with the headerless parts — verified here by reading
    the parts back WITH the header's schema and checking ids,
    label/type constants, and property typing survive. It writes the
    graph the MERGE transports write (Wallet nodes keyed by address,
    SENT_TO relationships with value_ada), so later incremental MERGEs
    match the bulk-loaded rows."""
    from blockchain_data_engineering_spark.sources import write_neo4j_admin_export

    edges = spark.createDataFrame(
        [
            ("a1", "a2", "tx1", "lovelace", 7, 0.7, True),
            ("a2", "a3", "tx2", "tok", 9, 0.9, False),
            ("a1", "a3", "tx3", "tok", 11, 1.1, True),
        ],
        "send_addr STRING, rx_addr STRING, tx_hash STRING, unit STRING,"
        " value LONG, value_adj DOUBLE, verified BOOLEAN",
    )
    out = str(tmp_path / "neo4j")
    cmd = write_neo4j_admin_export(edges, out)
    assert "neo4j-admin database import full" in cmd

    node_header = (tmp_path / "neo4j" / "nodes_header.csv").read_text().strip()
    rel_header = (
        (tmp_path / "neo4j" / "relationships_header.csv").read_text().strip()
    )
    assert node_header == "address:ID(Wallet),:LABEL"
    assert rel_header == (
        ":START_ID(Wallet),:END_ID(Wallet),:TYPE,tx_hash:string,"
        "unit:string,value:long,value_ada:double,verified:boolean"
    )

    nodes = spark.read.csv(f"{out}/nodes", schema="address STRING, label STRING")
    assert sorted(r["address"] for r in nodes.collect()) == ["a1", "a2", "a3"]
    assert {r["label"] for r in nodes.collect()} == {"Wallet"}

    rels = spark.read.csv(
        f"{out}/relationships",
        schema="start STRING, end STRING, type STRING, tx_hash STRING,"
        " unit STRING, value LONG, value_adj DOUBLE, verified BOOLEAN",
    )
    rows = sorted(map(tuple, rels.collect()))
    assert len(rows) == 3
    assert {r[2] for r in rows} == {"SENT_TO"}
    assert rows[0] == ("a1", "a2", "SENT_TO", "tx1", "lovelace", 7, 0.7, True)


def test_neo4j_admin_export_rfc4180_quoting(spark, tmp_path):
    """neo4j-admin parses RFC4180 doubled quotes, not backslash
    escapes: a property containing a double-quote must land as "" in
    the raw CSV and round-trip under an RFC4180 reader."""
    from blockchain_data_engineering_spark.sources import write_neo4j_admin_export

    edges = spark.createDataFrame(
        [("a1", "a2", '6" pipe, threaded')],
        "send_addr STRING, rx_addr STRING, note STRING",
    )
    out = str(tmp_path / "neo4j_q")
    cmd = write_neo4j_admin_export(edges, out)
    assert "--multiline-fields=true" in cmd

    import glob

    raw = "".join(
        open(p).read() for p in glob.glob(f"{out}/relationships/part-*.csv")
    )
    assert '"6"" pipe, threaded"' in raw, raw  # doubled, not \"
    back = spark.read.option("escape", '"').csv(
        f"{out}/relationships",
        schema="start STRING, end STRING, type STRING, note STRING",
    )
    assert back.collect()[0]["note"] == '6" pipe, threaded'


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """S4-alt: ORC sink → scan roundtrip preserves values, and a
    filtered re-read pushes the predicate into the ORC stripe reader
    (PushedFilters on the Scan orc node) — same bar the parquet scans
    are held to in test_plans."""
    import io as _io
    from contextlib import redirect_stdout

    from blockchain_data_engineering_spark.catalog import load_table
    from blockchain_data_engineering_spark.sources import read_orc, write_orc

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_shipdate"
    )
    path = str(tmp_path / "lineitem_orc")
    write_orc(li, path)
    back = read_orc(spark, path)
    assert back.count() == li.count()
    assert sorted(back.columns) == sorted(li.columns)
    a = li.groupBy().sum("l_quantity").collect()[0][0]
    b = back.groupBy().sum("l_quantity").collect()[0][0]
    assert a == b

    buf = _io.StringIO()
    with redirect_stdout(buf):
        back.where(F.col("l_orderkey") == 42).explain("formatted")
    plan = buf.getvalue()
    assert "Scan orc" in plan, plan
    assert "PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)]" in plan or (
        "EqualTo(l_orderkey" in plan
    ), plan


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """write_partitioned lays out path/day=…/ and a day filter becomes
    partition pruning: the scan's PartitionFilters carries the
    predicate and only the matching directory's files are read."""
    import io as _io
    from contextlib import redirect_stdout

    from blockchain_data_engineering_spark.catalog import load_table
    from blockchain_data_engineering_spark.sources import write_partitioned

    ev = load_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "day", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_day")
    write_partitioned(ev, path, ["day"])

    back = spark.read.parquet(path)
    one_day = ev.select("day").distinct().orderBy("day").limit(1).collect()[0][0]
    filtered = back.where(F.col("day") == F.lit(one_day))
    buf = _io.StringIO()
    with redirect_stdout(buf):
        filtered.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "day" in plan, plan
    expected = ev.where(F.col("day") == F.lit(one_day)).count()
    assert filtered.count() == expected


def test_partitioned_dynamic_overwrite_replaces_only_touched_day(spark, tmp_path):
    from blockchain_data_engineering_spark.sources import write_partitioned

    df = spark.createDataFrame(
        [(1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c")], "id INT, day STRING, v STRING"
    )
    path = str(tmp_path / "dyn")
    write_partitioned(df, path, ["day"])
    patch = spark.createDataFrame([(9, "d2", "z")], "id INT, day STRING, v STRING")
    write_partitioned(patch, path, ["day"])  # overwrite mode, dynamic
    back = {(r["id"], r["day"], r["v"]) for r in spark.read.parquet(path).collect()}
    # d1 rows survive; d2 fully replaced by the patch
    assert back == {(1, "d1", "a"), (2, "d1", "b"), (9, "d2", "z")}


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    import glob

    from blockchain_data_engineering_spark.catalog import load_table
    from blockchain_data_engineering_spark.sources import compact_parquet

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    path = str(tmp_path / "shredded")
    li.repartition(40).write.parquet(path)
    before = len(glob.glob(path + "/*.parquet"))
    assert before >= 40
    total = li.count()
    qty = li.groupBy().sum("l_quantity").collect()[0][0]
    n = compact_parquet(spark, path, target_file_bytes=64 * 1024 * 1024)
    after = len(glob.glob(path + "/*.parquet"))
    assert after == n and after < before
    back = spark.read.parquet(path)
    assert back.count() == total
    assert back.groupBy().sum("l_quantity").collect()[0][0] == qty


def test_ndjson_quarantine_splits_poison_lines(spark, tmp_path):
    from blockchain_data_engineering_spark.domain.synthetic import generate_chain
    from blockchain_data_engineering_spark.sources import (
        read_ndjson_blocks,
        read_ndjson_blocks_with_quarantine,
    )

    ndjson = tmp_path / "blocks.ndjson"
    lines = list(generate_chain(n_blocks=5, seed=3).lines)
    poison = ['{"truncated": ', "not json at all", '{"py/state": {"era": "x"}}']
    ndjson.write_text("\n".join(lines + poison) + "\n")

    good, bad = read_ndjson_blocks_with_quarantine(spark, str(ndjson))
    assert good.count() == 5
    assert bad.count() == 3
    # good rows are the same the strict reader yields for a clean feed
    assert {r["id"] for r in good.collect()} == {
        r["id"] for r in read_ndjson_blocks(spark, str(ndjson)).where(
            F.col("id").isNotNull()
        ).collect()
    }


def test_compact_parquet_refuses_partitioned_and_bucketed(spark, tmp_path):
    import json as _json

    import pytest as _pytest

    from blockchain_data_engineering_spark.sources import (
        compact_parquet,
        write_partitioned,
    )

    df = spark.createDataFrame(
        [(1, "d1", "a"), (2, "d2", "b")], "id INT, day STRING, v STRING"
    )
    part = str(tmp_path / "part")
    write_partitioned(df, part, ["day"])
    with _pytest.raises(ValueError, match="Hive-partitioned"):
        compact_parquet(spark, part)

    flat = str(tmp_path / "bucketed")
    df.drop("day").write.parquet(flat)
    with open(flat + "/_bucketing.json", "w") as fh:
        _json.dump({"key_cols": ["id"], "n_buckets": 4}, fh)
    with _pytest.raises(ValueError, match="bucketed"):
        compact_parquet(spark, flat)


def test_compact_parquet_bucketed_reduces_files_keeps_layout(spark, tmp_path):
    import glob
    import io
    from contextlib import redirect_stdout

    from blockchain_data_engineering_spark.sources import (
        compact_parquet_bucketed,
        upsert_parquet_bucketed,
    )

    local = str(tmp_path / "idx")
    path = "file://" + local  # maintenance must go through Hadoop FS
    # micro-batch accretion: each upsert rewrites its touched buckets
    # through the shuffle, leaving one file per writing task per
    # bucket. At test row counts AQE would coalesce that shuffle to a
    # single task and mask the accretion real batch sizes produce, so
    # pin it off while building the fixture.
    prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        for i in range(6):
            batch = spark.createDataFrame(
                [(k, i) for k in range(i * 10, i * 10 + 10)],
                "k LONG, batch LONG",
            )
            upsert_parquet_bucketed(batch, path, ["k"], n_buckets=4)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)
    n_buckets = len(glob.glob(f"{local}/__bucket=*"))
    before = len(glob.glob(f"{local}/__bucket=*/*.parquet"))
    assert before > n_buckets, "fixture must accrete multiple files/bucket"
    marker = json.load(open(f"{local}/_bucketing.json"))

    res = compact_parquet_bucketed(spark, path)
    after = len(glob.glob(f"{local}/__bucket=*/*.parquet"))
    assert after == sum(res.values()) and after < before
    assert after == n_buckets  # tiny buckets → one file each
    # layout marker untouched; no stage/aside residue
    assert json.load(open(f"{local}/_bucketing.json")) == marker
    assert not glob.glob(f"{local}/_compact_*")

    # identical rows, and the table is still a live upsert target with
    # the same conflict semantics
    got = {r["k"]: r["batch"] for r in spark.read.parquet(path).collect()}
    assert len(got) == 60 and got[0] == 0 and got[59] == 5
    upsert_parquet_bucketed(
        spark.createDataFrame([(0, 99)], "k LONG, batch LONG"),
        path,
        ["k"],
        n_buckets=4,
    )
    got2 = {r["k"]: r["batch"] for r in spark.read.parquet(path).collect()}
    assert got2[0] == 99 and len(got2) == 60

    # partition pruning still reaches the scan post-compaction — the
    # property the bucketed layout exists for
    buf = io.StringIO()
    with redirect_stdout(buf):
        spark.read.parquet(path).where(F.col("__bucket") == 0).explain(
            "formatted"
        )
    assert "PartitionFilters" in buf.getvalue()
    assert "__bucket" in buf.getvalue()


def test_compact_parquet_bucketed_recovers_interrupted_bucket_swap(
    spark, tmp_path
):
    import glob
    import os

    from blockchain_data_engineering_spark.sources import (
        compact_parquet_bucketed,
        upsert_parquet_bucketed,
    )

    local = str(tmp_path / "idx2")
    v = spark.createDataFrame([(k, 0) for k in range(50)], "k LONG, b LONG")
    upsert_parquet_bucketed(v, local, ["k"], n_buckets=4)
    total = spark.read.parquet(local).count()
    bucket_dirs = sorted(glob.glob(f"{local}/__bucket=*"))
    # simulate a crash between the two per-bucket renames: live dir
    # renamed aside, replacement never landed
    victim = bucket_dirs[0]
    n = victim.split("__bucket=")[1]
    os.rename(victim, f"{local}/_compact_old_{n}")
    # plus stage garbage from the same crashed run
    os.makedirs(f"{local}/_compact_tmp_{n}", exist_ok=True)

    compact_parquet_bucketed(spark, local)
    assert os.path.isdir(victim)
    assert not glob.glob(f"{local}/_compact_*")
    assert spark.read.parquet(local).count() == total


def test_compact_parquet_recovers_from_interrupted_swap(spark, tmp_path):
    import os

    from blockchain_data_engineering_spark.sources import compact_parquet

    df = spark.createDataFrame([(i, i * 2) for i in range(100)], "a INT, b INT")
    path = str(tmp_path / "tbl")
    df.repartition(8).write.parquet(path)
    # simulate a crash between the two swap renames: live dir renamed
    # aside, replacement never landed
    os.rename(path, path + "__old")
    n = compact_parquet(spark, path)
    assert n >= 1
    assert spark.read.parquet(path).count() == 100
    assert not os.path.isdir(path + "__old")


def test_neo4j_connector_option_shape(spark, monkeypatch):
    """The connector transport can't execute here (no Neo4j Spark
    Connector jar), so pin its full writer configuration instead —
    format, save mode, and every relationship option the reference's
    connector write carries (src/etl_vol_transfers/main.py:190-209).
    The remaining risk was exactly this config shape; a typo'd option
    key would otherwise only surface against a live cluster."""
    from pyspark.sql.readwriter import DataFrameWriter

    from blockchain_data_engineering_spark.sources import neo4j as N4

    calls: dict = {"options": {}}
    monkeypatch.setattr(
        DataFrameWriter, "format",
        lambda self, f: (calls.__setitem__("format", f), self)[1],
    )
    monkeypatch.setattr(
        DataFrameWriter, "mode",
        lambda self, m: (calls.__setitem__("mode", m), self)[1],
    )
    monkeypatch.setattr(
        DataFrameWriter, "option",
        lambda self, k, v: (calls["options"].__setitem__(k, v), self)[1],
    )
    monkeypatch.setattr(
        DataFrameWriter, "save",
        lambda self, *a, **kw: calls.__setitem__("saved", True),
    )

    edges = spark.createDataFrame(
        [("s1", "r1", "tx1", "lovelace", 5, 0.000005)],
        "send_addr string, rx_addr string, tx_hash string, unit string,"
        " value long, value_adj double",
    )
    N4.write_neo4j_connector(edges, "bolt://example:7687", "neo4j", "pw")

    assert calls["saved"] and calls["format"] == "org.neo4j.spark.DataSource"
    assert calls["mode"] == "Overwrite"
    opts = calls["options"]
    assert opts["url"] == "bolt://example:7687"
    assert opts["authentication.basic.username"] == "neo4j"
    assert opts["authentication.basic.password"] == "pw"
    assert opts["database"] == "neo4j"
    assert opts["relationship"] == "SENT_TO"
    assert opts["relationship.source.save.mode"] == "Overwrite"
    assert opts["relationship.target.save.mode"] == "Overwrite"
    assert opts["relationship.save.strategy"] == "keys"
    assert opts["relationship.source.labels"] == ":Wallet"
    assert opts["relationship.source.node.keys"] == "send_addr:address"
    assert opts["relationship.target.labels"] == ":Wallet"
    assert opts["relationship.target.node.keys"] == "rx_addr:address"
    assert opts["relationship.properties"] == (
        "tx_hash,unit,value,value_adj:value_ada"
    )


def test_maybe_compact_bounds_files_over_long_replay(spark, tmp_path):
    """r4 verdict ask #6: with threshold-triggered compaction wired
    into the ingest loop, a long replay keeps the per-bucket file
    count BOUNDED (threshold + per-batch increment) instead of O(B)
    after B batches, while conflict semantics, the layout marker, and
    partition pruning all survive every compaction pass."""
    import glob
    import io
    from contextlib import redirect_stdout

    from blockchain_data_engineering_spark.sources import (
        maybe_compact_bucketed,
        upsert_parquet_bucketed,
    )

    local = str(tmp_path / "idx")
    path = "file://" + local
    threshold = 3
    # probe on a missing/flat table is a clean no-op
    assert maybe_compact_bucketed(spark, path, threshold) is None

    prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    compactions = 0
    worst_seen = 0
    try:
        for i in range(14):  # long replay: every batch touches bucket(s)
            batch = spark.createDataFrame(
                [(k, i) for k in range(i * 5, i * 5 + 5)] + [(0, i)],
                "k LONG, batch LONG",
            )
            upsert_parquet_bucketed(batch, path, ["k"], n_buckets=2)
            if maybe_compact_bucketed(spark, path, threshold) is not None:
                compactions += 1
            worst = max(
                len(glob.glob(f"{local}/__bucket={b}/*.parquet"))
                for b in (0, 1)
            )
            worst_seen = max(worst_seen, worst)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)
    assert compactions >= 2, "threshold never tripped — fixture too small"
    # bounded: post-maintenance worst is ≤ threshold (compaction runs
    # the same batch the threshold trips), so across the whole replay
    # the worst ever observed stays ≤ threshold + one batch's files,
    # NOT O(n_batches)
    per_batch_files = spark.sparkContext.defaultParallelism
    assert worst_seen <= threshold + per_batch_files
    assert (
        max(len(glob.glob(f"{local}/__bucket={b}/*.parquet")) for b in (0, 1))
        <= threshold
    )
    # correctness across 14 replayed batches + every compaction
    got = {r["k"]: r["batch"] for r in spark.read.parquet(path).collect()}
    assert len(got) == 70 and got[0] == 13 and got[69] == 13
    # pruning still reaches the scan (the property the layout buys)
    buf = io.StringIO()
    with redirect_stdout(buf):
        spark.read.parquet(path).where(F.col("__bucket") == 0).explain(
            "formatted"
        )
    assert "PartitionFilters" in buf.getvalue()


class FlakyFS:
    """Delegating Hadoop fs wrapper for crash injection: each mutating
    op (rename/delete) spends one unit of the shared budget; once the
    budget is spent the op raises instead (driver death at that
    boundary)."""

    def __init__(self, real, state):
        self._real = real
        self._state = state

    def __getattr__(self, name):
        attr = getattr(self._real, name)
        if name not in ("rename", "delete"):
            return attr

        def wrapped(*a, **k):
            if self._state["left"] <= 0:
                raise IOError("injected crash")
            self._state["left"] -= 1
            return attr(*a, **k)

        return wrapped


def _run_with_flaky_fs(monkeypatch, budget, fn):
    """Run ``fn()`` with every ``sources.io`` filesystem handle wrapped
    in a :class:`FlakyFS` of ``budget`` mutating ops. Returns
    ``(crashed, ops_spent)``."""
    from blockchain_data_engineering_spark.sources import io as IO

    real_hadoop_fs = IO._hadoop_fs
    state = {"left": budget}

    def flaky(spark_, p):
        fs, HPath, hpath = real_hadoop_fs(spark_, p)
        return FlakyFS(fs, state), HPath, hpath

    monkeypatch.setattr(IO, "_hadoop_fs", flaky)
    crashed = False
    try:
        fn()
    except IOError:
        crashed = True
    finally:
        monkeypatch.setattr(IO, "_hadoop_fs", real_hadoop_fs)
    return crashed, budget - state["left"]


def _crash_anywhere_converges(monkeypatch, tmp_path, run_scenario, expected):
    """Crash ``run_scenario(path)`` at each filesystem-mutation boundary
    in turn (budget 0, 1, ...; a crash between ops i and i+1 is a crash
    before op i+1), then rerun it on a healthy fs: every rerun must
    recover and end in ``expected``. Returns the number of boundaries
    exercised (the scenario's mutating-op count)."""
    for budget in range(40):
        path = "file://" + str(tmp_path / f"crash{budget}")
        crashed, _ = _run_with_flaky_fs(
            monkeypatch, budget, lambda: run_scenario(path)
        )
        if not crashed:
            return budget
        got = run_scenario(path)
        assert got == expected, f"budget {budget}: {got}"
    raise AssertionError("scenario never completed crash-free")


def test_upsert_crash_anywhere_then_retry_recovers(spark, tmp_path, monkeypatch):
    """Durability property: a crash at ANY filesystem-mutation
    boundary inside upsert_parquet / compact_parquet /
    delete_parquet_where must leave the table recoverable: the NEXT
    call restores the preserved copy and completes, ending in exactly
    the state a crash-free run produces."""
    from blockchain_data_engineering_spark.sources import io as IO

    def run_scenario(path):
        df1 = spark.createDataFrame(
            [(1, 10), (2, 20)], "k LONG, v LONG"
        )
        df2 = spark.createDataFrame(
            [(2, 22), (3, 33)], "k LONG, v LONG"
        )
        IO.upsert_parquet(df1, path, ["k"])
        IO.upsert_parquet(df2, path, ["k"])
        IO.compact_parquet(spark, path)
        IO.delete_parquet_where(
            spark, path, IO.F.col("k") == IO.F.lit(1)
        )
        return {
            r["k"]: r["v"] for r in spark.read.parquet(path).collect()
        }

    expected = run_scenario("file://" + str(tmp_path / "clean"))
    assert expected == {2: 22, 3: 33}
    # compact_parquet's swap runs on the same (patched) filesystem handle
    table = "file://" + str(tmp_path / "compact_ops")
    one = spark.createDataFrame([(1, 1)], "k LONG, v LONG")
    IO.upsert_parquet(one, table, ["k"])
    crashed, ops = _run_with_flaky_fs(
        monkeypatch, 100, lambda: IO.compact_parquet(spark, table)
    )
    assert not crashed and ops >= 4, ops
    exercised = _crash_anywhere_converges(
        monkeypatch, tmp_path, run_scenario, expected
    )
    assert exercised > 5 + ops, "too few injection points exercised"


def test_bucketed_upsert_crash_anywhere_then_retry_recovers(
    spark, tmp_path, monkeypatch
):
    """Same crash-anywhere property for the bucketed upsert family,
    including a schema-EVOLUTION batch (whole-directory staged swap)
    and the steady-state pruned merge after it."""
    from blockchain_data_engineering_spark.sources import io as IO

    def run_scenario(path):
        # merge_schema on every batch: an evolving pipeline enables it
        # pipeline-wide, and a full replay (batch 1 re-running against
        # the already-evolved table) must then converge, not refuse
        IO.upsert_parquet_bucketed(
            spark.createDataFrame([(k, k) for k in range(6)], "k LONG, v LONG"),
            path, ["k"], n_buckets=3, merge_schema=True,
        )
        IO.upsert_parquet_bucketed(  # evolution: adds w, full swap
            spark.createDataFrame([(1, 11, 7)], "k LONG, v LONG, w LONG"),
            path, ["k"], n_buckets=3, merge_schema=True,
        )
        IO.upsert_parquet_bucketed(  # steady-state pruned merge
            spark.createDataFrame([(2, 22, 8)], "k LONG, v LONG, w LONG"),
            path, ["k"], n_buckets=3, merge_schema=True,
        )
        return {
            r["k"]: (r["v"], r["w"])
            for r in spark.read.parquet(path).collect()
        }

    expected = run_scenario("file://" + str(tmp_path / "clean"))
    assert expected[1] == (11, 7) and expected[2] == (22, 8)
    exercised = _crash_anywhere_converges(
        monkeypatch, tmp_path, run_scenario, expected
    )
    assert exercised > 3, "too few injection points exercised"


def test_bucketed_steady_merge_ignores_session_overwrite_mode(
    spark, tmp_path, monkeypatch
):
    """The steady-state bucketed merge must neither set nor depend on
    the session-wide partitionOverwriteMode. Two streams sharing a
    session can interleave a set/restore pair, and a merge that then
    writes under ``static`` replaces the whole table with only its
    touched buckets. With the conf at ``static`` and setting that key
    refused, the files of untouched buckets must stay unchanged."""
    import glob
    import os

    from pyspark.sql.conf import RuntimeConfig

    from blockchain_data_engineering_spark.sources import upsert_parquet_bucketed

    key = "spark.sql.sources.partitionOverwriteMode"
    local = str(tmp_path / "idx")
    upsert_parquet_bucketed(
        spark.createDataFrame([(k, 0) for k in range(40)], "k LONG, v LONG"),
        local, ["k"], n_buckets=8,
    )
    touched = (
        spark.read.parquet(local).where("k = 0").select("__bucket").first()[0]
    )
    before = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{local}/__bucket=*/*.parquet")
        if f"__bucket={touched}/" not in f
    }
    assert before, "test needs at least one untouched bucket"

    prev = spark.conf.get(key)
    real_set = RuntimeConfig.set

    def refusing_set(self, k, v):
        if k == key:
            raise RuntimeError(f"{key} is shared session state")
        return real_set(self, k, v)

    spark.conf.set(key, "static")
    monkeypatch.setattr(RuntimeConfig, "set", refusing_set)
    try:
        upsert_parquet_bucketed(
            spark.createDataFrame([(0, 1)], "k LONG, v LONG"),
            local, ["k"], n_buckets=8,
        )
    finally:
        monkeypatch.setattr(RuntimeConfig, "set", real_set)
        spark.conf.set(key, prev)
    after = {f: os.path.getmtime(f) for f in before if os.path.exists(f)}
    assert after == before, "untouched bucket files were rewritten"
    got = {r["k"]: r["v"] for r in spark.read.parquet(local).collect()}
    assert len(got) == 40 and got[0] == 1 and got[1] == 0


def test_write_zordered_enables_file_skipping(spark, tmp_path):
    """Z-order layout must make per-file min-max stats selective: a
    narrow range predicate on EITHER interleaved dimension should
    intersect a small fraction of the clustered files, vs ~all files
    under insert-order layout. (Per-file worst case is NOT asserted:
    files straddling a top z-bit boundary legitimately hull opposite
    corners of the key space — the aggregate skip rate is the
    operational property, same acceptance as Delta's OPTIMIZE ZORDER.)
    """
    from pyspark.sql import functions as F

    from blockchain_data_engineering_spark.sources.io import write_zordered

    n = 64 * 1024
    dom = 1024
    # two independent uniform dims in insert order (worst case: row
    # order correlates with NEITHER dim)
    df = spark.range(n).select(
        F.pmod(F.xxhash64(F.col("id")), F.lit(dom)).alias("x"),
        F.pmod(F.xxhash64(F.col("id") + 7), F.lit(dom)).alias("y"),
    )
    n_files = 64

    def files_hit(path, col, lo, hi):
        stats = (
            spark.read.parquet(path)
            .withColumn("f", F.input_file_name())
            .groupBy("f")
            .agg(F.min(col).alias("mn"), F.max(col).alias("mx"))
            .collect()
        )
        return len(stats), sum(1 for r in stats if r["mx"] >= lo and r["mn"] < hi)

    z_path = "file://" + str(tmp_path / "zordered")
    write_zordered(df, z_path, ["x", "y"], n_files=n_files, bits=10)
    base_path = "file://" + str(tmp_path / "unordered")
    df.repartition(n_files).write.parquet(base_path)

    for col in ("x", "y"):
        nf, hit_z = files_hit(z_path, col, 300, 400)
        assert nf == n_files
        _, hit_base = files_hit(base_path, col, 300, 400)
        # insert order: every file spans the domain, nothing skips
        assert hit_base >= n_files - 2, (col, hit_base)
        # z-order: a 10% predicate on either dim reads under half the
        # files (aligned cells give 25% + boundary-straddler slack)
        assert hit_z <= n_files // 2, (col, hit_z)
