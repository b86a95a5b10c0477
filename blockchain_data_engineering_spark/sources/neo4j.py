"""Neo4j relationship sinks (SURVEY §2.1 S6).

The engine's native graph representation is the transfer edge list
(send_addr, rx_addr, tx_hash, unit, value, value_adj) — PageRank and
the other graph analytics run on it directly (``operators.graph``).
This module is the sink for deployments with an existing Neo4j/Bolt
consumer, mirroring the reference's relationship save
(src/etl_vol_transfers/main.py:190-209: Neo4j Spark Connector,
``relationship=SENT_TO``, keyed Wallet nodes) with four transports:

1. :func:`write_neo4j_connector` — the same ``org.neo4j.spark.
   DataSource`` write the reference issues (requires the connector jar
   on the classpath);
2. :func:`write_neo4j_bolt` — ``foreachPartition`` + the ``neo4j``
   Python driver: parallel UNWIND-MERGE batches over Bolt, no jar
   needed (import-gated: neither the jar nor the driver ships in this
   test environment);
3. :func:`write_cypher_script` — offline twin: the identical
   UNWIND-MERGE statements as ``.cypher`` files (one per partition,
   parameters inlined as literals) for ``cypher-shell``/LOAD-style
   replay. Fully testable without a server, so the statement shape —
   the part that breaks consumers — is pinned by unit tests;
4. :func:`write_neo4j_admin_export` — CSV for ``neo4j-admin database
   import``, the bulk path for an initial load at engine scale.

All four write the same graph, named once below: ``(:Wallet
{address})-[:SENT_TO {tx_hash, unit, value, value_ada}]->(:Wallet
{address})``. The three MERGE transports are idempotent on replay
(MERGE keys = the deterministic content keys, H4 policy), and they
MERGE-match a graph the bulk export loaded.
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NODE_LABEL = "Wallet"
NODE_KEY = "address"
REL_TYPE = "SENT_TO"
SRC_COL, DST_COL = "send_addr", "rx_addr"
REL_KEYS = ("tx_hash", "unit")
# edge-list column → relationship property; the reference stores the
# ADA-adjusted value as ``value_ada``
REL_PROPS = {"value": "value", "value_adj": "value_ada"}
EDGE_COLS = (SRC_COL, DST_COL, *REL_KEYS, *REL_PROPS)


def write_neo4j_connector(
    df: DataFrame,
    url: str,
    user: str,
    password: str,
    database: str = "neo4j",
    mode: str = "Overwrite",
) -> None:
    """The reference's connector write. Requires the Neo4j Spark
    Connector jar (``org.neo4j:neo4j-connector-apache-spark``) on the
    classpath; raises Spark's ClassNotFound otherwise."""
    rel_props = ",".join(
        [*REL_KEYS, *(c if c == p else f"{c}:{p}" for c, p in REL_PROPS.items())]
    )
    (
        df.write.mode(mode)
        .format("org.neo4j.spark.DataSource")
        .option("url", url)
        .option("authentication.basic.username", user)
        .option("authentication.basic.password", password)
        .option("database", database)
        .option("relationship", REL_TYPE)
        .option("relationship.save.strategy", "keys")
        .option("relationship.source.save.mode", mode)
        .option("relationship.source.labels", f":{NODE_LABEL}")
        .option("relationship.source.node.keys", f"{SRC_COL}:{NODE_KEY}")
        .option("relationship.target.save.mode", mode)
        .option("relationship.target.labels", f":{NODE_LABEL}")
        .option("relationship.target.node.keys", f"{DST_COL}:{NODE_KEY}")
        .option("relationship.properties", rel_props)
        .save()
    )


def _unwind_cypher() -> str:
    """One statement per batch: UNWIND rows, MERGE keyed nodes and the
    keyed relationship, SET value props. MERGE on (tx_hash, unit) makes
    micro-batch replays idempotent (exactly-once into Neo4j)."""
    keys = ", ".join(f"{k}: row.{k}" for k in REL_KEYS)
    props = ", ".join(f"t.{p} = row.{c}" for c, p in REL_PROPS.items())
    return (
        "UNWIND $rows AS row "
        f"MERGE (s:{NODE_LABEL} {{{NODE_KEY}: row.{SRC_COL}}}) "
        f"MERGE (r:{NODE_LABEL} {{{NODE_KEY}: row.{DST_COL}}}) "
        f"MERGE (s)-[t:{REL_TYPE} {{{keys}}}]->(r) "
        f"SET {props}"
    )


def write_neo4j_bolt(
    df: DataFrame,
    uri: str,
    user: str,
    password: str,
    database: str = "neo4j",
    batch_size: int = 1000,
) -> None:
    """Parallel Bolt writer: every partition opens one driver session
    and sends UNWIND-MERGE batches — N executors write concurrently,
    bounded memory per batch. Needs ``pip install neo4j`` on the
    executors (absent here; the cypher-script twin below is the tested
    path)."""
    cypher = _unwind_cypher()

    def write_partition(rows: Iterator) -> None:
        try:
            import neo4j  # type: ignore
        except ImportError as exc:  # pragma: no cover - env without driver
            raise RuntimeError(
                "write_neo4j_bolt needs the 'neo4j' Python driver on "
                "executors; use write_neo4j_connector (jar) or "
                "write_cypher_script (offline) instead"
            ) from exc
        driver = neo4j.GraphDatabase.driver(uri, auth=(user, password))
        try:
            with driver.session(database=database) as session:
                batch: list[dict] = []
                for row in rows:
                    batch.append({c: row[c] for c in EDGE_COLS})
                    if len(batch) >= batch_size:
                        session.run(cypher, rows=batch)
                        batch = []
                if batch:
                    session.run(cypher, rows=batch)
        finally:
            driver.close()

    df.select(*EDGE_COLS).foreachPartition(write_partition)


def cypher_for_rows(rows: Sequence[dict]) -> str:
    """The UNWIND-MERGE statement with the batch inlined as a Cypher
    list literal — what one Bolt batch sends, rendered replayable as
    text. Cypher map KEYS must be bare identifiers (JSON's quoted keys
    are a syntax error in cypher-shell), so maps are rendered key by
    key with only the VALUES JSON-encoded (valid Cypher scalars)."""

    def _map(row: dict) -> str:
        return (
            "{"
            + ", ".join(f"{k}: {json.dumps(v)}" for k, v in row.items())
            + "}"
        )

    rendered = "[" + ", ".join(_map(dict(r)) for r in rows) + "]"
    return _unwind_cypher().replace("$rows", rendered) + ";"


def write_cypher_script(df: DataFrame, out_dir: str, batch_size: int = 1000) -> int:
    """Offline twin: ``.cypher`` files of idempotent UNWIND-MERGE
    statements (one file per ``batch_size`` rows) for cypher-shell.
    Returns the number of edge rows written. Rows stream through the
    driver via ``toLocalIterator`` (one partition in memory at a
    time); a cluster deployment swaps this loop for ``mapPartitions``
    + a distributed-FS write with the same statements."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    n = 0
    fi = 0
    batch: list[dict] = []

    def flush() -> None:
        nonlocal fi, batch
        if not batch:
            return
        with open(os.path.join(out_dir, f"part-{fi:04d}.cypher"), "w") as fh:
            fh.write(cypher_for_rows(batch) + "\n")
        fi += 1
        batch = []

    for row in df.select(*EDGE_COLS).toLocalIterator():
        batch.append(row.asDict())
        n += 1
        if len(batch) >= batch_size:
            flush()
    flush()
    return n


def _neo4j_prop_type(spark_type: str) -> str:
    """Spark SQL type → neo4j-admin import header type suffix
    (operations-manual: tools/neo4j-admin/neo4j-admin-import, 'Header
    format'). Integral → long, floating → double, boolean → boolean;
    everything else (string, decimal beyond long range, binary hex,
    timestamps pre-rendered by the caller) ships as string — the only
    lossless default for arbitrary precision."""
    if spark_type in ("tinyint", "smallint", "int", "bigint"):
        return "long"
    if spark_type in ("float", "double"):
        return "double"
    if spark_type == "boolean":
        return "boolean"
    return "string"


def write_neo4j_admin_export(edges: DataFrame, out_dir: str) -> str:
    """Bulk Neo4j sink. The reference MERGEd the same rows one Cypher
    call per edge (src/etl_vol_transfers/main.py:190-209). At engine
    scale the supported Neo4j bulk path is ``neo4j-admin database
    import`` over CSV, so this sink produces exactly that layout, fully
    distributed:

    - ``nodes/part-*.csv``  headerless node rows (distinct addresses),
    - ``relationships/part-*.csv``  headerless edge rows with every
      non-endpoint column as a typed property (``value_adj`` renamed
      ``value_ada``, as the MERGE transports store it),
    - ``nodes_header.csv`` / ``relationships_header.csv``  the one-line
      typed headers neo4j-admin pairs with the data globs
      (``address:ID(Wallet),:LABEL`` / ``:START_ID .. :END_ID .. :TYPE``).

    Returns the ready-to-run ``neo4j-admin database import full``
    command string. Per-row Cypher MERGE (the reference's shape) is
    O(edges) round-trips and years at 100 TB; this is one distributed
    CSV write plus Neo4j's own parallel bulk loader.

    ``out_dir`` must be a driver-visible filesystem path (the two
    one-line header files are written driver-side; neo4j-admin itself
    runs on a single machine reading the same directory) — for an
    object-store export, write there with Spark and sync down before
    importing. Headers are written FIRST so a non-writable target
    fails before the distributed work, not after.
    """
    import os

    id_space = f":ID({NODE_LABEL})"
    prop_fields = [
        f for f in edges.schema.fields if f.name not in (SRC_COL, DST_COL)
    ]

    node_header = f"{NODE_KEY}{id_space},:LABEL"
    rel_header = ",".join(
        [f":START_ID({NODE_LABEL})", f":END_ID({NODE_LABEL})", ":TYPE"]
        + [
            f"{REL_PROPS.get(f.name, f.name)}:"
            f"{_neo4j_prop_type(f.dataType.simpleString())}"
            for f in prop_fields
        ]
    )
    # tiny driver-side header files (one line each) — neo4j-admin takes
    # "--nodes=<header>,<data-glob>" so the distributed parts stay headerless
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "nodes_header.csv"), "w") as fh:
        fh.write(node_header + "\n")
    with open(os.path.join(out_dir, "relationships_header.csv"), "w") as fh:
        fh.write(rel_header + "\n")

    # escape='"' ⇒ RFC4180 doubled quotes — neo4j-admin does not parse
    # Spark's default backslash escaping; embedded newlines stay inside
    # quoted fields and are covered by --multiline-fields below
    nodes = (
        edges.select(F.col(SRC_COL).alias("addr"))
        .unionAll(edges.select(F.col(DST_COL).alias("addr")))
        .distinct()
        .select("addr", F.lit(NODE_LABEL).alias("label"))
    )
    nodes.write.mode("overwrite").option("emptyValue", "").option(
        "escape", '"'
    ).csv(os.path.join(out_dir, "nodes"))

    rels = edges.select(
        F.col(SRC_COL).alias("start"),
        F.col(DST_COL).alias("end"),
        F.lit(REL_TYPE).alias("type"),
        *[F.col(f.name) for f in prop_fields],
    )
    rels.write.mode("overwrite").option("emptyValue", "").option(
        "escape", '"'
    ).csv(os.path.join(out_dir, "relationships"))

    return (
        "neo4j-admin database import full --multiline-fields=true "
        f"--nodes={out_dir}/nodes_header.csv,{out_dir}/nodes/part-.* "
        f"--relationships={out_dir}/relationships_header.csv,"
        f"{out_dir}/relationships/part-.* neo4j"
    )
