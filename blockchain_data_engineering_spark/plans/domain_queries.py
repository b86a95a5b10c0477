"""Domain-layer queries for the driver's correctness gate (SURVEY §7.2
M2). The real domain pipeline runs on block-shaped data (see
``domain/`` + tests/test_domain_pipeline.py); these queries re-express
each domain kernel over the driver's tables per FIXTURES.md §9 so the
DuckDB oracle can verify the exact semantics:

- orders ≅ transactions, lineitem ≅ outputs/amount legs
- l_suppkey ≅ address, l_partkey ≅ token unit
- l_returnflag='R' legs ≅ consumed inputs, others ≅ produced outputs
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blockchain_data_engineering_spark.catalog import load_table, spread
from blockchain_data_engineering_spark.domain.netflow import transacted
from blockchain_data_engineering_spark.domain.schema import VALUE_MAP_TYPE
from blockchain_data_engineering_spark.functions.scalar import (
    deterministic_id,
    normalize_unit,
)
from blockchain_data_engineering_spark.plans.parity import quanta, quanta_sql
from blockchain_data_engineering_spark.plans.registry import query


# ---------------------------------------------------------------------------
# P6/F2/F3/A3: the dynamic value-map path end-to-end. Each lineitem is
# encoded into the reference's stringified JSON value payload
# ({"ada":{"lovelace":N},"<policy>":{"<name>":Q}}), parsed back through
# a native MapType from_json, double-exploded, unit-concatenated with
# the adalovelace→lovelace rewrite, and aggregated — exactly the U2
# output-sum kernel (src/etl_vol_transfers/main.py:77-94) with zero
# Python. The oracle computes the flat equivalent.
# ---------------------------------------------------------------------------
@query(
    "domain_value_map_roundtrip",
    oracle=f"""
    WITH flat AS (
      SELECT l_orderkey, l_suppkey AS address, 'lovelace' AS unit,
             CAST(l_quantity AS BIGINT) AS q
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_suppkey,
             'p' || CAST(l_partkey AS VARCHAR) || 't',
             {quanta_sql('l_extendedprice', 2)}
      FROM lineitem
    )
    SELECT l_orderkey, address, unit, CAST(sum(q) AS BIGINT) AS quantity
    FROM flat GROUP BY 1, 2, 3
    """,
)
def domain_value_map_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spread(load_table(spark, sf_dir, "lineitem"))
    value_json = F.concat(
        F.lit('{"ada":{"lovelace":'),
        F.col("l_quantity").cast("long").cast("string"),
        F.lit('},"p'),
        F.col("l_partkey").cast("string"),
        F.lit('":{"t":'),
        quanta(F.col("l_extendedprice"), 2).cast("string"),
        F.lit("}}"),
    )
    parsed = li.select(
        "l_orderkey",
        F.col("l_suppkey").alias("address"),
        F.from_json(value_json, VALUE_MAP_TYPE).alias("value"),
    )
    # explode_outer, not explode: plain explode makes Catalyst inject a
    # `size(value) > 0 AND isnotnull(value)` pre-filter that re-evaluates
    # the (interpreted, expensive) from_json once per conjunct — 3×
    # total per row. The maps are never empty here, so explode_outer is
    # semantically identical and parses each row exactly once
    # (verified with .explain("formatted"): the Filter node disappears).
    return (
        parsed.select(
            "l_orderkey", "address", F.explode_outer("value").alias("policy", "assets")
        )
        .select(
            "l_orderkey", "address", "policy",
            F.explode_outer("assets").alias("name_hex", "q"),
        )
        .select(
            "l_orderkey",
            "address",
            normalize_unit(F.concat(F.col("policy"), F.col("name_hex"))).alias("unit"),
            "q",
        )
        .groupBy("l_orderkey", "address", "unit")
        .agg(F.sum("q").alias("quantity"))
    )


# ---------------------------------------------------------------------------
# J5 (S7/S8 replacement): UTxO resolution as a self equi-join — input
# refs (prev order, same line number) resolved against the outputs
# table, replacing the reference's per-tx Blockfrost REST UDF
# (src/etl_vol_transfers/main.py:31-50). Inner join drops dangling
# refs, exactly like unresolvable genesis inputs.
# ---------------------------------------------------------------------------
@query(
    "domain_utxo_resolution",
    oracle="""
    SELECT a.l_orderkey AS spending_order,
           a.l_linenumber AS input_index,
           b.l_suppkey AS resolved_address,
           b.l_partkey AS unit,
           CAST(b.l_quantity AS BIGINT) AS quantity
    FROM lineitem a
    JOIN lineitem b
      ON b.l_orderkey = a.l_orderkey - 1 AND b.l_linenumber = a.l_linenumber
    """,
)
def domain_utxo_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    inputs = li.select(
        F.col("l_orderkey").alias("spending_order"),
        F.col("l_linenumber").alias("input_index"),
        (F.col("l_orderkey") - 1).alias("spent_order"),
    )
    outputs = li.select(
        F.col("l_orderkey").alias("spent_order"),
        F.col("l_linenumber").alias("input_index"),
        F.col("l_suppkey").alias("resolved_address"),
        F.col("l_partkey").alias("unit"),
        F.col("l_quantity").cast("long").alias("quantity"),
    )
    return inputs.join(outputs, ["spent_order", "input_index"], "inner").select(
        "spending_order", "input_index", "resolved_address", "unit", "quantity"
    )


# ---------------------------------------------------------------------------
# U2 at reference granularity: per-(tx, address, unit) net flow —
# consumed (R legs) vs produced (other legs) netted by the replay's own
# kernel (domain/netflow.transacted: one union aggregation), zero-diff
# rows dropped (change outputs), src/etl_vol_transfers/main.py:96-105.
# The oracle keeps the reference's full-outer-join shape.
# ---------------------------------------------------------------------------
@query(
    "domain_netflow_tx",
    oracle="""
    WITH c AS (
      SELECT l_orderkey, l_suppkey, l_partkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS consumed
      FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1, 2, 3
    ), p AS (
      SELECT l_orderkey, l_suppkey, l_partkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS produced
      FROM lineitem WHERE l_returnflag <> 'R' GROUP BY 1, 2, 3
    )
    SELECT coalesce(c.l_orderkey, p.l_orderkey) AS tx,
           coalesce(c.l_suppkey, p.l_suppkey)   AS address,
           coalesce(c.l_partkey, p.l_partkey)   AS unit,
           coalesce(p.produced, 0) - coalesce(c.consumed, 0) AS value
    FROM c FULL OUTER JOIN p
      ON c.l_orderkey = p.l_orderkey AND c.l_suppkey = p.l_suppkey
     AND c.l_partkey = p.l_partkey
    WHERE coalesce(p.produced, 0) - coalesce(c.consumed, 0) <> 0
    """,
)
def domain_netflow_tx(spark: SparkSession, sf_dir: str) -> DataFrame:
    legs = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("tx_hash"),
        F.col("l_suppkey").alias("address"),
        F.col("l_partkey").alias("unit"),
        F.col("l_quantity").cast("long").alias("quantity"),
        "l_returnflag",
    )
    consumed = legs.where(F.col("l_returnflag") == "R")
    produced = legs.where(F.col("l_returnflag") != "R")
    return transacted(consumed, produced).select(
        F.col("tx_hash").alias("tx"), "address", "unit", "value"
    )


# Shared pricing expression for the two kernels below — written ONCE in
# SQL dialect common to Spark and DuckDB, so row values are
# bit-identical across engines. Mirrors get_adjusted_price
# (src/etl_vol_transfers/main.py:121-132): ADA divides by 1e6; priced
# units scale by 10^decimals (decimals>0) then multiply by price;
# unpriced units adjust to 0.
_ADJ = """
CASE WHEN unit % 10 = 0 THEN CAST(value AS DOUBLE) / 1000000.0
     WHEN last_price_ada IS NOT NULL THEN
       (CASE WHEN decimals > 0
             THEN CAST(value AS DOUBLE) / power(10.0, CAST(decimals AS DOUBLE))
             ELSE CAST(value AS DOUBLE) END) * last_price_ada
     ELSE 0.0 END
"""


def _dim_sql() -> str:
    # price dim from part: units ending in 3 are unpriced (NULL price),
    # decimals cycles 0-3 with NULLs for units ending in 7
    return """
    SELECT p_partkey AS unit,
           CASE WHEN p_partkey % 10 = 3 THEN NULL
                ELSE p_retailprice / 1000.0 END AS last_price_ada,
           CASE WHEN p_partkey % 10 = 7 THEN NULL
                ELSE p_partkey % 4 END AS decimals
    FROM part
    """


def _dim_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").alias("unit"),
        F.expr(
            "CASE WHEN p_partkey % 10 = 3 THEN NULL"
            " ELSE p_retailprice / 1000.0 END"
        ).alias("last_price_ada"),
        F.expr(
            "CASE WHEN p_partkey % 10 = 7 THEN NULL ELSE p_partkey % 4 END"
        ).alias("decimals"),
    )


# ---------------------------------------------------------------------------
# U3/A5/J4/F5: ADA-priced volumes — positive net flows joined against a
# broadcast price/decimals dim, per-branch adjustment (ADA numeraire /
# decimal scaling / unpriced→0), per-(tx, unit) sums as exact quanta.
# ---------------------------------------------------------------------------
@query(
    "domain_volumes_priced",
    oracle=f"""
    WITH net AS (
      SELECT l_orderkey AS tx, l_suppkey AS address, l_partkey AS unit,
             CAST(sum(CASE WHEN l_returnflag = 'R'
                           THEN -CAST(l_quantity AS BIGINT)
                           ELSE CAST(l_quantity AS BIGINT) END) AS BIGINT) AS value
      FROM lineitem GROUP BY 1, 2, 3
    ), pos AS (
      SELECT * FROM net WHERE value > 0
    ), dim AS ({_dim_sql()})
    SELECT tx, unit,
           CAST(sum({quanta_sql(_ADJ, 6)}) AS DOUBLE) / 1000000.0 AS value_adj
    FROM pos LEFT JOIN dim USING (unit)
    GROUP BY 1, 2
    """,
)
def domain_volumes_priced(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    net = (
        li.groupBy(
            F.col("l_orderkey").alias("tx"),
            F.col("l_suppkey").alias("address"),
            F.col("l_partkey").alias("unit"),
        )
        .agg(
            F.sum(
                F.when(
                    F.col("l_returnflag") == "R",
                    -F.col("l_quantity").cast("long"),
                ).otherwise(F.col("l_quantity").cast("long"))
            ).alias("value")
        )
    )
    pos = net.where(F.col("value") > 0)
    enriched = pos.join(F.broadcast(_dim_df(spark, sf_dir)), "unit", "left")
    return (
        enriched.withColumn("adj", F.expr(_ADJ))
        .groupBy("tx", "unit")
        .agg(
            (F.sum(quanta(F.col("adj"), 6)).cast("double") / F.lit(1_000_000.0)).alias(
                "value_adj"
            )
        )
    )


# ---------------------------------------------------------------------------
# U4/J3/G1: priced transfer edges — receivers × senders per (tx, unit)
# with the receiver's value priced (src/etl_vol_transfers/
# main.py:150-167, 182-185). abs() on the sender magnitude (F4).
# ---------------------------------------------------------------------------
@query(
    "domain_transfers_edges",
    oracle=f"""
    WITH net AS (
      SELECT l_orderkey AS tx, l_suppkey AS address, l_partkey AS unit,
             CAST(sum(CASE WHEN l_returnflag = 'R'
                           THEN -CAST(l_quantity AS BIGINT)
                           ELSE CAST(l_quantity AS BIGINT) END) AS BIGINT) AS value
      FROM lineitem GROUP BY 1, 2, 3
    ), rx AS (
      SELECT tx, unit, address AS rx_addr, value FROM net WHERE value > 0
    ), tx_side AS (
      SELECT tx, unit, address AS send_addr, abs(value) AS sent
      FROM net WHERE value < 0
    ), dim AS ({_dim_sql()})
    SELECT tx, unit, send_addr, rx_addr, value, sent,
           {quanta_sql(_ADJ, 6)} AS value_adj_q
    FROM rx JOIN tx_side USING (tx, unit)
    LEFT JOIN dim USING (unit)
    """,
)
def domain_transfers_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    net = (
        li.groupBy(
            F.col("l_orderkey").alias("tx"),
            F.col("l_suppkey").alias("address"),
            F.col("l_partkey").alias("unit"),
        )
        .agg(
            F.sum(
                F.when(
                    F.col("l_returnflag") == "R",
                    -F.col("l_quantity").cast("long"),
                ).otherwise(F.col("l_quantity").cast("long"))
            ).alias("value")
        )
    )
    rx = net.where(F.col("value") > 0).select(
        "tx", "unit", F.col("address").alias("rx_addr"), "value"
    )
    snd = net.where(F.col("value") < 0).select(
        "tx", "unit", F.col("address").alias("send_addr"),
        F.abs(F.col("value")).alias("sent"),
    )
    edges = rx.join(snd, ["tx", "unit"], "inner")
    enriched = edges.join(F.broadcast(_dim_df(spark, sf_dir)), "unit", "left")
    return enriched.select(
        "tx", "unit", "send_addr", "rx_addr", "value", "sent",
        quanta(F.expr(_ADJ), 6).alias("value_adj_q"),
    )


# ---------------------------------------------------------------------------
# E2/H1 fix: relational normalization with deterministic content-hash
# surrogate keys — parent PK and child FK agree across independent
# write actions (the reference's uuid() keys don't,
# src/etl_blockchain/main.py:36-62).
# ---------------------------------------------------------------------------
@query(
    "domain_block_normalize",
    oracle="""
    SELECT sha256(CAST(CAST(date_trunc('day', o_orderdate) AS DATE) AS VARCHAR))
             AS block_id,
           sha256(CAST(o_orderkey AS VARCHAR)) AS tx_id,
           o_orderkey AS tx_hash,
           count(*) AS n_outputs
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1, 2, 3
    """,
)
def domain_block_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "inner")
        .groupBy(
            deterministic_id(
                F.date_trunc("day", F.col("o_orderdate")).cast("date")
            ).alias("block_id"),
            deterministic_id(F.col("o_orderkey")).alias("tx_id"),
            F.col("o_orderkey").alias("tx_hash"),
        )
        .agg(F.count(F.lit(1)).alias("n_outputs"))
    )


# ---------------------------------------------------------------------------
# H7: the DECIMAL(38,0) netflow path with per-group totals PAST 2^63.
# Mainnet single-token supplies exceed 64 bits (SURVEY H7); this query
# drives the real domain kernel (netflow.transacted, which sums
# whatever integer type arrives) with quantities scaled by 10^18 so a
# LongType sum would overflow, and proves bit-exact agreement with a
# DuckDB HUGEINT oracle. Output values are serialized as strings: both
# engines print integers identically, and the string survives the
# driver's pandas round-trip without precision loss.
# ---------------------------------------------------------------------------
_DECIMAL_SCALE = 10**18  # per-row up to 5e19 > 2^63; fits DECIMAL(22,0)


@query(
    "netflow_decimal",
    oracle=f"""
    WITH c AS (
      SELECT l_suppkey AS address, l_partkey AS unit,
             sum(CAST(l_quantity AS HUGEINT) * {_DECIMAL_SCALE}) AS consumed
      FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1, 2
    ), p AS (
      SELECT l_suppkey AS address, l_partkey AS unit,
             sum(CAST(l_quantity AS HUGEINT) * {_DECIMAL_SCALE}) AS produced
      FROM lineitem WHERE l_returnflag <> 'R' GROUP BY 1, 2
    )
    SELECT coalesce(c.address, p.address) AS address,
           coalesce(c.unit, p.unit)       AS unit,
           CAST(coalesce(p.produced, 0) - coalesce(c.consumed, 0) AS VARCHAR)
             AS net_raw
    FROM c FULL OUTER JOIN p ON c.address = p.address AND c.unit = p.unit
    WHERE coalesce(p.produced, 0) - coalesce(c.consumed, 0) <> 0
    """,
)
def netflow_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # decimal(2,0) * decimal(19,0) -> decimal(22,0): exact, no 64-bit cap
    qty = (
        F.col("l_quantity").cast("decimal(2,0)")
        * F.lit(str(_DECIMAL_SCALE)).cast("decimal(19,0)")
    ).alias("quantity")
    flat = lambda pred: (  # noqa: E731
        li.where(pred).select(
            F.lit("t").alias("tx_hash"),
            F.col("l_suppkey").alias("address"),
            F.col("l_partkey").alias("unit"),
            qty,
        )
    )
    net = transacted(
        flat(F.col("l_returnflag") == "R"), flat(F.col("l_returnflag") != "R")
    )
    return net.select(
        "address", "unit", F.col("value").cast("string").alias("net_raw")
    )
