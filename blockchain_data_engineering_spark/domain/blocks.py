"""Block-stream parsing and relational normalization (SURVEY §2.1 S3,
§2.2 P1-P5, E2).

The reference's raw indexer (src/etl_blockchain/main.py:31-63) writes
four tables — block, tx, tx_output, tx_input — as four separate write
actions off one unpersisted lineage with ``uuid()`` surrogate keys,
so parent/child keys don't match across actions (hazard H1).

Here normalization is ONE lazy plan per table off a shared parsed
DataFrame, with deterministic content-hash keys: recomputation, retry,
or restart always yields the same ids, which is what makes idempotent
(MERGE/upsert) sinks possible at scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from blockchain_data_engineering_spark.domain.schema import BLOCK_SCHEMA, VALUE_MAP_TYPE
from blockchain_data_engineering_spark.functions.scalar import (
    deterministic_id,
    normalize_unit,
)


# the raw NDJSON line column of every block source (text files, the
# socket source, the chain_sync data source)
VALUE = "value"
# token quantities are DECIMAL(38,0) (SURVEY H7): mainnet single-token
# supplies exceed 2^63, so the netflow sums need 128-bit precision
QUANTITY_TYPE = "decimal(38,0)"


def envelope() -> Column:
    """The parsed ``{"py/state": {...}}`` envelope of a block line:
    ``from_json(value, BLOCK_SCHEMA)``, NULL for a malformed line. The
    one block parse every reader builds on."""
    return F.from_json(F.col(VALUE), BLOCK_SCHEMA)


def parse_block_lines(lines: DataFrame) -> DataFrame:
    """NDJSON lines → typed block rows.

    Reference: ``from_json(col("value"), schema)`` then unnest
    ``json.`py/state`.*`` (src/etl_vol_transfers/main.py:24-25).
    Works identically on a batch or streaming DataFrame.
    """
    return lines.select(envelope().alias("json")).select("json.`py/state`.*")


def blocks_table(blocks: DataFrame) -> DataFrame:
    """block(id, hash, height, slot) — deterministic id = sha2(hash).

    Reference: src/etl_blockchain/main.py:34-38 (uuid id — H1 hazard).
    """
    return blocks.select(
        deterministic_id(F.col("id")).alias("block_id"),
        F.col("id").alias("hash"),
        "height",
        "slot",
    )


def tx_table(blocks: DataFrame) -> DataFrame:
    """tx(id, block_id, hash) via explode(transactions).

    Reference: src/etl_blockchain/main.py:41-48. Because ids are
    content hashes, ``tx.block_id`` matches ``block.block_id`` even
    though the two tables are produced by independent actions.
    """
    return (
        blocks.select(
            F.col("id").alias("block_hash"),
            F.explode("transactions").alias("tx"),
        )
        .select(
            deterministic_id(F.col("tx.id")).alias("tx_id"),
            deterministic_id(F.col("block_hash")).alias("block_id"),
            F.col("tx.id").alias("hash"),
        )
    )


def tx_outputs_table(blocks: DataFrame) -> DataFrame:
    """tx_output: one row per (tx, output index) with the parsed value
    map as a native MapType column.

    The reference stored outputs re-serialized to a JSON payload string
    (src/etl_blockchain/main.py:50-55 — "for now"); here the dynamic
    {"ada":{"lovelace":N},policy:{name:Q}} payload becomes
    ``map<string, map<string, long>>`` so Catalyst can explode and
    aggregate it without any Python (replacing the json.loads inside
    U2, src/etl_vol_transfers/main.py:78).
    """
    return (
        blocks.select(F.explode("transactions").alias("tx"))
        .select(
            F.col("tx.id").alias("tx_hash"),
            F.posexplode("tx.outputs").alias("output_index", "out"),
        )
        .select(
            deterministic_id(F.col("tx_hash"), F.col("output_index")).alias("output_id"),
            deterministic_id(F.col("tx_hash")).alias("tx_id"),
            "tx_hash",
            F.col("output_index").cast("long").alias("output_index"),
            F.col("out.address").alias("address"),
            F.col("out.datum").alias("datum"),
            F.from_json(F.col("out.value"), VALUE_MAP_TYPE).alias("value"),
        )
    )


def tx_inputs_table(blocks: DataFrame) -> DataFrame:
    """tx_input: one row per input reference (spent_tx_hash, index).

    Reference: src/etl_blockchain/main.py:57-63 (stored as JSON string).
    """
    return (
        blocks.select(F.explode("transactions").alias("tx"))
        .select(F.col("tx.id").alias("tx_hash"), F.explode("tx.inputs").alias("inp"))
        .select(
            deterministic_id(
                F.col("tx_hash"), F.col("inp.transaction.id"), F.col("inp.index")
            ).alias("input_id"),
            deterministic_id(F.col("tx_hash")).alias("tx_id"),
            "tx_hash",
            F.col("inp.transaction.id").alias("spent_tx_hash"),
            F.col("inp.index").alias("spent_output_index"),
        )
    )


def value_units(rows: DataFrame, keep: Sequence[str]) -> DataFrame:
    """Flatten the ``value`` map of ``rows`` to ``(*keep, unit,
    quantity)``: two map explodes + concat + the ``adalovelace →
    lovelace`` rewrite (src/etl_vol_transfers/main.py:89-90), all
    codegen, with quantities cast to :data:`QUANTITY_TYPE`."""
    return (
        rows.select(*keep, F.explode("value").alias("policy", "assets"))
        .select(*keep, "policy", F.explode("assets").alias("name_hex", "quantity"))
        .select(
            *keep,
            normalize_unit(F.concat(F.col("policy"), F.col("name_hex"))).alias("unit"),
            F.col("quantity").cast(QUANTITY_TYPE).alias("quantity"),
        )
    )


def output_units(outputs: DataFrame) -> DataFrame:
    """Flatten the value map to (tx_hash, output_index, address, unit,
    quantity) — the native A3 kernel."""
    return value_units(outputs, ["tx_hash", "output_index", "address"])
