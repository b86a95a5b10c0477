"""Wallet transfer edges — the reference's U4 kernel
(compute_transfers + compute_transfers_by_token,
src/etl_vol_transfers/main.py:150-167) as a per-group cross join.

Reference semantics (replicated exactly): within each (tx, unit),
every net receiver (value > 0) pairs with every net sender
(value < 0); the edge carries the receiver's value and |value| is
implicitly the sender magnitude; value_ada prices the receiver value.

Edge list columns match the Neo4j relationship save
(src/etl_vol_transfers/main.py:190-209): send_addr → rx_addr with
props (tx_hash, unit, value, value_adj).

Scale note (SURVEY §7.4 #2): a token with S senders and R receivers in
one tx emits S×R edges — quadratic in the hot key. AQE skew-join
splits oversized partitions; for pathological airdrop-style txs, cap
or salt upstream (operators.relational.salted).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blockchain_data_engineering_spark.domain.volumes import priced


def transfer_edges(transacted: DataFrame, dim: DataFrame) -> DataFrame:
    """(tx_hash, unit, send_addr, rx_addr, value, value_adj) edges."""
    # priced after pairing: a join's output is sized as the product of
    # its inputs, so pricing first would hide from the planner that
    # both sides of the pairing are small enough to broadcast
    return priced(edges(transacted), dim)


def edges(flows: DataFrame, *carry: str) -> DataFrame:
    """(tx_hash, unit, send_addr, rx_addr, value, [carry...]) edges of a
    net-flow frame: within each (tx_hash, unit), every receiver
    (value > 0) paired with every sender (value < 0). ``carry`` names
    receiver columns kept on the edge, such as an already computed
    ``value_adj``."""
    keys = ["tx_hash", "unit"]
    receivers = flows.where(F.col("value") > 0).select(
        *keys, F.col("address").alias("rx_addr"), "value", *carry
    )
    senders = flows.where(F.col("value") < 0).select(
        *keys, F.col("address").alias("send_addr")
    )
    return receivers.join(senders, keys, "inner").select(
        "tx_hash", "unit", "send_addr", "rx_addr", "value", *carry
    )
