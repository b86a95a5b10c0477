"""UTxO input resolution as a distributed join (SURVEY §2.1 S7/S8,
§2.3 J5 — replacing the reference's per-transaction REST calls).

The reference resolves each transaction's inputs by calling the
Blockfrost API once per tx inside a row UDF with retries
(src/etl_vol_transfers/main.py:31-50), throughput-capped to 10 tx per
micro-batch — the single dominant bottleneck (BASELINE.md). The yaci
variant batches per tx (src/extra/yaci_utxo_resolver/
yaci_utxo_resolver.py:18-26) but is still an HTTP hop per row group.

An input reference is just a foreign key ``(spent_tx_hash,
spent_output_index)`` into the historical outputs table — so
resolution is a shuffle equi-join, which scales horizontally and costs
zero external calls. At 100 TB both sides are bucketed/partitioned by
``tx_hash`` so the join co-locates without a full shuffle; in
streaming, the outputs side is the continuously-maintained UTxO state
table (stream-static join per micro-batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blockchain_data_engineering_spark.domain.blocks import value_units

_REF = ["spent_tx_hash", "spent_output_index"]


def _outputs_by_ref(outputs: DataFrame, *extra) -> DataFrame:
    return outputs.select(
        F.col("tx_hash").alias("spent_tx_hash"),
        F.col("output_index").alias("spent_output_index"),
        "address",
        "value",
        *extra,
    )


def resolve_inputs(inputs: DataFrame, outputs: DataFrame, how: str = "inner") -> DataFrame:
    """Resolve input references against produced outputs.

    Parameters
    ----------
    inputs:  tx_input rows (tx_hash, spent_tx_hash, spent_output_index)
             from :func:`domain.blocks.tx_inputs_table`.
    outputs: historical tx_output rows (tx_hash, output_index, address,
             value) from :func:`domain.blocks.tx_outputs_table`.
    how:     'inner' drops unresolvable refs (genesis/out-of-window);
             'left' keeps them with null payloads for audit.

    Returns one row per resolved input: the spending tx plus the spent
    output's address and value map.
    """
    return inputs.join(_outputs_by_ref(outputs), _REF, how)


def resolve_in_batch(
    inputs: DataFrame, batch_outputs: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(hits, misses) of one left join of a micro-batch's inputs to its
    own outputs, with a hit flag.

    ``hits`` are the rows of ``resolve_inputs(inputs, batch_outputs)``,
    duplicate keys included; ``misses`` are the inputs with no match in
    the batch, with the columns of ``inputs``. Resolving only the misses
    against the history means a spend of this batch's output never
    reads the history, so an output also landed there (a replayed
    batch, or a store append that runs first) cannot resolve twice.
    """
    looked = inputs.join(
        _outputs_by_ref(batch_outputs, F.lit(True).alias("__hit")), _REF, "left"
    )
    hits = looked.where(F.col("__hit")).drop("__hit")
    misses = looked.where(F.col("__hit").isNull()).select(*inputs.columns)
    return hits, misses


def input_units(resolved: DataFrame) -> DataFrame:
    """Flatten resolved inputs to (tx_hash, address, unit, quantity) —
    the native A2 kernel (reference sum_ip_vals_for_addr,
    src/etl_vol_transfers/main.py:69-74, which looped in pandas)."""
    return value_units(resolved, ["tx_hash", "address"])
