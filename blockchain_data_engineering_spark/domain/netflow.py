"""Per-(tx, address, unit) net value flows — the reference's flagship
U2 kernel (get_transacted_actions, src/etl_vol_transfers/main.py:96-105)
as a pure DataFrame plan.

Reference semantics (replicated exactly):
- consumed = per (address, unit) sum of resolved input quantities
- produced = per (address, unit) sum of output value-map quantities
- net      = produced − consumed, a side missing from the tx counting 0
- rows with net == 0 are dropped (e.g. change returning to the sender)

Quantities are integers end-to-end and DECIMAL(38,0) (SURVEY H7):
mainnet single-token supplies can exceed 2^63, so the sums here must
carry 128-bit precision. ``transacted`` is type-preserving — it sums
whatever integer type ``quantity`` arrives as (``input_units`` /
``output_units`` own the cast, ``domain.blocks.QUANTITY_TYPE``).
The ``netflow_decimal`` gate query proves the no-overflow path with
per-group totals past 2^63 against a DuckDB HUGEINT oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def transacted(input_units: DataFrame, output_units: DataFrame) -> DataFrame:
    """(tx_hash, address, unit, value) with value = produced − consumed ≠ 0.

    Both inputs are flat (tx_hash, address, unit, quantity) frames from
    ``domain.utxo.input_units`` / ``domain.blocks.output_units``. The
    inputs, quantity negated, and the outputs are unioned and summed per
    composite key in one aggregation: a partial aggregate (map-side
    combine) over the union, one exchange, one final aggregate; no join
    and no sort.

    A group whose quantities are all NULL sums to NULL and is dropped by
    the ``value != 0`` filter, as a coalesced 0 − 0 would be.
    """
    keys = ["tx_hash", "address", "unit"]
    consumed = input_units.select(*keys, (-F.col("quantity")).alias("quantity"))
    produced = output_units.select(*keys, "quantity")
    return (
        consumed.unionByName(produced)
        .groupBy(*keys)
        .agg(F.sum("quantity").alias("value"))
        .where(F.col("value") != 0)
    )
