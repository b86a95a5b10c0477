"""Token volumes priced in ADA — the reference's U3 kernel
(reduce_vol + get_adjusted_price, src/etl_vol_transfers/main.py:121-139)
as a broadcast dim join + codegen arithmetic.

Reference semantics (replicated exactly):
- only positive net flows count toward volume (main.py:137)
- lovelace: value / 10^6 (ADA is its own numeraire, main.py:123-124)
- other units: value × last_price_ada / 10^decimals, with
  * unit missing from prices  → adjusted value 0 (main.py:132)
  * decimals null or missing  → no scaling      (main.py:128-131)
- per-tx per-unit sum → vol(hash, height, slot, unit, value_adj)

The reference loaded both dims into a driver-side dict and broadcast it
into row UDFs (main.py:107-119); here they are DataFrames joined with
an explicit broadcast hint — same data movement, but the multiply runs
in whole-stage codegen and the dim can be re-read per batch (H5 fix).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LOVELACE = "lovelace"


def price_dim(prices: DataFrame, decimals: DataFrame) -> DataFrame:
    """prices ⋈ decimals on unit (left), the J4 dim-enrich
    (src/etl_vol_transfers/main.py:116).

    The dim MUST be unique per unit: priced() left-joins it onto the
    fact rows, and a multi-provider price feed (the
    PRICE_SCHEMA carries pricing_provider) would fan every matching
    fact row out per provider and inflate the sums. The reference's
    driver-side dict kept exactly one row per unit implicitly; here
    the deterministic equivalent is keep-first by (provider, unit)
    order.
    """
    from pyspark.sql.window import Window

    cols = prices.columns
    if "pricing_provider" in cols:
        w = Window.partitionBy("unit").orderBy("pricing_provider")
        prices = (
            prices.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
    return prices.join(decimals, "unit", "left")


def adjusted_value(
    value: Column, unit: Column, price_ada: Column, decimals: Column
) -> Column:
    """Native restatement of get_adjusted_price
    (src/etl_vol_transfers/main.py:121-132)."""
    scaled = F.when(
        decimals.isNotNull() & (decimals > 0),
        value.cast("double") / F.pow(F.lit(10.0), decimals.cast("double")),
    ).otherwise(value.cast("double"))
    return (
        F.when(unit == F.lit(LOVELACE), value.cast("double") / F.lit(1e6))
        .when(price_ada.isNotNull(), scaled * price_ada)
        .otherwise(F.lit(0.0))
    )


def priced(transacted: DataFrame, dim: DataFrame) -> DataFrame:
    """``transacted`` plus ``value_adj``: every net-flow row priced in ADA
    by :func:`adjusted_value` through a broadcast left join of the dim.

    transacted: net-flow rows with ``unit`` and ``value`` columns; every
                column is kept, in order.
    dim:        price_dim() output (unit, last_price_ada, decimals).
    """
    enriched = transacted.join(
        F.broadcast(dim.select("unit", "last_price_ada", "decimals")), "unit", "left"
    )
    return enriched.select(
        *transacted.columns,
        adjusted_value(
            F.col("value"), F.col("unit"), F.col("last_price_ada"), F.col("decimals")
        ).alias("value_adj"),
    )


def received_volumes(priced_flows: DataFrame, *coords: str) -> DataFrame:
    """vol(hash, [coords...,] unit, value_adj): the per-tx per-unit sum
    of the positive net flows of a :func:`priced` frame. ``coords``
    names per-tx columns of ``priced_flows`` (``height``, ``slot``)
    carried into the grouping key."""
    return (
        priced_flows.where(F.col("value") > 0)
        .groupBy(F.col("tx_hash").alias("hash"), *coords, "unit")
        .agg(F.sum("value_adj").alias("value_adj"))
    )


def volumes(
    transacted: DataFrame,
    dim: DataFrame,
    blocks_coords: DataFrame | None = None,
) -> DataFrame:
    """vol(hash, [height, slot,] unit, value_adj).

    transacted:    (tx_hash, address, unit, value) net flows.
    dim:           price_dim() output (unit, last_price_ada, decimals).
    blocks_coords: optional (hash, height, slot) per tx to reattach
                   block coordinates (the reference's J1 join,
                   src/etl_vol_transfers/main.py:176-177).
    """
    vol = received_volumes(priced(transacted, dim))
    if blocks_coords is not None:
        vol = vol.join(blocks_coords, "hash", "inner").select(
            "hash", "height", "slot", "unit", "value_adj"
        )
    return vol


def vol_by_block(vol: DataFrame) -> DataFrame:
    """Rollup by (unit, height), ÷1e6 — the reference's etl-vol DAG
    transform (airflow/archive/dags/etl_vol_dag.py:59-68), one shuffle
    instead of SQL-extract → XCom → pandas → upsert."""
    return vol.where(F.col("value_adj") != 0).groupBy("unit", "height").agg(
        (F.sum("value_adj") / F.lit(1e6)).alias("value_adj")
    )


def vol_all_time(vol: DataFrame) -> DataFrame:
    """All-time rollup by unit (etl_vol_dag.py:77-86)."""
    return (
        vol.where(F.col("value_adj") != 0)
        .groupBy("unit")
        .agg((F.sum("value_adj") / F.lit(1e6)).alias("value_adj"))
        .orderBy(F.col("value_adj").desc())
    )
