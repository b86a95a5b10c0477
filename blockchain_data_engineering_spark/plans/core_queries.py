"""Relational-core queries (SURVEY.md §2.2-2.7: P, J, A, O, F operators)
wired to the driver's test tables, each with a DuckDB oracle twin.

Domain mapping follows FIXTURES.md §9: ``l_partkey`` plays the token
unit, ``l_shipdate`` the block height/time axis, ``l_suppkey``/
``l_partkey`` the (address, unit) net-flow key, suppliers×suppliers
within an order the transfer edges.

Float contract: all float aggregation goes through the exact
integer-quanta helpers in ``plans.parity`` (order-independent BIGINT
sums + one final division), so Spark and DuckDB emit bit-identical
doubles. This also mirrors the engine's 100 TB money-arithmetic stance
(SURVEY §4.3 H7: integer quantities, floats only at the edge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from blockchain_data_engineering_spark.catalog import load_table
from blockchain_data_engineering_spark.operators import relational as R
from blockchain_data_engineering_spark.plans.parity import (
    davg,
    davg_sql,
    dsum,
    dsum_sql,
    fround,
    fround_sql,
    quanta,
    quanta_sql,
)
from blockchain_data_engineering_spark.plans.registry import query

# Shared row-level expressions — written with IDENTICAL shape on both
# engines so row values are bit-identical before any aggregation.
_REV = "l_extendedprice * (1 - l_discount)"
def _rev_col():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# ---------------------------------------------------------------------------
# A1-A8/P8-P12: pricing summary (scan → filter → hash agg, TPC-H Q1 shape).
# Native restatement of the reference's per-batch groupBy-sum kernels
# (src/etl_vol_transfers/main.py:134-139) with predicate pushdown +
# partial/final hash aggregation.
# ---------------------------------------------------------------------------
@query(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity', 0)}                    AS sum_qty,
           {dsum_sql('l_extendedprice', 2)}               AS sum_base_price,
           {dsum_sql(_REV, 4)}                            AS sum_disc_price,
           {dsum_sql(f'{_REV} * (1 + l_tax)', 6)}         AS sum_charge,
           {davg_sql('l_quantity', 0)}                    AS avg_qty,
           {davg_sql('l_extendedprice', 2)}               AS avg_price,
           {davg_sql('l_discount', 2)}                    AS avg_disc,
           count(*)                                       AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    charge = _rev_col() * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), 0).alias("sum_qty"),
            dsum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            dsum(_rev_col(), 4).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            davg(F.col("l_quantity"), 0).alias("avg_qty"),
            davg(F.col("l_extendedprice"), 2).alias("avg_price"),
            davg(F.col("l_discount"), 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# P4/J1: nested build → explode → re-aggregate. The reference receives
# blocks with an embedded transactions array and explodes it
# (src/etl_blockchain/main.py:43); here we construct the nested shape
# from flat facts (collect_list per order — bounded fanout per key),
# explode it back, and aggregate, proving array round-tripping keeps
# values intact.
# ---------------------------------------------------------------------------
@query(
    "explode_normalize",
    oracle=f"""
    SELECT o_orderpriority,
           count(*)                          AS n_items,
           {dsum_sql('l_quantity', 0)}       AS sum_qty,
           {dsum_sql('l_extendedprice', 2)}  AS sum_price
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def explode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct(F.col("l_quantity"), F.col("l_extendedprice"))
        ).alias("items")
    )
    exploded = (
        orders.join(nested, orders.o_orderkey == nested.l_orderkey, "inner")
        .select("o_orderpriority", F.explode("items").alias("item"))
        .select("o_orderpriority", "item.l_quantity", "item.l_extendedprice")
    )
    return exploded.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum(F.col("l_quantity"), 0).alias("sum_qty"),
        dsum(F.col("l_extendedprice"), 2).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# J2/A2-A4: the net-flow kernel — the reference's flagship U2 UDF
# (src/etl_vol_transfers/main.py:96-105) restated as one conditional
# aggregation (inflow and outflow sums side by side, a missing side
# coalesced to 0) + nonzero-diff filter; the oracle keeps the
# reference's full-outer-join shape. Mapping per FIXTURES.md §9:
# inflow = returned lineitems (R), outflow = the rest, key =
# (l_suppkey, l_partkey) ~ (address, unit).
# ---------------------------------------------------------------------------
@query(
    "netflow_supplier_part",
    oracle=f"""
    WITH i AS (
      SELECT l_suppkey, l_partkey, {dsum_sql('l_quantity', 0)} AS q
      FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1, 2
    ), o AS (
      SELECT l_suppkey, l_partkey, {dsum_sql('l_quantity', 0)} AS q
      FROM lineitem WHERE l_returnflag <> 'R' GROUP BY 1, 2
    )
    SELECT coalesce(i.l_suppkey, o.l_suppkey) AS l_suppkey,
           coalesce(i.l_partkey, o.l_partkey) AS l_partkey,
           coalesce(i.q, 0)                   AS in_qty,
           coalesce(o.q, 0)                   AS out_qty,
           coalesce(o.q, 0) - coalesce(i.q, 0) AS net_qty
    FROM i FULL OUTER JOIN o
      ON i.l_suppkey = o.l_suppkey AND i.l_partkey = o.l_partkey
    WHERE coalesce(o.q, 0) - coalesce(i.q, 0) <> 0
    """,
)
def netflow_supplier_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity")
    flag = F.col("l_returnflag")
    return (
        li.groupBy("l_suppkey", "l_partkey")
        .agg(
            F.coalesce(dsum(F.when(flag == "R", qty), 0), F.lit(0)).alias("in_qty"),
            F.coalesce(dsum(F.when(flag != "R", qty), 0), F.lit(0)).alias("out_qty"),
        )
        .withColumn("net_qty", F.col("out_qty") - F.col("in_qty"))
        .where(F.col("net_qty") != 0)
    )


# ---------------------------------------------------------------------------
# J4/A5/F5: dimension-enrich + volume reduce. The reference broadcast a
# 12k-entry price dict to executors and multiplied inside a row UDF
# (src/etl_vol_transfers/main.py:107-139); here the dim is a broadcast
# hash join and the arithmetic is a codegen'd expression.
# ---------------------------------------------------------------------------
@query(
    "dim_enrich_volumes",
    oracle=f"""
    SELECT p_brand,
           {dsum_sql(f'{_REV} * p_retailprice / 1000000.0', 6)} AS value_adj,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def dim_enrich_volumes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    value_adj = _rev_col() * F.col("p_retailprice") / F.lit(1_000_000.0)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "inner")
        .groupBy("p_brand")
        .agg(
            dsum(value_adj, 6).alias("value_adj"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# A6: vol_by_block rollup — groupBy(unit, height) ≅ (l_partkey, month).
# Reference: airflow/archive/dags/etl_vol_dag.py:59-68 (pandas groupby
# ÷1e6 in an Airflow task); here one shuffle with map-side partials.
# ---------------------------------------------------------------------------
@query(
    "vol_rollup_by_block",
    oracle=f"""
    SELECT l_partkey AS unit,
           date_trunc('month', l_shipdate) AS height,
           {dsum_sql(_REV, 4, 6)} AS value_adj
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def vol_rollup_by_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.col("l_partkey").alias("unit"),
            F.date_trunc("month", F.col("l_shipdate")).alias("height"),
        )
        .agg(dsum(_rev_col(), 4, 6).alias("value_adj"))
    )


# ---------------------------------------------------------------------------
# A7/O3: vol_all_time rollup (airflow/archive/dags/etl_vol_dag.py:81-85).
# ---------------------------------------------------------------------------
@query(
    "vol_rollup_all_time",
    oracle=f"""
    SELECT l_partkey AS unit,
           {dsum_sql(_REV, 4, 6)} AS value_adj
    FROM lineitem GROUP BY 1
    """,
)
def vol_rollup_all_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_partkey").alias("unit")).agg(
        dsum(_rev_col(), 4, 6).alias("value_adj")
    )


# ---------------------------------------------------------------------------
# A6+A7 fused: hierarchical rollup in ONE pass via grouping sets — the
# two separate Airflow rollup tasks (etl_vol_dag.py:59-86) collapse into
# a single shuffle. grouping_level disambiguates total rows from data
# rows whose keys could be NULL.
# ---------------------------------------------------------------------------
@query(
    "vol_rollup_hierarchy",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity', 0)} AS sum_qty,
           count(*) AS n_rows,
           grouping(l_returnflag) * 2 + grouping(l_linestatus) AS grouping_level
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def vol_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity"), 0).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
        (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus"))
        .cast("long")
        .alias("grouping_level"),
    )


# ---------------------------------------------------------------------------
# J6/W1/O3: top-k semi join — filter facts to the top-10 all-time units
# (volume_stack_plot.ipynb cells 0-1). The top-k side is tiny → Spark
# plans a broadcast left-semi join; the fact scan never shuffles twice.
# Deterministic tie-break on the key (SURVEY §4.3 H3 fix).
# ---------------------------------------------------------------------------
@query(
    "topk_semi_join",
    oracle=f"""
    WITH totals AS (
      SELECT l_partkey, {dsum_sql(_REV, 4)} AS rev
      FROM lineitem GROUP BY 1
      ORDER BY rev DESC, l_partkey LIMIT 10
    )
    SELECT l_partkey AS unit,
           date_trunc('month', l_shipdate) AS height,
           {dsum_sql(_REV, 4)} AS value_adj
    FROM lineitem
    WHERE l_partkey IN (SELECT l_partkey FROM totals)
    GROUP BY 1, 2
    """,
)
def topk_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    totals = (
        li.groupBy("l_partkey")
        .agg(dsum(_rev_col(), 4).alias("rev"))
        .orderBy(F.col("rev").desc(), F.col("l_partkey"))
        .limit(10)
    )
    return (
        li.join(F.broadcast(totals.select("l_partkey")), "l_partkey", "left_semi")
        .groupBy(
            F.col("l_partkey").alias("unit"),
            F.date_trunc("month", F.col("l_shipdate")).alias("height"),
        )
        .agg(dsum(_rev_col(), 4).alias("value_adj"))
    )


# ---------------------------------------------------------------------------
# W2: cumulative moving average — native Window restatement of the
# notebook's pandas expanding().mean() (volume_stack_plot.ipynb cell 1).
# Deterministic total order inside each partition (ts, event_id); the
# running numerator is an exact integer sum so the result is engine-
# independent (DuckDB evaluates window sums via segment trees, which
# reorders float additions — integers are immune).
# ---------------------------------------------------------------------------
@query(
    "events_cma",
    oracle=f"""
    SELECT user_id, event_id, ts,
           CAST(sum({quanta_sql('value', 4)}) OVER w AS DOUBLE)
             / (CAST(count(*) OVER w AS DOUBLE) * 10000) AS cma
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def events_cma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cma = F.sum(quanta(F.col("value"), 4)).over(w).cast("double") / (
        F.count(F.lit(1)).over(w).cast("double") * F.lit(10000.0)
    )
    return ev.select("user_id", "event_id", "ts", cma.alias("cma"))


# ---------------------------------------------------------------------------
# W3: ratio-to-report — per-day proportional share of each event's value
# (the notebook's per-block proportional stack, volume_stack_plot.ipynb
# cell 1). Numerator and denominator are exact integer quanta.
# ---------------------------------------------------------------------------
@query(
    "events_share_by_day",
    oracle=f"""
    SELECT event_id,
           date_trunc('day', ts) AS day,
           CAST({quanta_sql('value', 4)} AS DOUBLE)
             / CAST(sum({quanta_sql('value', 4)})
                    OVER (PARTITION BY date_trunc('day', ts)) AS DOUBLE)
             * 100 AS share
    FROM events
    """,
)
def events_share_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    q = quanta(F.col("value"), 4)
    w = Window.partitionBy("day")
    share = q.cast("double") / F.sum(q).over(w).cast("double") * F.lit(100.0)
    return ev.select("event_id", "day", share.alias("share"))


# ---------------------------------------------------------------------------
# J8/F10/O5: zero-fill spine — dense (event_type, day) grid with 0 for
# missing days (volume_stack_plot.ipynb cell 1 combine_first(zeros_df)).
# ---------------------------------------------------------------------------
@query(
    "events_spine_zero_fill",
    oracle=f"""
    WITH b AS (
      SELECT date_trunc('day', min(ts)) AS lo, date_trunc('day', max(ts)) AS hi
      FROM events
    ), days AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b
    ), types AS (
      SELECT DISTINCT event_type FROM events
    ), facts AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             {dsum_sql('value', 4)} AS value
      FROM events GROUP BY 1, 2
    )
    SELECT t.event_type, d.day, coalesce(f.value, 0.0) AS value
    FROM types t CROSS JOIN days d
    LEFT JOIN facts f ON f.event_type = t.event_type AND f.day = d.day
    """,
)
def events_spine_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    facts = (
        ev.groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(dsum(F.col("value"), 4).alias("value"))
    )
    dense = R.zero_fill_spine(
        facts, "event_type", "day", "value", step=F.expr("interval 1 day")
    )
    return dense.select("event_type", "day", "value")


# ---------------------------------------------------------------------------
# A9 (H6 fix): dedup keeping the LAST row per key under an explicit
# order — exact-parity version of pandas drop_duplicates(keep='last')
# (airflow/archive/dags/etl_pagerank_dag.py:70-71).
# ---------------------------------------------------------------------------
@query(
    "dedup_keep_last",
    oracle="""
    SELECT user_id, event_id, ts, value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def dedup_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = R.dedup_keep_last(
        ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    )
    return out.select("user_id", "event_id", "ts", "value")


# ---------------------------------------------------------------------------
# F1-F7: scalar function showcase — hex round-trip (F6), concat (F2),
# conditional rewrite (F3), abs (F4), label shortening (F7),
# deterministic surrogate keys (F1 / H1 fix: sha2 content hash instead
# of per-action-recomputed uuid()).
# ---------------------------------------------------------------------------
@query(
    "scalar_functions",
    oracle=f"""
    SELECT p_partkey,
           lower(hex(p_name))                            AS unit_hex,
           decode(unhex(hex(p_name)))                    AS name_roundtrip,
           p_brand || '#' || p_type                      AS brand_type,
           CASE WHEN p_name = 'adalovelace' THEN 'lovelace' ELSE p_name END
                                                         AS unit_norm,
           {fround_sql('abs(p_retailprice - 1500.0)', 2)} AS abs_diff,
           CASE WHEN length(p_name) <= 10 THEN p_name
                ELSE substr(p_name, 1, 5) || '...' || substr(p_name, length(p_name) - 4, 5)
           END                                           AS short_label,
           sha256(cast(p_partkey AS VARCHAR) || chr(31) || p_name) AS det_id
    FROM part
    """,
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_data_engineering_spark.functions import scalar as S

    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lower(F.hex(F.col("p_name"))).alias("unit_hex"),
        S.hex_decode_utf8(F.lower(F.hex(F.col("p_name")))).alias("name_roundtrip"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("brand_type"),
        S.normalize_unit("p_name").alias("unit_norm"),
        fround(S.abs_value(F.col("p_retailprice") - 1500.0), 2).alias("abs_diff"),
        S.short_label("p_name").alias("short_label"),
        S.deterministic_id("p_partkey", "p_name").alias("det_id"),
    )


# ---------------------------------------------------------------------------
# W1 per-group variant: top-3 highest-value events per user — the
# rank-then-filter pattern the reference approximates with sort+LIMIT.
# ---------------------------------------------------------------------------
@query(
    "topk_per_group",
    oracle="""
    SELECT user_id, event_id, value
    FROM events
    QUALIFY row_number() OVER (
      PARTITION BY user_id ORDER BY value DESC, event_id) <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return R.topk_per_group(
        ev, ["user_id"], [F.col("value").desc(), F.col("event_id")], 3
    ).select("user_id", "event_id", "value")


# ---------------------------------------------------------------------------
# Batch sessionization: assign every event to a gap-based session (a
# >30min
# silence starts a new one) with lag + running-sum — the batch twin of
# the streaming session window (stream_session_window), and the classic
# two-window sessionize every clickstream warehouse runs. One shuffle
# on user_id serves all three windows; session ids are dense integers
# per user, deterministic under the (ts, event_id) total order.
# ---------------------------------------------------------------------------
SESSION_GAP_MS = 30 * 60 * 1000


@query(
    "events_sessionize",
    oracle=f"""
    WITH o AS (
      SELECT user_id, event_id, ts,
             epoch_ms(ts) - lag(epoch_ms(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
      FROM events
    ),
    s AS (
      SELECT user_id, event_id, ts,
             CAST(sum(CASE WHEN gap_ms IS NULL OR gap_ms > {SESSION_GAP_MS}
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_id
      FROM o
    )
    SELECT user_id, event_id, ts, session_id,
           CAST(count(*) OVER (PARTITION BY user_id, session_id) AS BIGINT)
             AS session_events
    FROM s
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_millis(F.col("ts")) - F.lag(F.unix_millis(F.col("ts"))).over(wo)
    marked = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(gap.isNull() | (gap > SESSION_GAP_MS), F.lit(1))
        .otherwise(F.lit(0))
        .alias("__new_sess"),
    )
    ws = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_sess = marked.select(
        "user_id",
        "event_id",
        "ts",
        F.sum("__new_sess").over(ws).cast("long").alias("session_id"),
    )
    return with_sess.withColumn(
        "session_events",
        F.count(F.lit(1))
        .over(Window.partitionBy("user_id", "session_id"))
        .cast("long"),
    )


# ---------------------------------------------------------------------------
# Ordered funnel conversion (view → click → purchase): per user, the
# first view, the first click strictly after it, the first purchase
# strictly after that — then per-step user counts and conversion vs
# the funnel head, integer ppm. Three per-user aggregates + two
# co-partitioned joins on user_id (one shuffle partitioning reused);
# the per-step counts are scalar aggregates crossed into one 3-row
# stack, so nothing corpus-sized leaves the executors.
# ---------------------------------------------------------------------------
@query(
    "events_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1
    ),
    n AS (
      SELECT (SELECT count(*) FROM v) AS n1,
             (SELECT count(*) FROM c) AS n2,
             (SELECT count(*) FROM p) AS n3
    )
    SELECT 'view' AS step, n1 AS n_users,
           CAST(CASE WHEN n1 = 0 THEN 0 ELSE 1000000 END AS BIGINT)
             AS conv_ppm FROM n
    UNION ALL
    SELECT 'click', n2,
           CAST(CASE WHEN n1 = 0 THEN 0 ELSE n2 * 1000000 // n1 END AS BIGINT)
      FROM n
    UNION ALL
    SELECT 'purchase', n3,
           CAST(CASE WHEN n1 = 0 THEN 0 ELSE n3 * 1000000 // n1 END AS BIGINT)
      FROM n
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .join(views, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    nn = (
        views.agg(F.count(F.lit(1)).alias("n1"))
        .crossJoin(clicks.agg(F.count(F.lit(1)).alias("n2")))
        .crossJoin(purchases.agg(F.count(F.lit(1)).alias("n3")))
    )
    return nn.selectExpr(
        """stack(3,
             'view', n1, if(n1 = 0, 0L, 1000000L),
             'click', n2, if(n1 = 0, 0L, n2 * 1000000 div n1),
             'purchase', n3, if(n1 = 0, 0L, n3 * 1000000 div n1)
           ) as (step, n_users, conv_ppm)"""
    )


# ---------------------------------------------------------------------------
# Cohort retention matrix: users bucketed by first-active ISO week,
# counted in every later week they return — (cohort_week, week_offset,
# n_users). Two aggregations and one join, all partitioned by user_id
# (the per-user weekly-activity dedup is the only corpus-sized
# shuffle; the cohort join reuses its partitioning), then a final
# small-keyspace aggregate with map-side combine.
# ---------------------------------------------------------------------------
@query(
    "events_retention",
    oracle="""
    WITH wk AS (
      SELECT user_id, date_trunc('week', ts) AS week
      FROM events GROUP BY 1, 2
    ),
    coh AS (SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY 1)
    SELECT cohort_week,
           CAST(date_diff('day', cohort_week, week) // 7 AS BIGINT)
             AS week_offset,
           count(*) AS n_users
    FROM wk JOIN coh USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wk = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    coh = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        wk.join(coh, "user_id")
        .groupBy(
            "cohort_week",
            F.expr("datediff(week, cohort_week) div 7")
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
