"""Record-linkage and dimension-history queries: fuzzy entity
resolution (multi-pass blocking + edit-distance verify) and SCD
Type 2 versioning — the warehouse-maintenance layer a consumer of the
engine's upsert stream builds when history and near-duplicate
entities must be queryable. The reference has no fuzzy or versioned
surface (exact keys, overwrite-only stores — e.g. the latest-state
upserts in src/etl_vol_transfers/main.py); these extend the
training-data/warehouse superset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blockchain_data_engineering_spark.catalog import load_table, spread
from blockchain_data_engineering_spark.operators import linkage as L
from blockchain_data_engineering_spark.operators.relational import scd2_history
from blockchain_data_engineering_spark.plans.registry import query


# ---------------------------------------------------------------------------
# SCD Type 2 dimension history from the orders change log: per
# customer, the run-length-collapsed priority timeline with half-open
# validity intervals. Both engines run the identical two-window plan:
# lag-based change detection, lead-based interval close, ties broken
# by o_orderkey.
# ---------------------------------------------------------------------------
@query(
    "scd2_order_priority",
    oracle="""
    WITH ordered AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             lag(o_orderpriority) OVER w AS prev
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    versions AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
      FROM ordered
      WHERE prev IS NULL OR prev <> o_orderpriority
    )
    SELECT o_custkey, o_orderpriority,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER w2 AS valid_to,
           lead(o_orderdate) OVER w2 IS NULL AS is_current
    FROM versions
    WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def scd2_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned order-priority dimension per customer
    (operators.relational.scd2_history): ONE shuffle — both window
    passes share the o_custkey partitioning, exchange reused."""
    orders = spread(load_table(spark, sf_dir, "orders"))
    return scd2_history(
        orders,
        key_cols=["o_custkey"],
        attr_cols=["o_orderpriority"],
        ts_col="o_orderdate",
        tiebreak_cols=["o_orderkey"],
    )


# ---------------------------------------------------------------------------
# The SCD2 dimension IN USE: "what was this customer's priority tier
# when the line item shipped" — an as-of lookup of the versioned dim
# (the exact question scd2_history's docstring promises to answer).
# The dim is first made unique per (customer, day) (keep-last by
# orderkey — two same-day orders collapse to the day's end state) so
# the as-of match is deterministic in both engines; DuckDB's native
# ASOF JOIN is the oracle for Spark's union-sort as-of operator.
# A deterministic 5% orderkey slice keeps the gate compare bounded
# without weakening the per-row witness.
# ---------------------------------------------------------------------------
@query(
    "scd2_asof_lookup",
    oracle="""
    WITH day_state AS (
      SELECT o_custkey, o_orderdate, o_orderpriority, o_orderkey
      FROM orders
      QUALIFY row_number() OVER (
        PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) = 1
    ),
    ordered AS (
      SELECT o_custkey, o_orderpriority, o_orderdate,
             lag(o_orderpriority) OVER w AS prev
      FROM day_state
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)
    ),
    dim AS (
      SELECT o_custkey, o_orderpriority, o_orderdate AS valid_from
      FROM ordered WHERE prev IS NULL OR prev <> o_orderpriority
    ),
    ships AS (
      SELECT l_orderkey, l_linenumber, o_custkey, l_shipdate AS ship_ts
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_orderkey % 20 = 0
    )
    SELECT s.l_orderkey, s.l_linenumber, s.o_custkey, s.ship_ts,
           d.o_orderpriority AS priority_at_ship
    FROM ships s ASOF LEFT JOIN dim d
      ON s.o_custkey = d.o_custkey AND s.ship_ts >= d.valid_from
    """,
)
def scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_data_engineering_spark.operators.relational import (
        asof_join_backward,
        dedup_keep_last,
    )

    orders = spread(load_table(spark, sf_dir, "orders"))
    li = load_table(spark, sf_dir, "lineitem")
    day_state = dedup_keep_last(
        orders,
        ["o_custkey", "o_orderdate"],
        [F.col("o_orderkey").desc()],
    )
    dim = scd2_history(
        day_state,
        key_cols=["o_custkey"],
        attr_cols=["o_orderpriority"],
        ts_col="o_orderdate",
    ).select(
        "o_custkey", "valid_from", "o_orderpriority"
    )
    ships = (
        li.where(F.col("l_orderkey") % 20 == 0)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            "o_custkey",
            F.col("l_shipdate").alias("ship_ts"),
        )
    )
    out = asof_join_backward(
        ships,
        dim,
        by_cols=["o_custkey"],
        left_ts="ship_ts",
        right_ts="valid_from",
        right_vals=["o_orderpriority"],
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "o_custkey",
        "ship_ts",
        F.col("o_orderpriority_asof").alias("priority_at_ship"),
    )


# ---------------------------------------------------------------------------
# ER pairs → entity clusters (r6): the transitive-closure step after
# pair verification — A≈B and B≈C must put A, B, C in ONE cluster even
# though A–C never met in any block. Connected components over the
# match graph (pointer jumping, operators.linkage.entity_clusters →
# operators.graph), cluster id = lexicographically smallest member.
# The oracle replays the ER pair CTE and unrolls the same
# propagate+jump rounds.
# ---------------------------------------------------------------------------
# 2 propagate+jump rounds cover chain diameters ≤ 2^3−2 = 6 — name-
# variant chains at any tested SF top out at diameter ≤ 3 (asserted in
# tests/test_r6_ops.py); the oracle unrolls the SAME rounds, so parity
# is bound-independent while the semantic-convergence margin is 2×.
# Each extra round is ~2s of fixed per-round stage overhead on a graph
# this small — the loop cost is round count, not data.
ER_CLUSTER_ROUNDS = 2
# Levenshtein bound of the pair verify: F.levenshtein and DuckDB's
# levenshtein are the same integer metric, so the pairs are exactly
# oracle-checkable.
ER_MAX_DIST = 3

_ER_PAIRS_SQL = f"""
    names AS (SELECT DISTINCT p_name FROM part),
    keyed AS (
      SELECT p_name,
             string_split(p_name, ' ')[1]  AS k1,
             string_split(p_name, ' ')[-1] AS k2
      FROM names
    ),
    cand AS (
      SELECT a.p_name AS name_a, b.p_name AS name_b
      FROM keyed a JOIN keyed b ON a.k1 = b.k1 AND a.p_name < b.p_name
      UNION
      SELECT a.p_name, b.p_name
      FROM keyed a JOIN keyed b ON a.k2 = b.k2 AND a.p_name < b.p_name
    ),
    pairs AS (
      SELECT name_a, name_b FROM cand
      WHERE levenshtein(name_a, name_b) <= {ER_MAX_DIST}
    )"""


def _er_cluster_oracle(rounds: int) -> str:
    ctes = [
        _ER_PAIRS_SQL.strip(),
        "und AS (SELECT name_a AS a, name_b AS b FROM pairs"
        " UNION SELECT name_b, name_a FROM pairs"
        " UNION SELECT name_a, name_a FROM pairs"
        " UNION SELECT name_b, name_b FROM pairs)",
        "nodes AS (SELECT name_a AS node FROM pairs"
        " UNION SELECT name_b FROM pairs)",
        "l0 AS (SELECT node, node AS label FROM nodes)",
    ]
    for i in range(1, rounds + 1):
        prev = f"l{i - 1}"
        ctes.append(
            f"""p{i} AS (
      SELECT u.a AS node, min(p.label) AS label
      FROM und u JOIN {prev} p ON u.b = p.node GROUP BY 1
    )"""
        )
        ctes.append(
            f"""l{i} AS (
      SELECT a.node, b.label FROM p{i} a JOIN p{i} b ON a.label = b.node
    )"""
        )
    last = f"l{rounds}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
    sizes AS (
      SELECT label, CAST(count(*) AS BIGINT) AS cluster_size
      FROM {last} GROUP BY 1
    )
    SELECT t.node AS entity, t.label AS cluster_id, s.cluster_size
    FROM {last} t JOIN sizes s ON t.label = s.label
    """
    )


@query("er_entity_clusters", oracle=_er_cluster_oracle(ER_CLUSTER_ROUNDS))
def er_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate part-name pairs (operators.linkage.fuzzy_pairs:
    blocking passes on first and last name token, union-dedup,
    native-Levenshtein verify, no cartesian) resolved into entity
    clusters."""
    part = spread(load_table(spark, sf_dir, "part"))
    first_tok = lambda df: F.element_at(F.split(F.col("p_name"), " "), 1)  # noqa: E731
    last_tok = lambda df: F.element_at(F.split(F.col("p_name"), " "), -1)  # noqa: E731
    pairs = L.fuzzy_pairs(
        part,
        name_col="p_name",
        block_keys=[first_tok, last_tok],
        max_distance=ER_MAX_DIST,
    )
    return L.entity_clusters(pairs, rounds=ER_CLUSTER_ROUNDS)
