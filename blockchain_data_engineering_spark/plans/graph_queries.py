"""Graph queries (SURVEY §2.8) over the driver tables. The wallet
graph maps to customer↔supplier edges per FIXTURES.md §9: customers
send to suppliers (kept lineitems), suppliers "send back" returns
(l_returnflag='R'), giving a cyclic bipartite-ish graph that exercises
real PageRank dynamics.

The PageRank oracle is the exact same fixed-point iteration unrolled
into a SQL CTE chain — integer arithmetic end-to-end, so Spark and
DuckDB agree bit-for-bit (see operators.graph.pagerank).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blockchain_data_engineering_spark.cache import finalize
from blockchain_data_engineering_spark.catalog import load_table
from blockchain_data_engineering_spark.operators import graph as G
from blockchain_data_engineering_spark.plans.registry import query

PR_ITERS = 5

_EDGES_SQL = """
    SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                    's' || CAST(l_suppkey AS VARCHAR) AS dst
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_returnflag <> 'R'
    UNION
    SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                    'c' || CAST(o_custkey AS VARCHAR) AS dst
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_returnflag = 'R'
"""


def _edge_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct (custkey, suppkey, is_ret) edge triples — the
    integer grain both edge materializations share. Single pass over
    the orders⋈lineitem join: the R/non-R branches only flip the
    (src, dst) roles, so one conditional projection + one distinct
    replaces two filtered scans of the join and three shuffles
    (distinct-per-branch + union-distinct ≡ distinct of the union);
    the distinct exchange ships two ints + a bool and hashes ints
    (r11, guide §2.3 narrower types — measured ~1.5 s -> ~1.2 s warm
    at sf0.1). The triple maps 1:1 to (src, dst): is_ret decides
    which side gets the 'c'/'s' prefix and the mapping is injective,
    so the distinct sets correspond exactly."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    j = orders.join(li, orders.o_orderkey == li.l_orderkey, "inner")
    is_ret = F.col("l_returnflag") == "R"
    return j.select(
        F.col("o_custkey").alias("__ck"),
        F.col("l_suppkey").alias("__sk"),
        is_ret.alias("__r"),
    ).distinct()


def _edges_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    trip = _edge_triples(spark, sf_dir)
    c = F.concat(F.lit("c"), F.col("__ck").cast("string"))
    s = F.concat(F.lit("s"), F.col("__sk").cast("string"))
    edges = trip.select(
        F.when(F.col("__r"), s).otherwise(c).alias("src"),
        F.when(F.col("__r"), c).otherwise(s).alias("dst"),
    )
    # every graph query walks the edge list several times (vertices,
    # degrees, per-iteration joins) — materialize it once; each query
    # wrapper releases it via finalize(result, edges)
    return edges.persist()


# Packed-long node ids (r12, guide §2.3 narrower types): customer ck
# ↦ 2·ck, supplier sk ↦ 2·sk+1 — injective across both kinds, so the
# packed edge set corresponds 1:1 to the string edge set. Queries
# whose OUTPUT is invariant under any relabeling of node ids (degree
# counts, triangle credits, distance/arrival minima — NOT min-label
# ops like connected components, whose labels order node ids) can run
# their whole iterative loop at long grain — every distinct, degree
# aggregate, semi join and broadcast probe hashes/ships 8-byte longs
# instead of ~6-char strings — and build the 'c…'/'s…' strings only
# at the ≤|V|-row readout, where the oracle-checked output is formed.
def _pack_c() -> F.Column:
    return F.col("__ck") * 2


def _pack_s() -> F.Column:
    return F.col("__sk") * 2 + 1


def _node_str(col: str) -> F.Column:
    """Unpack a packed-long node id back to its 'c<ck>'/'s<sk>' form
    (the exact strings _edges_df builds: 2k ↦ 'c<k>', 2k+1 ↦ 's<k>')."""
    n = F.col(col)
    half = F.expr(f"`{col}` div 2").cast("string")  # integer div: exact
    return F.when(n % 2 == 0, F.concat(F.lit("c"), half)).otherwise(
        F.concat(F.lit("s"), half)
    )


def _edges_packed_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    trip = _edge_triples(spark, sf_dir)
    edges = trip.select(
        F.when(F.col("__r"), _pack_s()).otherwise(_pack_c()).alias("src"),
        F.when(F.col("__r"), _pack_c()).otherwise(_pack_s()).alias("dst"),
    )
    return edges.persist()


def _pagerank_oracle_sql(iters: int) -> str:
    """Unroll the fixed-point PageRank iteration as a CTE chain.

    DuckDB can't aggregate inside a recursive CTE, so the loop is
    generated — same integer ops as operators.graph.pagerank: BIGINT ranks
    scaled by 10^12, ``//`` division, 85/100 damping.
    """
    scale = G.PR_SCALE
    ctes = [
        f"edges AS ({_EDGES_SQL})",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "meta AS (SELECT count(*) AS n FROM nodes)",
        "deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY 1)",
        f"pr0 AS (SELECT node, {scale} // (SELECT n FROM meta) AS pr_q FROM nodes)",
    ]
    for i in range(1, iters + 1):
        prev = f"pr{i - 1}"
        ctes.append(
            f"""pr{i} AS (
      SELECT n.node,
             (({scale} * 15) // 100) // (SELECT n FROM meta)
               + (coalesce(c.s, 0) * 85) // 100 AS pr_q
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, CAST(sum(p.pr_q // d.outdeg) AS BIGINT) AS s
        FROM edges e
        JOIN {prev} p ON e.src = p.node
        JOIN deg d ON e.src = d.node
        GROUP BY 1
      ) c ON c.node = n.node
    )"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, CAST(pr_q AS DOUBLE) / {scale} AS score FROM pr{iters}"
    )


# ---------------------------------------------------------------------------
# G3: PageRank — native iterative DataFrame loop replacing Neo4j GDS
# (airflow/archive/dags/etl_pagerank_dag.py:43-48). Fixed-point integer
# ranks, damping 0.85 (the GDS default), so the oracle matches exactly.
# ---------------------------------------------------------------------------
@query("graph_pagerank", oracle=_pagerank_oracle_sql(PR_ITERS))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges_df(spark, sf_dir)
    return finalize(G.pagerank(edges, iterations=PR_ITERS), edges)


# ---------------------------------------------------------------------------
# G1: edge construction + degree profile of the transfer graph — the
# shape queried by the notebook's network plot
# (transaction_network_plot.ipynb).
# ---------------------------------------------------------------------------
@query(
    "graph_degrees",
    oracle=f"""
    WITH edges AS ({_EDGES_SQL}),
    o AS (SELECT src AS node, count(*) AS out_degree FROM edges GROUP BY 1),
    i AS (SELECT dst AS node, count(*) AS in_degree FROM edges GROUP BY 1)
    SELECT coalesce(o.node, i.node) AS node,
           coalesce(o.out_degree, 0) AS out_degree,
           coalesce(i.in_degree, 0)  AS in_degree
    FROM o FULL OUTER JOIN i ON o.node = i.node
    """,
)
def graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges_df(spark, sf_dir)
    return finalize(G.degrees(edges), edges)


# ---------------------------------------------------------------------------
# G4: anchored neighborhood sample — deterministic restatement of the
# notebook's ``MATCH (s)-[t:SENT_TO]->(r) LIMIT 50`` (the LIMIT was
# arbitrary row selection, hazard H3): 2-hop out-neighborhood of the
# highest-out-degree node.
# ---------------------------------------------------------------------------
@query(
    "graph_neighborhood",
    oracle=f"""
    WITH edges AS ({_EDGES_SQL}),
    anchor AS (
      SELECT src AS node FROM edges GROUP BY 1
      ORDER BY count(*) DESC, src LIMIT 1
    ),
    hop1 AS (SELECT * FROM edges WHERE src = (SELECT node FROM anchor)),
    hop2 AS (
      SELECT e.* FROM edges e
      WHERE e.src IN (SELECT DISTINCT dst FROM hop1)
    )
    SELECT DISTINCT * FROM (
      SELECT src, dst FROM hop1 UNION ALL SELECT src, dst FROM hop2
    )
    """,
)
def graph_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges_df(spark, sf_dir)  # arrives persisted
    try:
        anchor = (
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .orderBy(F.col("d").desc(), F.col("src"))
            .limit(1)
            .collect()[0]["src"]
        )
    finally:
        # cache only serves the anchor collect; the returned (uncached)
        # plan re-reads the pushdown-filtered parquet scan — no cache
        # may outlive the call (package cache-lifetime convention)
        edges.unpersist()
    hop1 = edges.where(F.col("src") == anchor)
    hop2 = edges.join(
        hop1.select(F.col("dst").alias("src")).distinct(), "src", "inner"
    )
    return hop1.unionByName(hop2).distinct()


# ---------------------------------------------------------------------------
# Connected components (wallet clustering — the address-entity analysis
# the reference's Neo4j graph exists for, beyond its shipped PageRank):
# min-label propagation, deterministic, oracle = the same iteration
# unrolled in SQL.
# ---------------------------------------------------------------------------
CC_ITERS = 6


def _cc_oracle_sql(iters: int) -> str:
    ctes = [
        f"edges AS ({_EDGES_SQL})",
        "und AS (SELECT src AS a, dst AS b FROM edges"
        " UNION SELECT dst, src FROM edges)",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "l0 AS (SELECT node, node AS label FROM nodes)",
    ]
    for i in range(1, iters + 1):
        prev = f"l{i - 1}"
        ctes.append(
            f"""l{i} AS (
      SELECT l.node,
             least(l.label, coalesce(m.nbr_label, l.label)) AS label
      FROM {prev} l LEFT JOIN (
        SELECT u.a AS node, min(p.label) AS nbr_label
        FROM und u JOIN {prev} p ON u.b = p.node GROUP BY 1
      ) m ON m.node = l.node
    )"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT node, label FROM l{iters}"


@query("graph_connected_components", oracle=_cc_oracle_sql(CC_ITERS))
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges_df(spark, sf_dir)
    return finalize(G.connected_components(edges, iterations=CC_ITERS), edges)


# ---------------------------------------------------------------------------
# Triangle counting over the supplier co-occurrence graph (suppliers
# sharing an order — the customer↔supplier wallet graph is bipartite
# and trivially triangle-free). Degree-ordered orientation counts each
# triangle once with wedge fan-out bounded by the low-degree endpoint;
# the oracle replays orientation + wedge close in SQL.
# ---------------------------------------------------------------------------
@query(
    "graph_triangle_count",
    oracle="""
    WITH und AS (
      SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    ),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und
      ) GROUP BY 1
    ),
    oriented AS (
      SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND und.a < und.b)
                  THEN und.a ELSE und.b END AS u,
             CASE WHEN (da.d < db.d) OR (da.d = db.d AND und.a < und.b)
                  THEN und.b ELSE und.a END AS v,
             CASE WHEN (da.d < db.d) OR (da.d = db.d AND und.a < und.b)
                  THEN db.d ELSE da.d END AS dv
      FROM und
      JOIN deg da ON da.node = und.a
      JOIN deg db ON db.node = und.b
    ),
    wedges AS (
      SELECT e1.v AS u, e2.v AS v
      FROM oriented e1 JOIN oriented e2 ON e1.u = e2.u
      WHERE (e1.dv < e2.dv) OR (e1.dv = e2.dv AND e1.v < e2.v)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM wedges w
    WHERE EXISTS (SELECT 1 FROM oriented o WHERE o.u = w.u AND o.v = w.v)
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.withColumnRenamed("l_suppkey", "src")
    b = li.withColumnRenamed("l_suppkey", "dst")
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    # triangle_count broadcasts the |V|-row adjacency table, which
    # keeps this dense co-occurrence graph's edges from shuffling
    return G.triangle_count(edges)


# ---------------------------------------------------------------------------
# Label-propagation communities (Raghavan et al. 2007, deterministic
# min-tie-break variant): majority vote over neighbor labels per
# round — finds dense communities WITHIN a connected component, which
# min-label CC by construction cannot. Oracle = the same synchronous
# iteration unrolled.
# ---------------------------------------------------------------------------
LPA_ITERS = 4


def _lpa_oracle_sql(iters: int) -> str:
    ctes = [
        f"edges AS ({_EDGES_SQL})",
        "und AS (SELECT src AS a, dst AS b FROM edges"
        " UNION SELECT dst, src FROM edges)",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "l0 AS (SELECT node, node AS label FROM nodes)",
    ]
    for i in range(1, iters + 1):
        prev = f"l{i - 1}"
        ctes.append(
            f"""v{i} AS (
      SELECT u.a AS node, p.label, count(*) AS cnt
      FROM und u JOIN {prev} p ON u.b = p.node GROUP BY 1, 2
    ),
    w{i} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (
                 PARTITION BY node ORDER BY cnt DESC, label) AS rn
        FROM v{i}
      ) WHERE rn = 1
    ),
    l{i} AS (
      SELECT n.node, coalesce(w.label, n.node) AS label
      FROM nodes n LEFT JOIN w{i} w ON w.node = n.node
    )"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT node, label FROM l{iters}"


@query("graph_label_propagation", oracle=_lpa_oracle_sql(LPA_ITERS))
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges_df(spark, sf_dir)
    return finalize(
        G.label_propagation_communities(edges, iterations=LPA_ITERS), edges
    )


# ---------------------------------------------------------------------------
# k-core peeling over the wallet graph: dense engagement cores that a
# one-shot degree filter cannot find (peeling cascades). Fixed k and
# round count; the oracle unrolls each peel as one CTE level.
# ---------------------------------------------------------------------------
KCORE_K = 5
KCORE_ROUNDS = 3


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    ctes = [
        f"""edges AS ({_EDGES_SQL}),
    e0 AS (
      SELECT src AS a, dst AS b FROM edges WHERE src <> dst
      UNION
      SELECT dst AS a, src AS b FROM edges WHERE src <> dst
    )"""
    ]
    for i in range(rounds):
        ctes.append(
            f"""k{i} AS (
      SELECT a FROM e{i} GROUP BY a HAVING count(*) >= {k}
    ),
    e{i + 1} AS (
      SELECT e.a, e.b FROM e{i} e
      JOIN k{i} x ON e.a = x.a JOIN k{i} y ON e.b = y.a
    )"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT a AS node, count(*) AS degree FROM e{rounds} GROUP BY a"
    )


@query("graph_kcore", oracle=_kcore_oracle_sql(KCORE_K, KCORE_ROUNDS))
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # packed-long loop (r12): per-node degrees are invariant under any
    # injective relabeling of node ids, so every peel round's distinct
    # / degree aggregate / semi join runs at 8-byte-long grain; the
    # oracle-checked strings are built over the ≤|V|-row survivor set
    edges = _edges_packed_df(spark, sf_dir)
    core = G.kcore(edges, k=KCORE_K, rounds=KCORE_ROUNDS)
    return finalize(
        core.select(_node_str("node").alias("node"), "degree"), edges
    )


# ---------------------------------------------------------------------------
# Multi-source BFS distance: fewest hops from the seed wallets.
# The oracle is a genuine recursive CTE (DuckDB's UNION-dedup
# recursion, capped by the same max_hops) rather than an unrolled
# chain — states are (node, dist) pairs, so min(dist) is the level a
# node FIRST entered the frontier, exactly what the delta-frontier
# Spark loop emits.
# ---------------------------------------------------------------------------
BFS_HOPS = 4

_BFS_ORACLE = f"""
    WITH RECURSIVE e AS ({_EDGES_SQL}),
    seeds(node) AS (VALUES ('c1'), ('c2'), ('c3')),
    bfs(node, dist) AS (
      SELECT node, 0 FROM seeds
      UNION
      SELECT e.dst, b.dist + 1
      FROM bfs b JOIN e ON e.src = b.node
      WHERE b.dist < {BFS_HOPS}
    )
    SELECT node, CAST(min(dist) AS INTEGER) AS dist
    FROM bfs GROUP BY 1
"""


@query("graph_bfs_levels", oracle=_BFS_ORACLE)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Taint/exposure reach: hop distance from seed wallets c1-c3
    (operators.graph.bfs_levels — delta-frontier join loop, one
    shuffle per hop, early exit on empty frontier)."""
    edges = _edges_df(spark, sf_dir)
    seeds = spark.createDataFrame([("c1",), ("c2",), ("c3",)], "node string")
    return finalize(G.bfs_levels(edges, seeds, max_hops=BFS_HOPS), edges)


# ---------------------------------------------------------------------------
# Link prediction by Resource Allocation index (Zhou/Lü/Zhang 2009 —
# the integer-exact sibling of Adamic-Adar, 1/deg instead of 1/log
# deg, chosen so the score is a SUM OF EXACT INTEGER QUANTA and
# engine-portable; AA's log() is libm-dependent): suppliers are
# "likely partners" when they co-supply many low-degree parts.
#
# Scale shape: the pair fan-out is Σ_part deg², bounded because part
# degree (suppliers per part) is naturally small and hub parts
# contribute ~0 to RA anyway — the HUB_CAP both bounds the worst case
# and drops only negligible-score mass (the same degree-cap trade
# every production AA/RA implementation makes). One distinct + one
# self-equi-join on l_partkey + one groupBy; top-k via
# TakeOrderedAndProject.
# ---------------------------------------------------------------------------
_RA_QUANTA = 1_000_000
_RA_HUB_CAP = 64
_RA_TOPK = 30


@query(
    "graph_link_prediction",
    oracle=f"""
    WITH ps AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ),
    deg AS (
      SELECT p, count(*) AS d FROM ps GROUP BY p
    ),
    pairs AS (
      SELECT a.s AS s1, b.s AS s2, d.d
      FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
      JOIN deg d ON d.p = a.p
      WHERE d.d <= {_RA_HUB_CAP}
    )
    SELECT s1, s2,
           CAST(count(*) AS BIGINT) AS n_common,
           CAST(sum(CAST(floor({_RA_QUANTA}.0 / CAST(d AS DOUBLE))
                         AS BIGINT)) AS BIGINT) AS ra_quanta
    FROM pairs GROUP BY s1, s2
    ORDER BY ra_quanta DESC, s1, s2 LIMIT {_RA_TOPK}
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier pairs by RA index over the co-supply bipartite
    graph. floor(QUANTA/deg) is exact in IEEE doubles (correctly
    rounded division of exactly-representable operands), so the
    summed score is an order-independent integer in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    # distinct key name: deg shares ps's lineage, so an un-renamed
    # `p` would be ambiguous against the self-join aliases
    deg = ps.groupBy("p").agg(F.count(F.lit(1)).alias("d")).select(
        F.col("p").alias("dp"), "d"
    )
    a = ps.alias("a")
    b = ps.alias("b")
    pairs = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .join(deg.where(F.col("d") <= _RA_HUB_CAP), F.col("a.p") == F.col("dp"))
        .select(
            F.col("a.s").alias("s1"),
            F.col("b.s").alias("s2"),
            F.floor(
                F.lit(float(_RA_QUANTA)) / F.col("d").cast("double")
            ).alias("w"),
        )
    )
    return (
        pairs.groupBy("s1", "s2")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("w").alias("ra_quanta"),
        )
        .orderBy(F.col("ra_quanta").desc(), "s1", "s2")
        .limit(_RA_TOPK)
    )


# ---------------------------------------------------------------------------
# Weighted shortest paths, round-bounded (operators.graph.sssp):
# cheapest ≤K-edge route from the seed wallets over min-quantity
# weighted transfer edges — BFS's weighted sibling ("the cheapest way
# flagged funds can have reached this wallet"). Integer weights
# (floor of the min contributing quantity) keep every relaxation
# exact; the oracle unrolls the SAME K Bellman-Ford rounds as CTEs
# (full relaxation — the delta-frontier loop reaches the identical
# fixpoint, the invariant the operator docstring states).
# ---------------------------------------------------------------------------
SSSP_ROUNDS = 4

_WEDGES_SQL = """
      SELECT src, dst, min(w) AS w FROM (
        SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
               's' || CAST(l_suppkey AS VARCHAR) AS dst,
               CAST(floor(l_quantity) AS BIGINT) AS w
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_returnflag <> 'R'
        UNION ALL
        SELECT 's' || CAST(l_suppkey AS VARCHAR),
               'c' || CAST(o_custkey AS VARCHAR),
               CAST(floor(l_quantity) AS BIGINT)
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_returnflag = 'R'
      ) GROUP BY src, dst
"""


def _sssp_oracle() -> str:
    ctes = [
        "d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds)"
    ]
    for k in range(1, SSSP_ROUNDS + 1):
        ctes.append(
            f"""c{k} AS (
      SELECT e.dst AS node, min(d{k - 1}.dist + e.w) AS dist
      FROM d{k - 1} JOIN e ON e.src = d{k - 1}.node GROUP BY e.dst
    ),
    d{k} AS (
      SELECT node, min(dist) AS dist FROM (
        SELECT * FROM d{k - 1} UNION ALL SELECT * FROM c{k}
      ) GROUP BY node
    )"""
        )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH e AS ({{edges}}),
    seeds(node) AS (VALUES ('c1'), ('c2'), ('c3')),
    {joined}
    SELECT node, dist FROM d{SSSP_ROUNDS}
    """.format(edges=_WEDGES_SQL)


@query("graph_sssp_cheapest_route", oracle=_sssp_oracle())
def graph_sssp_cheapest_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    j = orders.join(li, orders.o_orderkey == li.l_orderkey, "inner")
    # packed-long ids end-to-end (r12): path-cost minima are invariant
    # under node relabeling, so the min-weight pair aggregate (the
    # query's one |E|-sized exchange) groups/ships two longs instead
    # of two strings, and every round's broadcast probe hashes longs;
    # the oracle-checked 'c…'/'s…' strings form at the ≤|V|-row readout
    cl = F.col("o_custkey") * 2
    sl = F.col("l_suppkey") * 2 + 1
    is_ret = F.col("l_returnflag") == "R"
    wedges = (
        j.select(
            F.when(is_ret, sl).otherwise(cl).alias("src"),
            F.when(is_ret, cl).otherwise(sl).alias("dst"),
            F.floor(F.col("l_quantity")).cast("long").alias("w"),
        )
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
        # the loop scans the edge list once per round — materialize the
        # join+agg ONCE instead of 4×; released at the query's settle
        .persist()
    )
    # seeds c1, c2, c3 under the packing ck ↦ 2·ck
    seeds = spark.createDataFrame([(2,), (4,), (6,)], "node long")
    out = G.sssp(wedges, seeds, rounds=SSSP_ROUNDS)
    return finalize(out.select(_node_str("node").alias("node"), "dist"), wedges)


# ---------------------------------------------------------------------------
# Time-respecting reachability (earliest arrival) over timestamped
# transfer edges: every hop's edge time must be >= the arrival time at
# its source — funds cannot be forwarded before they were received.
# The temporal completion of the taint family: graph_bfs_levels
# answers hop distance, graph_sssp_cheapest_route cheapest cost, this
# the earliest *time*. Edge times are integer days (exact in every
# engine); the oracle replays the identical bounded rounds as an
# unrolled CTE chain, the same trajectory-replay pattern as the
# PageRank/CC/k-core/SSSP oracles.
# ---------------------------------------------------------------------------
TEMPORAL_ROUNDS = 4
_TEMPORAL_T0 = 1000  # seeds flagged at day 1000: earlier edges unusable


def _temporal_edges_sql() -> str:
    return """
    SELECT DISTINCT
      CASE WHEN l_returnflag = 'R' THEN 's' || CAST(l_suppkey AS VARCHAR)
           ELSE 'c' || CAST(o_custkey AS VARCHAR) END AS src,
      CASE WHEN l_returnflag = 'R' THEN 'c' || CAST(o_custkey AS VARCHAR)
           ELSE 's' || CAST(l_suppkey AS VARCHAR) END AS dst,
      CAST(datediff('day', DATE '1992-01-01', l_shipdate) AS BIGINT) AS t
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    """


def _temporal_oracle() -> str:
    ctes = [
        f"e AS ({_temporal_edges_sql()})",
        "d0 AS (SELECT * FROM (VALUES "
        f"('c1', CAST({_TEMPORAL_T0} AS BIGINT)), ('c2', {_TEMPORAL_T0}), "
        f"('c3', {_TEMPORAL_T0})) s(node, arr))",
    ]
    for k in range(1, TEMPORAL_ROUNDS + 1):
        ctes.append(
            f"""c{k} AS (
      SELECT e.dst AS node, min(e.t) AS arr
      FROM d{k - 1} JOIN e ON e.src = d{k - 1}.node AND e.t >= d{k - 1}.arr
      GROUP BY e.dst
    ),
    d{k} AS (
      SELECT node, min(arr) AS arr FROM (
        SELECT * FROM d{k - 1} UNION ALL SELECT * FROM c{k}
      ) GROUP BY node
    )"""
        )
    joined = ",\n    ".join(ctes)
    return f"WITH {joined}\n    SELECT node, arr FROM d{TEMPORAL_ROUNDS}"


@query("graph_temporal_reachability", oracle=_temporal_oracle())
def graph_temporal_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    j = orders.join(li, orders.o_orderkey == li.l_orderkey, "inner")
    # packed-long ids end-to-end (r12): earliest arrivals are invariant
    # under node relabeling, so the operator's (src, dst, t) distinct
    # and every round's eligibility join/aggregate run at long grain;
    # strings form at the ≤|V|-row readout
    cl = F.col("o_custkey") * 2
    sl = F.col("l_suppkey") * 2 + 1
    is_ret = F.col("l_returnflag") == "R"
    # parallel (src, dst) edges stay DISTINCT rows (no min-t collapse):
    # which parallel edge is usable depends on the arrival time, which
    # the loop only discovers round by round
    # raw timestamped edges: (src, dst, t) duplicates are fine — the
    # operator distincts the triples in its one up-front shuffle,
    # which subsumes the DISTINCT here
    tedges = j.select(
        F.when(is_ret, sl).otherwise(cl).alias("src"),
        F.when(is_ret, cl).otherwise(sl).alias("dst"),
        F.datediff(F.col("l_shipdate"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("t"),
    )
    # seeds c1, c2, c3 under the packing ck ↦ 2·ck
    seeds = spark.createDataFrame(
        [(2, _TEMPORAL_T0), (4, _TEMPORAL_T0), (6, _TEMPORAL_T0)],
        "node long, arr long",
    )
    return G.earliest_arrival(tedges, seeds, rounds=TEMPORAL_ROUNDS).select(
        _node_str("node").alias("node"), "arr"
    )


# ---------------------------------------------------------------------------
# Per-node local clustering coefficient — the per-vertex refinement of
# the global triangle count (same degree-ordered orientation +
# adjacency-intersection kernel; triangle_count = Σ n_tri / 3 falls
# out, which is how the demoted scalar query stays witnessed). Oracle:
# ordered wedge join over the undirected edge set — each triangle
# x<y<z found exactly once — then each corner credited. lcc is one
# IEEE division of exact integer operands, bit-identical everywhere.
# ---------------------------------------------------------------------------
_CC_ORACLE = f"""
    WITH de AS ({_EDGES_SQL}),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM de WHERE src <> dst
    ),
    deg AS (
      SELECT node, count(*) AS degree FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und
      ) GROUP BY 1
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    credit AS (
      SELECT node, count(*) AS n_tri FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) GROUP BY 1
    )
    SELECT d.node,
           CAST(d.degree AS BIGINT) AS degree,
           CAST(coalesce(c.n_tri, 0) AS BIGINT) AS n_tri,
           CASE WHEN d.degree >= 2 THEN
             CAST(coalesce(c.n_tri, 0) * 2 AS DOUBLE)
             / CAST(d.degree * (d.degree - 1) AS DOUBLE)
           END AS lcc
    FROM deg d LEFT JOIN credit c USING (node)
"""


@query("graph_clustering_coefficient", oracle=_CC_ORACLE)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    # packed-long kernel (r12): the degree-ordered orientation uses the
    # node-id ORDER as a tie-break, but the output is invariant under
    # any strict total order on ids — each triangle is discovered
    # exactly once at its (degree, id)-lowest oriented edge and credits
    # all three corners regardless of which order was used — so the
    # und distinct, degree aggregate, attachment joins and credit
    # explode all run at long grain; strings form at the |V|-row readout
    edges = _edges_packed_df(spark, sf_dir)
    out = G.clustering_coefficient(edges)
    return finalize(
        out.select(_node_str("node").alias("node"), "degree", "n_tri", "lcc"),
        edges,
    )
