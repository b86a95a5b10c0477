"""Similarity-search queries over ``embeddings`` (SURVEY §7.2 M5):
brute-force cosine top-k (the exact baseline) and sign-LSH bucketed ANN
(the scale path). Cosines are exact integer-quanta arithmetic, so both
ranking and values match the oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blockchain_data_engineering_spark.catalog import load_table, spread
from blockchain_data_engineering_spark.operators import similarity as SIM
from blockchain_data_engineering_spark.plans.parity import quanta_sql
from blockchain_data_engineering_spark.plans.registry import query

N_QUERIES = 10
TOPK = 5
N_PLANES = 8
DIM = 64

_NORM_Q = quanta_sql("CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)", 12)
_DOT_Q = quanta_sql("CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)", 12)
_SCALE = 10**12


# ---------------------------------------------------------------------------
# Brute-force exact top-k: query set (vec_id < 10) broadcast against the
# full candidate scan; per-query rank with deterministic tie-break.
# ---------------------------------------------------------------------------
@query(
    "sim_cosine_topk",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, CAST(sum({_NORM_Q}) AS BIGINT) AS norm_q
      FROM embeddings, generate_series(1, {DIM}) AS t(i) GROUP BY 1
    ),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             CAST(sum({_DOT_Q}) AS BIGINT) AS dot_q
      FROM embeddings q
      JOIN embeddings c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id,
           generate_series(1, {DIM}) AS t(i)
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, cand_id,
             (CAST(dot_q AS DOUBLE) / {_SCALE})
               / (sqrt(CAST(nq.norm_q AS DOUBLE) / {_SCALE})
                  * sqrt(CAST(nc.norm_q AS DOUBLE) / {_SCALE})) AS cosine
      FROM dots
      JOIN n nq ON nq.vec_id = query_id
      JOIN n nc ON nc.vec_id = cand_id
    )
    SELECT query_id, cand_id, cosine,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= {TOPK}
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    return SIM.brute_force_topk(queries, emb, k=TOPK)


@query(
    "emb_hard_negatives",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, CAST(sum({_NORM_Q}) AS BIGINT) AS norm_q
      FROM embeddings, generate_series(1, {DIM}) AS t(i) GROUP BY 1
    ),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             c.label AS neg_label,
             CAST(sum({_DOT_Q}) AS BIGINT) AS dot_q
      FROM embeddings q
      JOIN embeddings c
        ON q.vec_id < {N_QUERIES} AND q.label <> c.label,
           generate_series(1, {DIM}) AS t(i)
      GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT query_id, cand_id, neg_label,
             (CAST(dot_q AS DOUBLE) / {_SCALE})
               / (sqrt(CAST(nq.norm_q AS DOUBLE) / {_SCALE})
                  * sqrt(CAST(nc.norm_q AS DOUBLE) / {_SCALE})) AS cosine
      FROM dots
      JOIN n nq ON nq.vec_id = query_id
      JOIN n nc ON nc.vec_id = cand_id
    )
    SELECT query_id, cand_id, neg_label, cosine,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= 3
    """,
)
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (DPR/Contriever): per anchor, the top-3
    most-similar DIFFERENT-label vectors — the label filter runs
    before ranking so positives never crowd the negative shortlist
    (operators.similarity.hard_negative_topk)."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    anchors = emb.where(F.col("vec_id") < N_QUERIES)
    return SIM.hard_negative_topk(anchors, emb, k=3)


# ---------------------------------------------------------------------------
# Sign-LSH ANN: bucket every vector by an 8-bit random-hyperplane sign
# signature (Rademacher planes derived from md5 — reproducible in SQL),
# exact cosine only WITHIN buckets, top-3 per vector. The bucket join
# is the 100 TB trick: candidates scale with collisions, not N². The
# operator is the multi-table one below with a single 8-plane table.
# ---------------------------------------------------------------------------
def _lsh_oracle() -> str:
    k = 3
    q_emb = quanta_sql("CAST(embedding[i] AS DOUBLE)", 12)
    sign = (
        "CASE WHEN substr(md5(CAST(j AS VARCHAR) || '_' || CAST(i - 1 AS VARCHAR)), 1, 1)"
        " IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END"
    )
    bit_cols = " || ".join(
        f"max(CASE WHEN j = {j} THEN bit END)" for j in range(N_PLANES)
    )
    dot_q = quanta_sql(
        "CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)", 12
    )
    return f"""
    WITH comps AS (
      SELECT vec_id, i, {q_emb} AS q
      FROM embeddings, generate_series(1, {DIM}) AS t(i)
    ),
    proj AS (
      SELECT vec_id, j,
             sum(CASE WHEN {sign} = 1 THEN q ELSE -q END) AS p
      FROM comps, generate_series(0, {N_PLANES - 1}) AS pl(j)
      GROUP BY 1, 2
    ),
    bits AS (
      SELECT vec_id, j, CASE WHEN p >= 0 THEN '1' ELSE '0' END AS bit FROM proj
    ),
    buckets AS (
      SELECT vec_id, {bit_cols} AS bucket FROM bits GROUP BY vec_id
    ),
    n AS (
      SELECT vec_id, CAST(sum({_NORM_Q}) AS BIGINT) AS norm_q
      FROM embeddings, generate_series(1, {DIM}) AS t(i) GROUP BY 1
    ),
    pairs AS (
      SELECT ba.vec_id AS query_id, bb.vec_id AS cand_id
      FROM buckets ba JOIN buckets bb
        ON ba.bucket = bb.bucket AND ba.vec_id <> bb.vec_id
    ),
    dots AS (
      SELECT p.query_id, p.cand_id, CAST(sum({dot_q}) AS BIGINT) AS dot_q
      FROM pairs p
      JOIN embeddings a ON a.vec_id = p.query_id
      JOIN embeddings b ON b.vec_id = p.cand_id,
           generate_series(1, {DIM}) AS t(i)
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, cand_id,
             (CAST(dot_q AS DOUBLE) / {_SCALE})
               / (sqrt(CAST(nq.norm_q AS DOUBLE) / {_SCALE})
                  * sqrt(CAST(nc.norm_q AS DOUBLE) / {_SCALE})) AS cosine
      FROM dots
      JOIN n nq ON nq.vec_id = query_id
      JOIN n nc ON nc.vec_id = cand_id
    )
    SELECT query_id, cand_id, cosine,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= {k}
    """


@query("sim_lsh_ann", oracle=_lsh_oracle())
def sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return SIM.lsh_ann_topk_multitable(emb, k=3, n_tables=1, n_planes=N_PLANES)


# ---------------------------------------------------------------------------
# IVF ANN: FIXED-k hash-sampled centroids (k independent of corpus
# size — the k vectors with smallest md5(id); selection is a top-k
# scan, assignment a broadcast join of O(k) rows, O(N·k) total work) →
# nearest-centroid assignment → exact cosine within the query's nprobe
# nearest clusters. The other scale path next to sign-LSH: candidates
# bounded by nprobe × cluster size, recall dialed by nprobe. Oracle
# replays centroid pick + assignment + an nprobe=1 probe in SQL.
# ---------------------------------------------------------------------------
N_CENTROIDS = 32


def _ivf_oracle() -> str:
    k = 3
    q_vc = quanta_sql("CAST(v.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)", 12)
    q_ab = quanta_sql("CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)", 12)
    return f"""
    WITH n AS (
      SELECT vec_id, CAST(sum({_NORM_Q}) AS BIGINT) AS norm_q
      FROM embeddings, generate_series(1, {DIM}) AS t(i) GROUP BY 1
    ),
    cent AS (
      SELECT vec_id FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {N_CENTROIDS}
    ),
    ad AS (
      SELECT v.vec_id, c.vec_id AS centroid_id, CAST(sum({q_vc}) AS BIGINT) AS dot_q
      FROM embeddings v JOIN embeddings c ON c.vec_id IN (SELECT vec_id FROM cent),
           generate_series(1, {DIM}) AS t(i)
      GROUP BY 1, 2
    ),
    ascore AS (
      SELECT ad.vec_id, ad.centroid_id,
             (CAST(dot_q AS DOUBLE) / {_SCALE})
               / (sqrt(CAST(nv.norm_q AS DOUBLE) / {_SCALE})
                  * sqrt(CAST(nc.norm_q AS DOUBLE) / {_SCALE})) AS c_cos
      FROM ad JOIN n nv ON nv.vec_id = ad.vec_id
      JOIN n nc ON nc.vec_id = ad.centroid_id
    ),
    ranked AS (
      SELECT vec_id, centroid_id,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY c_cos DESC, centroid_id) AS pr
      FROM ascore
    ),
    assign AS (SELECT vec_id, centroid_id FROM ranked WHERE pr = 1),
    probes AS (
      SELECT vec_id, centroid_id FROM ranked
      WHERE pr <= 1 AND vec_id < {N_QUERIES}
    ),
    pairs AS (
      SELECT qa.vec_id AS query_id, ca.vec_id AS cand_id
      FROM probes qa JOIN assign ca ON qa.centroid_id = ca.centroid_id
      WHERE ca.vec_id <> qa.vec_id
    ),
    pd AS (
      SELECT p.query_id, p.cand_id, CAST(sum({q_ab}) AS BIGINT) AS dot_q
      FROM pairs p
      JOIN embeddings a ON a.vec_id = p.query_id
      JOIN embeddings b ON b.vec_id = p.cand_id,
           generate_series(1, {DIM}) AS t(i)
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, cand_id,
             (CAST(dot_q AS DOUBLE) / {_SCALE})
               / (sqrt(CAST(nq.norm_q AS DOUBLE) / {_SCALE})
                  * sqrt(CAST(nc.norm_q AS DOUBLE) / {_SCALE})) AS cosine
      FROM pd JOIN n nq ON nq.vec_id = query_id
      JOIN n nc ON nc.vec_id = cand_id
    )
    SELECT query_id, cand_id, cosine,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= {k}
    """


@query("sim_ivf_ann", oracle=_ivf_oracle())
def sim_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return SIM.ivf_ann_topk(emb, k=3, n_centroids=N_CENTROIDS, n_queries=N_QUERIES)


# ---------------------------------------------------------------------------
# Per-label embedding centroids: element-wise mean of every vector in a
# label class — the E-step aggregate of distributed k-means and the
# building block for real (trained-centroid) IVF indexes. posexplode →
# groupBy (label, dim) is fully map-side-combinable: each partition
# pre-sums locally and only |labels|·|dims| rows ever shuffle,
# regardless of corpus size. Integer-quanta mean, bit-exact vs the
# oracle.
# ---------------------------------------------------------------------------
from blockchain_data_engineering_spark.plans.parity import davg, davg_sql  # noqa: E402


@query(
    "emb_label_centroids",
    oracle=f"""
    SELECT label,
           CAST(i - 1 AS INTEGER) AS dim,
           {davg_sql('CAST(embedding[i] AS DOUBLE)', 9)} AS centroid
    FROM embeddings, generate_series(1, {DIM}) AS t(i)
    GROUP BY 1, 2
    """,
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", F.col("dim").cast("int").alias("dim"))
        .agg(davg(F.col("v").cast("double"), 9).alias("centroid"))
    )


# ---------------------------------------------------------------------------
# Multi-table sign-LSH ANN: union of candidates from L independent
# m-bit hash tables, dedup, exact cosine — the E2LSH recall
# amplification (single-table 8-bit recall@3 is 0.02 on the fixture;
# L=16 × m=4 measures 0.92 — tests/test_similarity_recall.py pins the
# floor). One (tbl, bucket) join; candidates scale with collisions,
# not N²; m grows with log N at scale, L dials recall linearly in cost.
# ---------------------------------------------------------------------------
LSH_TABLES = 16
LSH_TABLE_PLANES = 4


def _lsh_multitable_oracle() -> str:
    k = 3
    total = LSH_TABLES * LSH_TABLE_PLANES
    q_emb = quanta_sql("CAST(embedding[i] AS DOUBLE)", 12)
    sign = (
        "CASE WHEN substr(md5(CAST(j AS VARCHAR) || '_' || CAST(i - 1 AS VARCHAR)), 1, 1)"
        " IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1 ELSE -1 END"
    )
    table_rows = "\n      UNION ALL ".join(
        "SELECT vec_id, {t} AS tbl, {expr} AS bucket FROM bits GROUP BY vec_id".format(
            t=t,
            expr=" || ".join(
                f"max(CASE WHEN j = {t * LSH_TABLE_PLANES + j} THEN bit END)"
                for j in range(LSH_TABLE_PLANES)
            ),
        )
        for t in range(LSH_TABLES)
    )
    dot_q = quanta_sql(
        "CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)", 12
    )
    return f"""
    WITH comps AS (
      SELECT vec_id, i, {q_emb} AS q
      FROM embeddings, generate_series(1, {DIM}) AS t(i)
    ),
    proj AS (
      SELECT vec_id, j,
             sum(CASE WHEN {sign} = 1 THEN q ELSE -q END) AS p
      FROM comps, generate_series(0, {total - 1}) AS pl(j)
      GROUP BY 1, 2
    ),
    bits AS (
      SELECT vec_id, j, CASE WHEN p >= 0 THEN '1' ELSE '0' END AS bit FROM proj
    ),
    buckets AS (
      {table_rows}
    ),
    n AS (
      SELECT vec_id, CAST(sum({_NORM_Q}) AS BIGINT) AS norm_q
      FROM embeddings, generate_series(1, {DIM}) AS t(i) GROUP BY 1
    ),
    pairs AS (
      SELECT DISTINCT ba.vec_id AS query_id, bb.vec_id AS cand_id
      FROM buckets ba JOIN buckets bb
        ON ba.tbl = bb.tbl AND ba.bucket = bb.bucket AND ba.vec_id <> bb.vec_id
    ),
    dots AS (
      SELECT p.query_id, p.cand_id, CAST(sum({dot_q}) AS BIGINT) AS dot_q
      FROM pairs p
      JOIN embeddings a ON a.vec_id = p.query_id
      JOIN embeddings b ON b.vec_id = p.cand_id,
           generate_series(1, {DIM}) AS t(i)
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, cand_id,
             (CAST(dot_q AS DOUBLE) / {_SCALE})
               / (sqrt(CAST(nq.norm_q AS DOUBLE) / {_SCALE})
                  * sqrt(CAST(nc.norm_q AS DOUBLE) / {_SCALE})) AS cosine
      FROM dots
      JOIN n nq ON nq.vec_id = query_id
      JOIN n nc ON nc.vec_id = cand_id
    )
    SELECT query_id, cand_id, cosine,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= {k}
    """


@query("sim_lsh_ann_multitable", oracle=_lsh_multitable_oracle())
def sim_lsh_ann_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return SIM.lsh_ann_topk_multitable(
        emb, k=3, n_tables=LSH_TABLES, n_planes=LSH_TABLE_PLANES
    )


# ---------------------------------------------------------------------------
# k-means centroid training (Lloyd, 2 unrolled iterations) — iterative
# ML as DataFrame plans with a bit-exact SQL oracle: integer-quanta
# squared-L2 assignment (argmin, cid tie-break) and round-half-up
# integer mean updates, so Spark and DuckDB agree cell-for-cell. The
# trained centroids are what a production IVF uses in place of the
# hash-sampled seeds (drop-in: same join shape, better recall). The
# training CTEs open the trained-IVF, SemDeDup and cluster-quality
# oracles below.
# ---------------------------------------------------------------------------
KM_K = 8
KM_ITERS = 2
_KM_SCALE = 10**6
_KM_OFF = 10**6


def _kmeans_oracle() -> str:
    vq = (
        f"CAST(floor(CAST(embedding[i] AS DOUBLE) * {_KM_SCALE} + 0.5) AS BIGINT)"
    )
    # pure integer round-half-up mean (// is BIGINT division in DuckDB,
    # mirroring Spark's `div` — exact at any cluster size, unlike
    # floor-of-double-division which degrades past 2^53)
    mean_cq = (
        f"CAST((2 * sum(v.vq + {_KM_OFF}) + count(*))"
        f" // (2 * count(*)) - {_KM_OFF} AS BIGINT)"
    )
    iters = []
    prev = "c0"
    for it in range(1, KM_ITERS + 1):
        iters.append(f"""
    d{it} AS (
      SELECT v.vec_id, c.cid, sum((v.vq - c.cq) * (v.vq - c.cq)) AS d2
      FROM v JOIN {prev} c USING (dim0) GROUP BY 1, 2
    ),
    a{it} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d{it}
      ) WHERE rn = 1
    ),
    c{it} AS (
      SELECT a.cid, v.dim0, {mean_cq} AS cq
      FROM v JOIN a{it} a USING (vec_id) GROUP BY 1, 2
    )""")
        prev = f"c{it}"
    return f"""
    WITH v AS (
      SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim0, {vq} AS vq
      FROM embeddings, generate_series(1, {DIM}) AS t(i)
    ),
    seeds AS (
      SELECT vec_id,
             CAST(row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INTEGER) AS cid
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {KM_K}
    ),
    c0 AS (
      SELECT s.cid, v.dim0, v.vq AS cq FROM v JOIN seeds s USING (vec_id)
    ),{",".join(iters)}
    SELECT cid, dim0, cq FROM {prev}
    """


# ---------------------------------------------------------------------------
# IVF over the TRAINED centroids: the full production ANN story in one
# oracle-paired query — train the coarse quantizer (2 Lloyd
# iterations, bit-exact), assign the corpus, probe the query's nprobe
# nearest clusters, exact-cosine rerank within candidates. The oracle
# replays every stage (k-means CTEs + integer coarse scoring + 10^12
# fine scoring) in SQL.
# ---------------------------------------------------------------------------
def _ivf_trained_oracle(nprobe: int = 2, k: int = 3) -> str:
    km = _kmeans_oracle().strip()
    assert km.startswith("WITH "), km[:20]
    km_body = km[len("WITH "):]
    # strip the kmeans final SELECT, keep its CTE chain
    km_ctes = km_body.rsplit("SELECT cid, dim0, cq FROM", 1)[0].rstrip().rstrip(",")
    dot12 = quanta_sql(
        "CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)", 12
    )
    return f"""
    WITH {km_ctes},
    cn AS (SELECT cid, sum(cq * cq) AS cnorm FROM c{KM_ITERS} GROUP BY 1),
    vn AS (SELECT vec_id, sum(vq * vq) AS vnorm FROM v GROUP BY 1),
    vc AS (
      SELECT v.vec_id, c.cid, sum(v.vq * c.cq) AS dot6
      FROM v JOIN c{KM_ITERS} c USING (dim0) GROUP BY 1, 2
    ),
    ranked AS (
      SELECT vc.vec_id, vc.cid,
             row_number() OVER (
               PARTITION BY vc.vec_id
               ORDER BY CAST(dot6 AS DOUBLE)
                          / (sqrt(CAST(vnorm AS DOUBLE))
                             * sqrt(CAST(cnorm AS DOUBLE))) DESC,
                        vc.cid) AS pr
      FROM vc JOIN vn USING (vec_id) JOIN cn USING (cid)
    ),
    assign AS (SELECT vec_id, cid FROM ranked WHERE pr = 1),
    probes AS (
      SELECT vec_id AS query_id, cid FROM ranked
      WHERE pr <= {nprobe} AND vec_id < {N_QUERIES}
    ),
    cand AS (
      SELECT p.query_id, a.vec_id AS cand_id
      FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
    ),
    n12 AS (
      SELECT vec_id, CAST(sum({_NORM_Q}) AS BIGINT) AS norm_q
      FROM embeddings, generate_series(1, {DIM}) AS t(i) GROUP BY 1
    ),
    dots AS (
      SELECT cd.query_id, cd.cand_id, CAST(sum({dot12}) AS BIGINT) AS dot_q
      FROM cand cd
      JOIN embeddings a ON a.vec_id = cd.query_id
      JOIN embeddings b ON b.vec_id = cd.cand_id,
           generate_series(1, {DIM}) AS t(i)
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, cand_id,
             (CAST(dot_q AS DOUBLE) / {_SCALE})
               / (sqrt(CAST(nq.norm_q AS DOUBLE) / {_SCALE})
                  * sqrt(CAST(nc.norm_q AS DOUBLE) / {_SCALE})) AS cosine
      FROM dots
      JOIN n12 nq ON nq.vec_id = query_id
      JOIN n12 nc ON nc.vec_id = cand_id
    )
    SELECT query_id, cand_id, cosine,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= {k}
    """


@query("sim_ivf_ann_trained", oracle=_ivf_trained_oracle())
def sim_ivf_ann_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    cent = SIM.kmeans_centroids_quantized(emb, k=KM_K, iterations=KM_ITERS)
    return SIM.ivf_ann_topk_trained(
        emb, cent, k=3, n_queries=N_QUERIES, nprobe=2
    )


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023): k-means cluster the embedding space,
# drop any vector whose exact cosine with a lower-id member of the
# same cluster reaches τ. The oracle replays the full stage chain —
# k-means training CTEs, integer-L2 final assignment, intra-cluster
# pair join, 10^12-quanta cosine, anti-join — in SQL.
#
# τ = 0.3 here: the synthetic embeddings are near-orthogonal (p99.9
# intra-cluster cosine ≈ 0.40), so a production τ (≈ 0.95) would drop
# nothing and leave the drop branch untested. The operator default
# (0.85) is the realistic setting; the gate pins a fixture-meaningful
# value so both kept and dropped paths are hash-compared.
# ---------------------------------------------------------------------------
SEM_TAU = 0.3


def _semantic_dedup_oracle() -> str:
    km = _kmeans_oracle().strip()
    km_body = km[len("WITH "):]
    km_ctes = km_body.rsplit("SELECT cid, dim0, cq FROM", 1)[0].rstrip().rstrip(",")
    dot12 = quanta_sql(
        "CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)", 12
    )
    return f"""
    WITH {km_ctes},
    df AS (
      SELECT v.vec_id, c.cid, sum((v.vq - c.cq) * (v.vq - c.cq)) AS d2
      FROM v JOIN c{KM_ITERS} c USING (dim0) GROUP BY 1, 2
    ),
    af AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM df
      ) WHERE rn = 1
    ),
    pr AS (
      SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b
      FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
    ),
    n12 AS (
      SELECT vec_id, CAST(sum({_NORM_Q}) AS BIGINT) AS norm_q
      FROM embeddings, generate_series(1, {DIM}) AS t(i) GROUP BY 1
    ),
    dots AS (
      SELECT p.id_a, p.id_b, CAST(sum({dot12}) AS BIGINT) AS dot_q
      FROM pr p
      JOIN embeddings a ON a.vec_id = p.id_a
      JOIN embeddings b ON b.vec_id = p.id_b,
           generate_series(1, {DIM}) AS t(i)
      GROUP BY 1, 2
    ),
    dropped AS (
      SELECT DISTINCT d.id_b AS vec_id
      FROM dots d
      JOIN n12 na ON na.vec_id = d.id_a
      JOIN n12 nb ON nb.vec_id = d.id_b
      WHERE (CAST(dot_q AS DOUBLE) / {_SCALE})
              / (sqrt(CAST(na.norm_q AS DOUBLE) / {_SCALE})
                 * sqrt(CAST(nb.norm_q AS DOUBLE) / {_SCALE})) >= {SEM_TAU}
    )
    SELECT a.vec_id, a.cid, (dr.vec_id IS NULL) AS kept
    FROM af a LEFT JOIN dropped dr USING (vec_id)
    """


@query("sim_semantic_dedup", oracle=_semantic_dedup_oracle())
def sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    cent = SIM.kmeans_centroids_quantized(emb, k=KM_K, iterations=KM_ITERS)
    return SIM.semantic_dedup(emb, cent, threshold=SEM_TAU)


# ---------------------------------------------------------------------------
# Product-quantization ANN (Jégou et al. 2011): train per-subspace
# codebooks (all subspaces in ONE Lloyd program), encode the corpus as
# n_sub codeword ids, score queries by Asymmetric Distance Computation
# over a broadcast lookup table. Pure integers end-to-end; the oracle
# replays training, encoding, and ADC scoring.
# ---------------------------------------------------------------------------
PQ_SUB = 4
PQ_K = 8
PQ_ITERS = 2
PQ_RERANK = 50
_PQ_DSUB = DIM // PQ_SUB


def _pq_oracle(k: int = 3) -> str:
    vq = (
        f"CAST(floor(CAST(embedding[i] AS DOUBLE) * {_KM_SCALE} + 0.5) AS BIGINT)"
    )
    mean_cq = (
        f"CAST((2 * sum(vs.vq + {_KM_OFF}) + count(*))"
        f" // (2 * count(*)) - {_KM_OFF} AS BIGINT)"
    )
    iters = []
    prev = "c0"
    for it in range(1, PQ_ITERS + 1):
        iters.append(f"""
    d{it} AS (
      SELECT vs.vec_id, vs.sub, c.cid,
             sum((vs.vq - c.cq) * (vs.vq - c.cq)) AS d2
      FROM vs JOIN {prev} c ON c.sub = vs.sub AND c.dl = vs.dl
      GROUP BY 1, 2, 3
    ),
    a{it} AS (
      SELECT vec_id, sub, cid FROM (
        SELECT vec_id, sub, cid,
               row_number() OVER (
                 PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
        FROM d{it}
      ) WHERE rn = 1
    ),
    c{it} AS (
      SELECT a.cid, vs.sub, vs.dl, {mean_cq} AS cq
      FROM vs JOIN a{it} a ON a.vec_id = vs.vec_id AND a.sub = vs.sub
      GROUP BY 1, 2, 3
    )""")
        prev = f"c{it}"
    return f"""
    WITH v AS (
      SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim0, {vq} AS vq
      FROM embeddings, generate_series(1, {DIM}) AS t(i)
    ),
    vs AS (
      SELECT vec_id,
             CAST(dim0 // {_PQ_DSUB} AS INTEGER) AS sub,
             CAST(dim0 % {_PQ_DSUB} AS INTEGER) AS dl,
             vq
      FROM v
    ),
    seeds AS (
      SELECT vec_id,
             CAST(row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INTEGER) AS cid
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {PQ_K}
    ),
    c0 AS (
      SELECT s.cid, vs.sub, vs.dl, vs.vq AS cq
      FROM vs JOIN seeds s USING (vec_id)
    ),{",".join(iters)},
    df AS (
      SELECT vs.vec_id, vs.sub, c.cid,
             sum((vs.vq - c.cq) * (vs.vq - c.cq)) AS d2
      FROM vs JOIN {prev} c ON c.sub = vs.sub AND c.dl = vs.dl
      GROUP BY 1, 2, 3
    ),
    af AS (
      SELECT vec_id AS cand_id, sub, cid FROM (
        SELECT vec_id, sub, cid,
               row_number() OVER (
                 PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
        FROM df
      ) WHERE rn = 1
    ),
    qt AS (
      SELECT vec_id AS query_id, sub, cid, d2 FROM df
      WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT q.query_id, a.cand_id, CAST(sum(q.d2) AS BIGINT) AS adc_d2
      FROM af a JOIN qt q ON q.sub = a.sub AND q.cid = a.cid
      WHERE a.cand_id <> q.query_id
      GROUP BY 1, 2
    ),
    shortlist AS (
      SELECT query_id, cand_id FROM scored
      QUALIFY row_number() OVER (
        PARTITION BY query_id ORDER BY adc_d2, cand_id) <= {PQ_RERANK}
    ),
    reranked AS (
      SELECT s.query_id, s.cand_id,
             CAST(sum(
               (qv.vq - cv.vq) * (qv.vq - cv.vq)
             ) AS BIGINT) AS d2_q
      FROM shortlist s
      JOIN v qv ON qv.vec_id = s.query_id
      JOIN v cv ON cv.vec_id = s.cand_id AND cv.dim0 = qv.dim0
      GROUP BY 1, 2
    )
    SELECT query_id, cand_id, d2_q,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY d2_q, cand_id) AS INTEGER) AS rank
    FROM reranked
    QUALIFY rank <= {k}
    """


@query("sim_pq_ann", oracle=_pq_oracle())
def sim_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return SIM.pq_ann_topk(
        emb,
        n_sub=PQ_SUB,
        k_code=PQ_K,
        iterations=PQ_ITERS,
        k=3,
        n_queries=N_QUERIES,
        rerank_top=PQ_RERANK,
    )


# ---------------------------------------------------------------------------
# JL random projection: 64→8-dim Rademacher sign projection — the
# dimensionality-reduction front end (8× smaller vectors for every
# downstream shuffle/dot product). The oracle replays the md5-derived
# sign matrix and the exact-quanta component sums.
# ---------------------------------------------------------------------------
RP_DIM = 8


@query(
    "emb_random_projection",
    oracle=f"""
    WITH comps AS (
      SELECT vec_id, i, {quanta_sql("CAST(embedding[i] AS DOUBLE)", 12)} AS q
      FROM embeddings, generate_series(1, {DIM}) AS t(i)
    )
    SELECT vec_id, j,
           CAST(sum(CASE WHEN substr(md5(CAST(j AS VARCHAR) || '_'
                      || CAST(i - 1 AS VARCHAR)), 1, 1)
                      IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f')
                 THEN q ELSE -q END) AS DOUBLE) / {_SCALE} AS comp
    FROM comps, generate_series(0, {RP_DIM - 1}) AS pl(j)
    GROUP BY 1, 2
    """,
)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return SIM.random_projection_quantized(emb, out_dim=RP_DIM)


# ---------------------------------------------------------------------------
# Per-cluster quality aggregation: the SemDeDup-then-filter composition
# a production curation pipeline runs — k-means cluster the embedding
# space (same trained centroids as sim_ivf_ann_trained), assign every
# embedded document to its final cluster, join the per-document quality
# scores, and aggregate per cluster. The output is the curation
# decision table: clusters with low avg quality / low high-quality
# share get down-sampled or dropped wholesale (cluster-level pruning is
# ~k decisions instead of N — the reason SemDeDup clusters first).
#
# Join key: the embedded corpus slice shares ids with documents
# (vec_id = doc_id); the trained-classifier scores
# (text_quality_classifier) drop in at the same join, the heuristic
# score keeps the oracle one CTE instead of a GD-unroll. avg_quality
# uses integer-quanta summation (davg) — order-independent, so the
# cluster means hash-match bit-for-bit.
# ---------------------------------------------------------------------------
CLUSTER_Q_HIGH = 60.0


def _cluster_quality_oracle() -> str:
    from blockchain_data_engineering_spark.plans.parity import davg_sql
    from blockchain_data_engineering_spark.plans.text_queries import (
        QUALITY_SCORE_SQL,
        quality_feats_sql,
    )

    km = _kmeans_oracle().strip()
    km_body = km[len("WITH "):]
    km_ctes = km_body.rsplit("SELECT cid, dim0, cq FROM", 1)[0].rstrip().rstrip(",")
    return f"""
    WITH {km_ctes},
    dfin AS (
      SELECT v.vec_id, c.cid, sum((v.vq - c.cq) * (v.vq - c.cq)) AS d2
      FROM v JOIN c{KM_ITERS} c USING (dim0) GROUP BY 1, 2
    ),
    afin AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM dfin
      ) WHERE rn = 1
    ),
    feats AS (
      {quality_feats_sql()}
    ),
    q AS (SELECT doc_id, {QUALITY_SCORE_SQL} AS quality_score FROM feats)
    SELECT a.cid,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN q.quality_score >= {CLUSTER_Q_HIGH}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           CAST(sum(CASE WHEN q.quality_score >= {CLUSTER_Q_HIGH}
                         THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS high_share,
           {davg_sql("q.quality_score", 6)} AS avg_quality
    FROM afin a JOIN q ON q.doc_id = a.vec_id
    GROUP BY 1
    """


@query("pipeline_cluster_quality", oracle=_cluster_quality_oracle())
def pipeline_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blockchain_data_engineering_spark.operators import text as TX
    from blockchain_data_engineering_spark.plans.parity import davg

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    docs = spread(load_table(spark, sf_dir, "documents"))
    cent = SIM.kmeans_centroids_quantized(emb, k=KM_K, iterations=KM_ITERS)
    assign = SIM.kmeans_assign(emb, cent)
    quality = TX.quality_score(docs).select(
        F.col("doc_id").alias("vec_id"), "quality_score"
    )
    high = (F.col("quality_score") >= CLUSTER_Q_HIGH).cast("long")
    return (
        assign.join(quality, "vec_id")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(high).cast("long").alias("n_high"),
            davg(F.col("quality_score"), 6).alias("avg_quality"),
        )
        .select(
            "cid",
            "n_docs",
            "n_high",
            (F.col("n_high").cast("double") / F.col("n_docs").cast("double")).alias(
                "high_share"
            ),
            "avg_quality",
        )
    )


# ---------------------------------------------------------------------------
# int8 embedding quantization (r6): the symmetric per-vector SQ8
# format vector stores ship (FAISS SQ8 / pgvector int8) — 4× smaller
# than float32, ADC-compatible with the IVF/PQ search path above.
# Relational output grain (id, dim_idx, q8, scale) keeps it exactly
# oracle-checkable; engine-exact because the quantizer is one fixed
# IEEE expression tree over float32 inputs widened to double, and the
# +0.5-then-floor idiom rounds half-up identically everywhere (see
# operators/similarity.quantize_int8). One narrow projection — no
# shuffle, no UDF — so it streams at any corpus size.
# ---------------------------------------------------------------------------
@query(
    "emb_int8_quantize",
    oracle="""
    WITH base AS (
      SELECT vec_id,
             embedding,
             CAST(list_max(list_transform(embedding, x -> abs(x)))
                  AS DOUBLE) AS scale
      FROM embeddings
    ),
    exploded AS (
      SELECT vec_id, scale, embedding,
             unnest(generate_series(1, len(embedding))) AS i
      FROM base
    )
    SELECT vec_id AS id,
           CAST(i - 1 AS INTEGER) AS dim_idx,
           CAST(CASE WHEN scale = 0 THEN 0
                     ELSE floor(CAST(embedding[i] AS DOUBLE) / scale
                                * 127.0 + 0.5) END AS INTEGER) AS q8,
           scale
    FROM exploded
    """,
)
def emb_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.quantize_int8(emb)
