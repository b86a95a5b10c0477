"""Similarity search over embedding columns (SURVEY §7.2 M5 /
BASELINE.json north star): brute-force cosine top-k as the correctness
baseline, sign-random-projection LSH bucketing as the scale path.

Exactness contract: dot products and norms are computed as sums of
integer *quanta* (each per-position product floored at 10^-12) — sums
of BIGINTs are order-independent, so cosine values are bit-identical
across engines, partitionings, and runs. The quantization error
(≤ 6.4e-11 for 64 dims) is far below any meaningful similarity
threshold.

Scale notes: brute force is O(Q·N·d) — fine for small query sets or
reranking; the LSH path buckets vectors by an 8-bit sign signature so
the candidate join only compares colliding buckets (≈ N²/256 pairs for
uniform data, tunable by signature width). For a production ANN at
100 TB you'd add multi-probe + IVF coarse quantization on top; the
bucket-join skeleton is the same.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from blockchain_data_engineering_spark.cache import finalize, next_round
from blockchain_data_engineering_spark.functions.scalar import bounded_window_key

QUANTA_DIGITS = 12
_SCALE = float(10**QUANTA_DIGITS)


def _q(x: Column) -> Column:
    """Integer quanta of a double (see plans.parity)."""
    return F.floor(x * F.lit(_SCALE) + F.lit(0.5)).cast("long")


def dot_quanta(a: Column, b: Column) -> Column:
    """Exact-integer dot product of two float vectors (BIGINT)."""
    prods = F.zip_with(
        a, b, lambda x, y: _q(x.cast("double") * y.cast("double"))
    )
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x)


def norm_quanta(a: Column) -> Column:
    """Exact-integer squared norm (BIGINT quanta)."""
    prods = F.transform(a, lambda x: _q(x.cast("double") * x.cast("double")))
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x)


def cosine_from_quanta(dot_q: Column, norm_a_q: Column, norm_b_q: Column) -> Column:
    """cosine = dot / (|a|·|b|) from integer quanta — one division of
    deterministic doubles.

    Zero-norm vectors (padding rows, failed embeds) yield NULL, not
    0/0 = NaN: Spark and DuckDB both sort NaN ABOVE every real double,
    so an unguarded all-zero embedding would become the rank-1
    "neighbor" of every query in each top-k path; NULL sorts last
    under the ``desc`` rankings instead. (Oracle SQL keeps the plain
    division — the fixtures contain no zero vectors, and real-data
    defense belongs engine-side.)"""
    cos = (dot_q.cast("double") / F.lit(_SCALE)) / (
        F.sqrt(norm_a_q.cast("double") / F.lit(_SCALE))
        * F.sqrt(norm_b_q.cast("double") / F.lit(_SCALE))
    )
    return F.when((norm_a_q > 0) & (norm_b_q > 0), cos)


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("norm_q", norm_quanta(F.col(vec_col)))


def _require_numeric_id(df: DataFrame, id_col: str) -> None:
    """Fail loudly when an ``id < n_queries`` selector would silently
    null-coerce (see ivf_ann_topk / ivf_ann_topk_trained)."""
    from pyspark.sql import types as T

    dtype = df.schema[id_col].dataType
    if not isinstance(dtype, T.NumericType):
        raise TypeError(
            f"id column '{id_col}' must be numeric for n_queries "
            f"selection, got {dtype.simpleString()}"
        )


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    candidate scan, rank per query. Candidates never shuffle until the
    final per-query rank (one shuffle on query_id)."""
    q = with_norm(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        "q_vec",
    ).withColumnRenamed("norm_q", "q_norm_q")
    c = with_norm(
        candidates.select(
            F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec")
        ),
        "c_vec",
    ).withColumnRenamed("norm_q", "c_norm_q")

    pairs = F.broadcast(q).crossJoin(c).where(F.col("query_id") != F.col("cand_id"))
    scored = pairs.select(
        "query_id",
        "cand_id",
        cosine_from_quanta(
            dot_quanta(F.col("q_vec"), F.col("c_vec")),
            F.col("q_norm_q"),
            F.col("c_norm_q"),
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def _plane_sign(j: int, i: int) -> int:
    """+1/−1 from the first hex digit of md5(f"{j}_{i}") — computed in
    Python here and by the same md5 rule in the SQL oracle."""
    import hashlib

    d = hashlib.md5(f"{j}_{i}".encode()).hexdigest()[0]
    return 1 if d in "89abcdef" else -1


def plane_signs(n_planes: int = 8, dim: int = 64) -> list[list[int]]:
    return [[_plane_sign(j, i) for i in range(dim)] for j in range(n_planes)]


def sign_lsh_buckets(
    vectors: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, norm_q, bucket) for every vector: the sign-random-projection
    LSH bucket id as a bit string. Hyperplane j is a Rademacher (±1)
    vector whose sign at position i is derived from md5(f"{j}_{i}") —
    deterministic, engine-portable, and a valid LSH family for cosine
    similarity.

    One ``posexplode`` + one hash-aggregate computes all ``n_planes``
    signed projections AND the squared norm in a single codegen'd pass:
    each projection is ``sum(sign(j,i) * quanta(x_i))`` with the
    Rademacher sign looked up from a per-plane literal array. The shape
    stays in whole-stage codegen end to end: a per-row column form (a
    512-term ``aggregate()`` higher-order expression, interpreted per
    row) measured ~20x slower for the same BIGINT quanta sums."""
    signs = plane_signs(n_planes, dim)
    x = F.col("x").cast("double")
    ex = vectors.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("i0", "x"),
    ).select(id_col, "i0", _q(x * x).alias("qq"), _q(x).alias("qx"))
    aggs = [F.sum("qq").alias("norm_q")]
    for j in range(n_planes):
        sign_j = F.array(*[F.lit(s) for s in signs[j]])
        aggs.append(
            F.sum(F.element_at(sign_j, F.col("i0") + 1) * F.col("qx")).alias(f"p{j}")
        )
    proj = ex.groupBy(id_col).agg(*aggs)
    bucket = F.concat(
        *[
            F.when(F.col(f"p{j}") >= 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(n_planes)
        ]
    )
    return proj.select(id_col, "norm_q", bucket.alias("bucket"))


def lsh_ann_topk(
    vectors: DataFrame,
    k: int = 3,
    n_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k neighbors: bucket by sign-LSH signature, exact
    cosine *within* buckets only (the scale path: the join is on the
    bucket key, never all-pairs).

    A single table has LOW RECALL (measured 0.02 recall@3 at 8 planes
    on the 500-vector fixture — a true neighbor must agree on every
    bit): use :func:`lsh_ann_topk_multitable` (measured 0.92 at
    L=16 × m=4) unless you specifically want a coarse partitioner."""
    bucketed = vectors.select(id_col, vec_col).join(
        sign_lsh_buckets(vectors, n_planes, dim, vec_col, id_col), id_col
    )
    a = bucketed.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("norm_q").alias("q_norm_q"),
        "bucket",
    )
    b = bucketed.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("norm_q").alias("c_norm_q"),
        "bucket",
    )
    pairs = a.join(b, "bucket").where(F.col("query_id") != F.col("cand_id"))
    scored = pairs.select(
        "query_id",
        "cand_id",
        cosine_from_quanta(
            dot_quanta(F.col("q_vec"), F.col("c_vec")),
            F.col("q_norm_q"),
            F.col("c_norm_q"),
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def ivf_assign(
    vectors: DataFrame,
    n_centroids: int = 32,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest
    centroid (exact-quanta cosine, deterministic tie-break).

    Centroids are a FIXED-SIZE deterministic sample: the ``n_centroids``
    vectors with the smallest ``md5(id)`` — a uniform hash-order pick,
    reproducible in any engine, and crucially **independent of corpus
    size** (selection is a TakeOrderedAndProject: O(N) scan, O(k)
    result, no shuffle). Assignment is then a broadcast join of O(k)
    centroids against the corpus scan — O(N·k) work total, so the plan
    survives a 100× corpus unchanged, unlike any scheme whose centroid
    count grows with N (which degrades toward O(N²)). In production,
    k-means centroids drop in without changing the join shape; for
    large k, two-level coarse quantization (assign to √k superclusters
    first) keeps the broadcast bounded.
    """
    return ivf_probe(vectors, n_centroids, 1, vec_col, id_col).select(
        id_col, "centroid_id"
    )


def ivf_probe(
    vectors: DataFrame,
    n_centroids: int = 32,
    nprobe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, centroid_id, probe_rank): each vector's ``nprobe`` nearest
    centroids among the fixed-k hash-sampled centroid set (see
    :func:`ivf_assign` for why k must not scale with N). ``nprobe=1``
    is the coarse assignment; probing further centroids for the *query*
    side is the recall dial — true neighbors straddle cluster
    boundaries, and the second-closest centroid holds most of what
    nprobe=1 misses. Broadcast centroid join: the corpus never
    shuffles."""
    v = with_norm(vectors.select(id_col, vec_col), vec_col)
    cents = (
        # exactly k rows regardless of N: k-smallest md5(id), id tie-break
        v.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("c_vec"),
            F.col("norm_q").alias("c_norm_q"),
        )
    )
    scored = v.crossJoin(F.broadcast(cents)).select(
        id_col,
        "centroid_id",
        cosine_from_quanta(
            dot_quanta(F.col(vec_col), F.col("c_vec")),
            F.col("norm_q"),
            F.col("c_norm_q"),
        ).alias("c_cos"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("c_cos").desc(), F.col("centroid_id")
    )
    return (
        scored.withColumn("probe_rank", F.row_number().over(w))
        .where(F.col("probe_rank") <= nprobe)
        .select(id_col, "centroid_id", "probe_rank")
    )


def ivf_ann_topk(
    vectors: DataFrame,
    k: int = 3,
    n_centroids: int = 32,
    n_queries: int = 10,
    nprobe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN: exact cosine only within the query's ``nprobe`` nearest
    clusters. The candidate join is on centroid_id — candidates scale
    with nprobe × cluster size, never N². Corpus vectors keep their
    single (nprobe=1) assignment; only the query side probes wider,
    and each candidate appears once (one home cluster), so no dedup is
    needed.

    ``n_queries`` selects queries as ``id < n_queries`` and therefore
    REQUIRES a numeric id column — on string ids Spark would coerce to
    null and silently return an empty result, so that is rejected
    loudly here."""
    _require_numeric_id(vectors, id_col)
    # ONE ranked centroid pass serves both sides: rank-1 rows are the
    # corpus assignment, rank ≤ nprobe rows restricted to the query ids
    # are the probe set (centroids always come from the full corpus).
    ranked = ivf_probe(vectors, n_centroids, nprobe, vec_col, id_col)
    assign = ranked.where(F.col("probe_rank") == 1).select(id_col, "centroid_id")
    probes = ranked.where(F.col(id_col) < n_queries).select(id_col, "centroid_id")
    v = with_norm(vectors.select(id_col, vec_col), vec_col)
    q = (
        v.where(F.col(id_col) < n_queries)
        .join(probes, id_col)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            F.col("norm_q").alias("q_norm_q"),
            "centroid_id",
        )
    )
    c = v.join(assign, id_col).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("norm_q").alias("c_norm_q"),
        "centroid_id",
    )
    pairs = q.join(c, "centroid_id").where(F.col("query_id") != F.col("cand_id"))
    scored = pairs.select(
        "query_id",
        "cand_id",
        cosine_from_quanta(
            dot_quanta(F.col("q_vec"), F.col("c_vec")),
            F.col("q_norm_q"),
            F.col("c_norm_q"),
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def sign_lsh_buckets_multitable(
    vectors: DataFrame,
    n_tables: int = 8,
    n_planes: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, tbl, bucket): ``n_tables`` independent sign-LSH signatures
    per vector, all computed in the SAME single posexplode +
    hash-aggregate pass as :func:`sign_lsh_buckets` (n_tables·n_planes
    projection sums instead of n_planes — still one shuffle, still
    whole-stage codegen). Table t uses global plane indices
    ``t·n_planes + j``, so the Rademacher family is shared with the
    single-table form and the SQL oracle.
    """
    total = n_tables * n_planes
    signs = plane_signs(total, dim)
    proj = vectors.select(
        F.col(id_col),
        _sign_projections_udf(signs)(F.col(vec_col)).alias("p"),
    )
    tables = []
    for t in range(n_tables):
        bucket = F.concat(
            *[
                F.when(
                    F.element_at("p", t * n_planes + j + 1) >= 0, F.lit("1")
                ).otherwise(F.lit("0"))
                for j in range(n_planes)
            ]
        )
        tables.append(
            F.struct(F.lit(t).alias("tbl"), bucket.alias("bucket"))
        )
    return proj.select(
        id_col, F.explode(F.array(*tables)).alias("tb")
    ).select(id_col, "tb.tbl", "tb.bucket")


def _sign_projections_udf(signs: list[list[int]]):
    """Arrow-vectorized kernel computing ALL signed projections of one
    vector batch as a single int64 matmul: p = S · q(x), where
    q(x_i) = floor(x_i·10¹² + 0.5) is the same BIGINT quanta the
    column-expression form uses, and S is the ±1 Rademacher matrix.
    int64 matmul is exact, so the result is bit-identical to the
    64-aggregate codegen shape — but one numpy GEMM per Arrow batch
    instead of |dims|·|planes| per-row array lookups (the aggregate
    form spent seconds in codegen for 2k vectors; this is sub-ms).

    Vector math is the sanctioned pandas-UDF exception to the
    no-Python-on-relational-paths rule (tests/test_plans.py): the
    semantics (dense GEMM) have no efficient Catalyst expression.
    """
    s_mat = np.asarray(signs, dtype=np.int64).T  # [dim, total]

    @pandas_udf("array<long>")
    def proj(v: pd.Series) -> pd.Series:
        x = np.stack(v.to_numpy()).astype(np.float64)  # [n, dim]
        qx = np.floor(x * _SCALE + 0.5).astype(np.int64)
        return pd.Series(list(qx @ s_mat))

    return proj


def dot_quanta_pandas():
    """Arrow-vectorized exact-integer dot product over two array
    columns: per-position double products quantized exactly as
    :func:`dot_quanta` (floor(x·y·10¹² + 0.5) in float64 — IEEE
    semantics identical between the JVM and numpy), summed in int64.
    Bit-identical to the codegen component join but with NO
    posexplode/shuffle: pairs pick up both arrays via (AQE-broadcast)
    joins and the dot is computed map-side, one numpy pass per batch.
    """
    @pandas_udf("long")
    def dot_q(a: pd.Series, b: pd.Series) -> pd.Series:
        xa = np.stack(a.to_numpy()).astype(np.float64)
        xb = np.stack(b.to_numpy()).astype(np.float64)
        return pd.Series(
            np.floor(xa * xb * _SCALE + 0.5).astype(np.int64).sum(axis=1)
        )

    return dot_q


def lsh_ann_topk_multitable(
    vectors: DataFrame,
    k: int = 3,
    n_tables: int = 8,
    n_planes: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Multi-table sign-LSH ANN: candidates are the UNION over
    ``n_tables`` hash tables of same-bucket pairs, deduplicated, then
    scored with exact cosine — the classic E2LSH recall amplification
    (P[candidate] = 1-(1-p^m)^L vs the single table's p^m; measured
    recall@3 on the 500-vector fixture: 0.02 single-table 8-bit →
    ~0.9 at L=16, m=4 — see tests/test_similarity_recall.py).

    Scale shape: ONE join on the (tbl, bucket) key — candidate volume
    is Σ per-bucket C(n,2) summed over tables, never N² *asymptotically*
    (m must grow with log N to keep buckets bounded; at the tiny test
    fixtures these recall-tuned params actually generate ≥ all-pairs
    candidates — the asymptotics, not the fixture wall time, are the
    point). Pair dedup happens BEFORE scoring, so each surviving pair
    is scored once. Scoring attaches both arrays to each pair via two
    joins (AQE broadcasts the narrow array relation when it fits) and
    computes the exact-quanta dot in an Arrow-vectorized numpy kernel
    (:func:`dot_quanta_pandas`) — bit-identical to the codegen
    component join (same per-product quantization as
    :func:`dot_quanta`) but with no posexplode and no |pairs|·dim
    shuffle; measured 1.6x faster end-to-end at 2.5M candidate pairs.
    """
    # persist the bucket table: the self-join references it twice and
    # would otherwise run the full signature aggregation twice. It is
    # N·L narrow rows (id, tbl, bucket) — bounded and safe to cache.
    # Cache lifetime contract: the N·k-row result and the bucket cache
    # go to finalize — settled here with no scope open (flat-plan
    # result, bucket cache released before returning), otherwise by
    # the enclosing query's one settle.
    b = sign_lsh_buckets_multitable(
        vectors, n_tables, n_planes, dim, vec_col, id_col
    ).persist()
    pairs = (
        b.select(F.col(id_col).alias("query_id"), "tbl", "bucket")
        .join(
            b.select(F.col(id_col).alias("cand_id"), "tbl", "bucket"),
            ["tbl", "bucket"],
        )
        .where(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id")
        .distinct()
    )
    arr = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    norms = arr.select(id_col, norm_quanta(F.col("v")).alias("norm_q"))
    dot_q = dot_quanta_pandas()
    dots = (
        pairs.join(
            arr.select(F.col(id_col).alias("query_id"), F.col("v").alias("va")),
            "query_id",
        )
        .join(
            arr.select(F.col(id_col).alias("cand_id"), F.col("v").alias("vb")),
            "cand_id",
        )
        .select("query_id", "cand_id", dot_q("va", "vb").alias("dot_q"))
    )
    scored = (
        dots.join(
            norms.withColumnRenamed(id_col, "query_id").withColumnRenamed(
                "norm_q", "q_norm_q"
            ),
            "query_id",
        )
        .join(
            norms.withColumnRenamed(id_col, "cand_id").withColumnRenamed(
                "norm_q", "c_norm_q"
            ),
            "cand_id",
        )
        .select(
            "query_id",
            "cand_id",
            cosine_from_quanta(
                F.col("dot_q"), F.col("q_norm_q"), F.col("c_norm_q")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return finalize(
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank"),
        b,
    )


# ------------------------------------------------------------- k-means ---

KMEANS_DIGITS = 6
_KM_SCALE = 10**KMEANS_DIGITS
_KM_OFF = 10**KMEANS_DIGITS  # >= |vq| for unit-ish embeddings


def kmeans_centroids_quantized(
    vectors: DataFrame,
    k: int = 8,
    iterations: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Lloyd's k-means over embeddings as an iterative DataFrame loop,
    bit-exact across engines — the trained-centroid path the IVF index
    docstrings point at (vs the hash-sampled seeds of
    :func:`ivf_probe`).

    Everything is integer arithmetic on 10^6-quanta components:
    squared-L2 distances are BIGINT sums (max |vq| ~ 1.1e6 → diff² ×
    64 dims ≤ 8e13, far under 2^63), the mean update is round-half-up
    computed as ``(2·Σ(vq+OFF) + n) div (2n) − OFF`` in pure integer
    division (offset keeps the numerator positive so truncation ==
    floor in every engine, and integer `div` stays exact at any
    cluster size), and argmin ties break on centroid id.
    Deterministic seeds: the k vectors with smallest ``md5(id)``,
    numbered in that order.

    Scale shape per iteration: ONE broadcast join of the (k × dim)-row
    centroid table against the exploded vector components (assignment),
    ONE partial-aggregated shuffle keyed (cid, dim) for the update —
    O(N·k·dim) work, O(k·dim) broadcast, independent of corpus size.
    Returns long-format (cid, dim0, cq) integer-quanta centroids;
    empty clusters drop out (inner joins), matching the SQL oracle.
    """
    q6 = F.floor(
        F.col("x").cast("double") * F.lit(float(_KM_SCALE)) + F.lit(0.5)
    ).cast("long")
    # persisted: every Lloyd round references the exploded components
    # twice (assignment + mean update); released after the final
    # centroids materialize below. Co-partitioned on the vector id
    # (r11, guide §2.4): the per-round argmin groupBy(id, cid), the
    # argmin window partitionBy(id) and the mean-update join on id all
    # key on it (the centroid joins are broadcast and preserve
    # partitioning), so one exchange here removes three per round.
    v = (
        vectors.select(
            F.col(id_col), F.posexplode(F.col(vec_col)).alias("dim0", "x")
        )
        .select(id_col, "dim0", q6.alias("vq"))
        .repartition(id_col)
        .persist()
    )

    h = F.md5(F.col(id_col).cast("string"))
    seeds = (
        vectors.select(id_col)
        .orderBy(h, F.col(id_col))
        .limit(k)
        .select(
            id_col,
            F.row_number()
            # constant partition key: the frame is the k seed rows (post
            # limit), never corpus-sized — the lit(0) says so in-plan
            # instead of tripping WindowExec's global-window warning
            .over(
                Window.partitionBy(bounded_window_key(F.col(id_col))).orderBy(
                    F.md5(F.col(id_col).cast("string")), F.col(id_col)
                )
            )
            .cast("int")
            .alias("cid"),
        )
    )
    cent = v.join(seeds, id_col).select("cid", "dim0", F.col("vq").alias("cq"))

    for _ in range(iterations):
        diff = F.col("vq") - F.col("cq")
        d2 = (
            v.join(F.broadcast(cent), "dim0")
            .groupBy(id_col, "cid")
            .agg(F.sum(diff * diff).alias("d2"))
        )
        w = Window.partitionBy(id_col).orderBy("d2", "cid")
        assign = (
            d2.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(id_col, "cid")
        )
        # round-half-up integer mean in PURE integer arithmetic
        # (`div`, not floor-of-double-division — the numerator is
        # ~4.4e6 per member so a cluster past ~2e9 members would push
        # it over 2^53 and double division would lose exactness); the
        # +OFF offset keeps the numerator positive, where `div`
        # truncation == floor in both engines
        cent = next_round(
            v.join(assign, id_col)
            .groupBy("cid", "dim0")
            .agg(
                F.sum(F.col("vq") + F.lit(_KM_OFF)).alias("__s"),
                F.count(F.lit(1)).alias("__n"),
            )
            .select(
                "cid",
                "dim0",
                (
                    F.expr("(2 * __s + __n) div (2 * __n)") - F.lit(_KM_OFF)
                ).alias("cq"),
            ),
            cent,
        )
    # finalize checkpoints the result BEFORE releasing v and the last
    # round
    return finalize(cent, cent, v)


def ivf_ann_topk_trained(
    vectors: DataFrame,
    centroids_long: DataFrame,
    k: int = 3,
    n_queries: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN over TRAINED centroids — the drop-in the k-means
    docstrings promise: same broadcast-assignment join shape as
    :func:`ivf_probe`, but the coarse quantizer is the
    ``kmeans_centroids_quantized`` output (long-format (cid, dim0, cq)
    10^6-quanta rows) instead of hash-sampled corpus vectors.

    Coarse scoring is exact integer arithmetic at the 10^6 scale
    (dot ≤ 64·1.2e12 ≪ 2^63), ties broken by cid; the fine scoring
    within probed clusters is the engine-wide 10^12-quanta cosine.
    Scale: centroid table is O(k·dim) rows, broadcast; assignment is
    one O(N·k) aggregate; candidates bounded by nprobe × cluster size.
    ``n_queries`` selects ``id < n_queries`` — numeric ids required
    (string ids would coerce to null and silently return nothing).
    """
    _require_numeric_id(vectors, id_col)
    q6 = F.floor(
        F.col("x").cast("double") * F.lit(float(_KM_SCALE)) + F.lit(0.5)
    ).cast("long")
    v = vectors.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("dim0", "x")
    ).select(id_col, "dim0", q6.alias("vq"))
    vnorm = v.groupBy(id_col).agg(F.sum(F.col("vq") * F.col("vq")).alias("vn"))
    cnorm = centroids_long.groupBy("cid").agg(
        F.sum(F.col("cq") * F.col("cq")).alias("cn")
    )
    dots = (
        v.join(F.broadcast(centroids_long), "dim0")
        .groupBy(id_col, "cid")
        .agg(F.sum(F.col("vq") * F.col("cq")).alias("dot6"))
    )
    ccos = (
        dots.join(vnorm, id_col)
        .join(F.broadcast(cnorm), "cid")
        .select(
            id_col,
            "cid",
            (
                F.col("dot6").cast("double")
                / (
                    F.sqrt(F.col("vn").cast("double"))
                    * F.sqrt(F.col("cn").cast("double"))
                )
            ).alias("ccos"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("ccos").desc(), F.col("cid"))
    ranked = ccos.withColumn("pr", F.row_number().over(w))
    assign = ranked.where(F.col("pr") == 1).select(id_col, "cid")
    probes = ranked.where(
        (F.col("pr") <= nprobe) & (F.col(id_col) < n_queries)
    ).select(F.col(id_col).alias("query_id"), "cid")

    cand = probes.join(
        assign.select(F.col(id_col).alias("cand_id"), "cid"), "cid"
    ).where(F.col("query_id") != F.col("cand_id")).select("query_id", "cand_id")

    # the broadcast side must be the QUERY subset only — broadcasting
    # the unfiltered corpus table would ship every vector to every
    # executor (the exact OOM SCALE.md warns about)
    qside = with_norm(
        vectors.where(F.col(id_col) < n_queries).select(id_col, vec_col),
        vec_col,
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("norm_q").alias("q_norm_q"),
    )
    cside = with_norm(vectors.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("norm_q").alias("c_norm_q"),
    )
    scored = (
        cand.join(F.broadcast(qside), "query_id")
        .join(cside, "cand_id")
        .select(
            "query_id",
            "cand_id",
            cosine_from_quanta(
                dot_quanta(F.col("q_vec"), F.col("c_vec")),
                F.col("q_norm_q"),
                F.col("c_norm_q"),
            ).alias("cosine"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def kmeans_assign(
    vectors: DataFrame,
    centroids_long: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, cid): nearest-centroid assignment under the SAME integer
    squared-L2 + cid tie-break rule as the training loop in
    :func:`kmeans_centroids_quantized` — one broadcast join of the
    O(k·dim)-row centroid table against the exploded components, one
    partial-aggregated shuffle keyed on id. O(N·k·dim) work,
    corpus-size-independent broadcast."""
    q6 = F.floor(
        F.col("x").cast("double") * F.lit(float(_KM_SCALE)) + F.lit(0.5)
    ).cast("long")
    v = vectors.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("dim0", "x")
    ).select(id_col, "dim0", q6.alias("vq"))
    diff = F.col("vq") - F.col("cq")
    d2 = (
        v.join(F.broadcast(centroids_long), "dim0")
        .groupBy(id_col, "cid")
        .agg(F.sum(diff * diff).alias("d2"))
    )
    w = Window.partitionBy(id_col).orderBy("d2", "cid")
    return (
        d2.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(id_col, "cid")
    )


def semantic_dedup(
    vectors: DataFrame,
    centroids_long: DataFrame,
    threshold: float = 0.85,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then drop any vector whose exact cosine with a
    LOWER-id member of the SAME cluster reaches ``threshold`` — the
    scalable semantic near-duplicate filter (reference repo has no
    embedding-space dedup; this is the LLM-corpus extension op).

    Returns (vec_id, cid, kept): every corpus vector with its cluster
    and whether it survives.

    Scale shape: pairwise comparison happens ONLY within a cluster —
    the self-join is keyed on cid, so candidate volume is
    Σ_c C(|c|, 2), never the corpus quadratic; k is chosen so clusters
    stay bounded (production SemDeDup uses k ~ sqrt(N)). Scoring is
    the Arrow GEMM dot (:func:`dot_quanta_pandas`) over AQE-broadcast
    array joins; the drop rule (cosine ≥ τ vs ANY lower id) is a
    left-anti join — all integer-quanta deterministic, full SQL
    oracle in plans/similarity_queries.py.

    Cache contract: the cluster-assignment table is persisted for the
    duration of the call (pair generation + verdict join both read it),
    the verdict is eagerly ``localCheckpoint``-ed, and the cache is
    released before returning — no cache outlives the call.
    """
    assign = kmeans_assign(vectors, centroids_long, vec_col, id_col).persist()
    pairs = (
        assign.select(F.col(id_col).alias("id_a"), "cid")
        .join(assign.select(F.col(id_col).alias("id_b"), "cid"), "cid")
        .where(F.col("id_a") < F.col("id_b"))
        .select("cid", "id_a", "id_b")
    )
    arr = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    norms = arr.select(id_col, norm_quanta(F.col("v")).alias("norm_q"))
    dot_q = dot_quanta_pandas()
    scored = (
        pairs.join(
            arr.select(F.col(id_col).alias("id_a"), F.col("v").alias("va")),
            "id_a",
        )
        .join(
            arr.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb")),
            "id_b",
        )
        .select("cid", "id_a", "id_b", dot_q("va", "vb").alias("dot_q"))
        .join(
            norms.select(F.col(id_col).alias("id_a"), F.col("norm_q").alias("na")),
            "id_a",
        )
        .join(
            norms.select(F.col(id_col).alias("id_b"), F.col("norm_q").alias("nb")),
            "id_b",
        )
        .select(
            "cid",
            "id_a",
            "id_b",
            cosine_from_quanta(F.col("dot_q"), F.col("na"), F.col("nb")).alias(
                "cosine"
            ),
        )
    )
    dropped = (
        scored.where(F.col("cosine") >= F.lit(threshold))
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    # ONE outer join, not an anti/semi union pair — the union shape
    # references the uncached `dropped` (the whole GEMM scoring
    # lineage) twice and recomputes it per branch (measured ~2x on the
    # scoring stage)
    out = assign.join(
        dropped.withColumn("__dropped", F.lit(True)), id_col, "left"
    ).select(id_col, "cid", F.col("__dropped").isNull().alias("kept"))
    # materialize the N-row verdict while the assignment cache is
    # live, then release it — no cache outlives the call
    return finalize(out, assign)


# ------------------------------------------------- product quantization ---


def _pq_long(
    vectors: DataFrame,
    dsub: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Long-format subspace components (id, sub, dim_local, vq) at
    10^6 quanta — the shared input of PQ training, encoding, and ADC
    query tables. Narrow (posexplode + arithmetic), zero shuffle."""
    q6 = F.floor(
        F.col("x").cast("double") * F.lit(float(_KM_SCALE)) + F.lit(0.5)
    ).cast("long")
    return vectors.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("dim0", "x")
    ).select(
        id_col,
        F.expr(f"dim0 div {dsub}").cast("int").alias("sub"),
        (F.col("dim0") % dsub).cast("int").alias("dl"),
        q6.alias("vq"),
    )


def pq_codebooks_quantized(
    vectors: DataFrame,
    n_sub: int = 4,
    k_code: int = 8,
    iterations: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    vs_long: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split the ``dim``
    dimensions into ``n_sub`` contiguous subspaces and k-means each
    subspace to ``k_code`` codewords. ALL subspaces train in one
    DataFrame program — the Lloyd join/agg keys just gain a ``sub``
    column, so one Spark job trains n_sub codebooks simultaneously
    instead of looping n_sub driver-side jobs.

    Returns long-format (sub, cid, dim_local, cq) 10^6-quanta integer
    codewords — same determinism contract as
    :func:`kmeans_centroids_quantized` (integer d2, cid tie-break,
    pure-integer round-half-up means). Pass a pre-persisted
    ``vs_long`` (from :func:`_pq_long`) to share the exploded
    components with downstream encoding — the caller then owns its
    lifecycle.

    Scale: the codebook is O(n_sub·k_code·dim/n_sub) = O(k_code·dim)
    rows — corpus-size-independent, broadcast; each round is one
    O(N·k_code·dim) join-agg + one O(N·dim) mean agg. Empty codewords
    drop out (inner joins), matching the SQL oracle. Each round steps
    through ``next_round``, exactly as in
    :func:`kmeans_centroids_quantized`.
    """
    dsub = dim // n_sub
    own_vs = vs_long is None
    vs = (
        _pq_long(vectors, dsub, vec_col, id_col).persist()
        if own_vs
        else vs_long
    )
    seeds = (
        vectors.select(id_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k_code)
        .select(
            id_col,
            F.row_number()
            # bounded frame (k_code rows post-limit) — constant
            # partition key, not a global window
            .over(
                Window.partitionBy(bounded_window_key(F.col(id_col))).orderBy(
                    F.md5(F.col(id_col).cast("string")), F.col(id_col)
                )
            )
            .cast("int")
            .alias("cid"),
        )
    )
    cb = vs.join(seeds, id_col).select(
        "sub", "cid", "dl", F.col("vq").alias("cq")
    )
    diff = F.col("vq") - F.col("cq")
    for _ in range(iterations):
        d2 = (
            vs.join(F.broadcast(cb), ["sub", "dl"])
            .groupBy(id_col, "sub", "cid")
            .agg(F.sum(diff * diff).alias("d2"))
        )
        w = Window.partitionBy(id_col, "sub").orderBy("d2", "cid")
        assign = (
            d2.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(id_col, "sub", "cid")
        )
        # k_code·dim rows — trivial to materialize
        cb = next_round(
            vs.join(assign, [id_col, "sub"])
            .groupBy("sub", "cid", "dl")
            .agg(
                F.sum(F.col("vq") + F.lit(_KM_OFF)).alias("__s"),
                F.count(F.lit(1)).alias("__n"),
            )
            .select(
                "sub",
                "cid",
                "dl",
                (
                    F.expr("(2 * __s + __n) div (2 * __n)")
                    - F.lit(_KM_OFF)
                ).cast("long").alias("cq"),
            ),
            cb,
        )
    return finalize(cb, cb, *([vs] if own_vs else []))


def pq_ann_topk(
    vectors: DataFrame,
    n_sub: int = 4,
    k_code: int = 8,
    iterations: int = 2,
    k: int = 3,
    n_queries: int = 10,
    dim: int = 64,
    rerank_top: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ-ADC approximate nearest neighbors with exact re-ranking:
    encode every vector as ``n_sub`` codeword ids against trained PQ
    codebooks, shortlist candidates per query by Asymmetric Distance
    Computation — the query's exact per-(subspace, codeword) squared
    distances form a lookup table (Q·n_sub·k_code rows, broadcast) and
    a candidate's approx distance is the sum of its n_sub table
    entries — then re-rank the ``rerank_top`` ADC survivors with the
    exact quanta squared-L2 distance (the standard production PQ
    pipeline: ADC is the coarse filter, exact distance breaks the
    within-shortlist ties quantization noise randomizes — measured
    recall@3 0.23 → ≥0.9 on clustered vectors).

    Returns (query_id, cand_id, d2_q, rank): d2_q is the exact BIGINT
    quanta squared L2 distance (pure integers end-to-end — no float
    drift anywhere in this operator).

    Scale shape: one persisted explode feeds training, encoding, and
    the query table (no recompute); codebook O(k_code·dim) broadcast;
    encoding one O(N·k_code·dim) join-agg; ADC scoring joins the
    O(N·n_sub) code table against the broadcast lookup table and
    aggregates O(N·n_sub·Q) rows keyed on (query, cand) — per-candidate
    work is n_sub table additions instead of dim multiplies, the whole
    point of PQ. The exact re-rank touches only Q·rerank_top rows
    (broadcast query vectors vs a shuffle-joined candidate fetch).
    Memory per executor is bounded by the lookup table, never the
    corpus.
    """
    _require_numeric_id(vectors, id_col)
    dsub = dim // n_sub
    vs = _pq_long(vectors, dsub, vec_col, id_col).persist()
    cb = pq_codebooks_quantized(
        vectors, n_sub, k_code, iterations, dim, vec_col, id_col,
        vs_long=vs,
    )
    diff = F.col("vq") - F.col("cq")
    # d2 feeds both the code assignment and the ADC table: settled
    # (checkpointed) before vs and cb are released, so it never
    # recomputes against the released explode
    d2 = finalize(
        vs.join(F.broadcast(cb), ["sub", "dl"])
        .groupBy(id_col, "sub", "cid")
        .agg(F.sum(diff * diff).alias("d2")),
        vs,
        cb,
    )
    w = Window.partitionBy(id_col, "sub").orderBy("d2", "cid")
    codes = (
        d2.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(F.col(id_col).alias("cand_id"), "sub", "cid")
    )
    qtable = d2.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), "sub", "cid", "d2"
    )
    scored = (
        codes.join(F.broadcast(qtable), ["sub", "cid"])
        .where(F.col("query_id") != F.col("cand_id"))
        .groupBy("query_id", "cand_id")
        .agg(F.sum("d2").alias("adc_d2"))
    )
    wa = Window.partitionBy("query_id").orderBy("adc_d2", "cand_id")
    shortlist = (
        scored.withColumn("__ar", F.row_number().over(wa))
        .where(F.col("__ar") <= rerank_top)
        .select("query_id", "cand_id")
    )
    # exact quanta squared-L2 over the shortlist only: the query side
    # (Q rows) broadcasts; the candidate fetch is a keyed join
    q6 = F.transform(
        F.col(vec_col),
        lambda x: F.floor(
            x.cast("double") * F.lit(float(_KM_SCALE)) + F.lit(0.5)
        ).cast("long"),
    )
    qv = vectors.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), q6.alias("qv")
    )
    cv = vectors.select(F.col(id_col).alias("cand_id"), q6.alias("cv"))
    d2q = F.aggregate(
        F.zip_with(
            F.col("qv"), F.col("cv"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    reranked = (
        shortlist.join(F.broadcast(qv), "query_id")
        .join(cv, "cand_id")
        .select("query_id", "cand_id", d2q.alias("d2_q"))
    )
    wk = Window.partitionBy("query_id").orderBy("d2_q", "cand_id")
    return (
        reranked.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "d2_q", "rank")
    )


def random_projection_quantized(
    vectors: DataFrame,
    out_dim: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Johnson–Lindenstrauss sign (Rademacher) random projection
    (Achlioptas 2003, JCSS 66(4) — database-friendly random
    projections): ``comp_j = Σ_i sign(j,i)·x_i`` with the ±1 matrix
    derived from md5 (same :func:`_plane_sign` family the LSH buckets
    use), shrinking ``dim``-d embeddings to ``out_dim`` components
    while preserving pairwise distances within the JL bound. The
    dimensionality-reduction front end for any downstream ANN/cluster
    stage: at 100 TB, 64→8 dims is an 8× cut in every shuffle and
    dot-product after it.

    Same codegen'd one-pass shape as :func:`sign_lsh_buckets` (one
    posexplode, per-component literal sign arrays, one hash-aggregate;
    no per-row higher-order ``aggregate()``); components are exact
    BIGINT quanta sums scaled back once ⇒ bit-identical across
    engines. Data-independent matrix ⇒ no training pass and any
    engine can re-derive it. Returns (id, j, comp) long-form.
    """
    signs = plane_signs(out_dim, dim)
    ex = vectors.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("i0", "x")
    ).select(id_col, "i0", _q(F.col("x").cast("double")).alias("qx"))
    aggs = []
    for j in range(out_dim):
        sign_j = F.array(*[F.lit(s) for s in signs[j]])
        aggs.append(
            F.sum(F.element_at(sign_j, F.col("i0") + 1) * F.col("qx")).alias(f"p{j}")
        )
    proj = ex.groupBy(id_col).agg(*aggs)
    comps = F.array(*[F.col(f"p{j}") for j in range(out_dim)])
    return proj.select(
        id_col, F.posexplode(comps).alias("j", "comp_q")
    ).select(
        id_col,
        "j",
        (F.col("comp_q").cast("double") / F.lit(_SCALE)).alias("comp"),
    )


def hard_negative_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training
    (DPR/Contriever recipe): for every anchor, the top-k most
    cosine-similar candidates carrying a DIFFERENT label — maximally
    confusing negatives, the examples that actually move a retriever.

    Same scale shape as :func:`brute_force_topk` (broadcast anchor
    set against the candidate scan, exact-quanta cosine, one per-anchor
    rank shuffle); the label-mismatch filter runs BEFORE ranking, so
    positives never crowd out the negative shortlist. For corpus-scale
    anchor sets swap the candidate pass for the IVF/LSH shortlists and
    keep this as the exact re-rank."""
    q = with_norm(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(label_col).alias("q_label"),
            F.col(vec_col).alias("q_vec"),
        ),
        "q_vec",
    ).withColumnRenamed("norm_q", "q_norm_q")
    c = with_norm(
        candidates.select(
            F.col(id_col).alias("cand_id"),
            F.col(label_col).alias("c_label"),
            F.col(vec_col).alias("c_vec"),
        ),
        "c_vec",
    ).withColumnRenamed("norm_q", "c_norm_q")
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("q_label") != F.col("c_label"))
    )
    scored = pairs.select(
        "query_id",
        "cand_id",
        F.col("c_label").alias("neg_label"),
        cosine_from_quanta(
            dot_quanta(F.col("q_vec"), F.col("c_vec")),
            F.col("q_norm_q"),
            F.col("c_norm_q"),
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "neg_label", "cosine", "rank")
    )


def quantize_int8(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_dims: int | None = None,
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/transfer
    format every large vector store ships (FAISS SQ8, Milvus/pgvector
    int8): ``q_i = floor(x_i / maxabs * 127 + 0.5)`` with one scale
    per vector, 4× smaller than float32 and ADC-compatible with the
    PQ/IVF search path in this module.

    Output is RELATIONAL grain — ``(id, dim_idx, q8)`` rows plus the
    per-vector ``scale`` — so the result is exactly oracle-checkable
    and directly joinable; the array-packed variant is a trivial
    ``collect_list`` away. ``max_dims`` caps the exploded dims (audit
    samples); None explodes all. NOTE (r6 ADVICE): ``scale`` is ALWAYS
    the FULL-vector maxabs, even when ``max_dims`` truncates the
    emitted dims — the audit sample shows the exact codes the full
    quantization assigns those dims, NOT an independent quantization
    of the truncated vector (whose slice-local maxabs would differ);
    do not read ``scale`` as slice-local.

    Engine-exactness: maxabs is comparison-only; the quantizer is a
    fixed IEEE expression tree (divide, multiply, add, floor) over
    float32 inputs widened to double — bit-identical in any engine
    that evaluates the same tree, no round-half-mode ambiguity (the
    +0.5-then-floor idiom rounds half-up everywhere). Zero vectors
    (maxabs = 0) quantize to q = 0 with scale = 0. One narrow
    projection, no shuffle, no UDF.
    """
    x = F.col("__x").cast("double")
    maxabs = F.array_max(F.transform(F.col(vec_col), lambda v: F.abs(v)))
    dims = F.posexplode(
        F.slice(F.col(vec_col), 1, max_dims)
        if max_dims is not None
        else F.col(vec_col)
    )
    q = F.when(F.col("__scale") == 0.0, F.lit(0)).otherwise(
        F.floor(x / F.col("__scale") * F.lit(127.0) + F.lit(0.5))
    )
    return (
        emb.select(
            F.col(id_col).alias("id"),
            maxabs.cast("double").alias("__scale"),
            dims.alias("dim_idx", "__x"),
        )
        .select(
            "id",
            F.col("dim_idx").cast("int").alias("dim_idx"),
            q.cast("int").alias("q8"),
            F.col("__scale").alias("scale"),
        )
    )
