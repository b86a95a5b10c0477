"""Multimodal-column queries (SURVEY §7.2 M5). Both are
oracle-checked Arrow-batched pandas-UDF paths, whose byte-level math
(histograms over the deterministic payloads, fixed-size frame
chunking) IS expressible over DuckDB BLOBs: bytes are
recovered from ``hex(encode(text))`` two chars at a time, frames via
BLOB ``substring``. The pandas kernels are additionally unit-tested
against NumPy goldens in tests/test_multimodal.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blockchain_data_engineering_spark.catalog import load_table, spread
from blockchain_data_engineering_spark.operators import multimodal as MM
from blockchain_data_engineering_spark.plans.registry import query


# ---------------------------------------------------------------------------
# Arrow-batched feature extraction (mapInPandas), oracle-checked: the
# DuckDB twin recovers the payload bytes from hex(encode(text)) and
# rebuilds the 16-bucket histogram + exact mean. The histogram is
# compared as a CSV string (array cells don't hash portably across the
# driver's pandas round-trip); mean_byte is exact in both engines
# (integer byte values sum exactly in float64/avg, one division).
# ---------------------------------------------------------------------------
N_BUCKETS = 16

_FEAT_ORACLE = f"""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS n
      FROM documents
    ),
    pos AS (
      SELECT doc_id, h, n,
             unnest(generate_series(1, CAST(n AS INT))) AS i
      FROM b
    ),
    vals AS (
      SELECT doc_id, n,
             (strpos('0123456789ABCDEF', substr(h, 2*i-1, 1)) - 1) * 16
             + (strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 1) AS v
      FROM pos
    ),
    counts AS (
      SELECT doc_id, n, least(v // (256 // {N_BUCKETS}), {N_BUCKETS - 1}) AS bkt,
             count(*) AS c
      FROM vals GROUP BY 1, 2, 3
    ),
    dense AS (
      SELECT b.doc_id, b.n, g.bkt, coalesce(c.c, 0) AS c
      FROM b
      CROSS JOIN (
        SELECT unnest(generate_series(0, {N_BUCKETS - 1})) AS bkt
      ) g
      LEFT JOIN counts c ON c.doc_id = b.doc_id AND c.bkt = g.bkt
    ),
    hist AS (
      SELECT doc_id, any_value(n) AS n,
             string_agg(CAST(c AS VARCHAR), ',' ORDER BY bkt) AS histogram_csv
      FROM dense GROUP BY doc_id
    ),
    means AS (
      SELECT doc_id, CAST(sum(v) AS DOUBLE) / CAST(any_value(n) AS DOUBLE) AS mean_byte
      FROM vals GROUP BY doc_id
    )
    SELECT h.doc_id, CAST(h.n AS BIGINT) AS n_bytes, h.histogram_csv,
           coalesce(m.mean_byte, 0.0) AS mean_byte
    FROM hist h LEFT JOIN means m ON m.doc_id = h.doc_id
"""


@query("multimodal_feature_extract", oracle=_FEAT_ORACLE)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    feats = MM.extract_features(MM.attach_binary(docs), n_buckets=N_BUCKETS)
    return feats.select(
        "doc_id",
        "n_bytes",
        F.concat_ws(",", F.col("byte_histogram").cast("array<string>")).alias(
            "histogram_csv"
        ),
        "mean_byte",
    )


# ---------------------------------------------------------------------------
# Frame sampling (mapInPandas), oracle-checked: fixed 64-byte chunks,
# every 4th kept — the DuckDB twin slices the same payload (2 hex
# chars per byte off hex(payload), unhex'd back) and checksums
# md5(lower(hex(frame))) exactly as the Spark projection does. hex,
# not base64: Spark's base64() is MIME-chunked (CRLF every 76 chars)
# so the two engines disagree past 57 bytes; lower() because DuckDB
# hex is uppercase and Spark's lowercase.
# ---------------------------------------------------------------------------
FRAME_BYTES, FRAME_STRIDE = 64, 4

_FRAME_ORACLE = f"""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
      FROM documents
    ),
    idxs AS (
      SELECT doc_id, h,
             unnest(generate_series(
               0, CAST((n + {FRAME_BYTES - 1}) // {FRAME_BYTES} AS BIGINT) - 1,
               {FRAME_STRIDE})) AS fi
      FROM b
    ),
    frames AS (
      -- BLOB substring is unsupported; slice 2 hex chars per byte and
      -- unhex back to the frame BLOB
      SELECT doc_id, fi,
             unhex(substr(h, CAST(fi * {2 * FRAME_BYTES} + 1 AS BIGINT),
                          {2 * FRAME_BYTES})) AS fr
      FROM idxs
    )
    SELECT doc_id,
           CAST(fi AS INTEGER) AS frame_idx,
           CAST(octet_length(fr) AS BIGINT) AS frame_bytes,
           md5(lower(hex(fr))) AS frame_checksum
    FROM frames
"""


@query("multimodal_frame_sample", oracle=_FRAME_ORACLE)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    frames = MM.sample_frames(
        MM.attach_binary(docs), frame_bytes=FRAME_BYTES, stride=FRAME_STRIDE
    )
    # binary frames don't hash portably across the driver's compare —
    # expose deterministic projections
    return frames.select(
        "doc_id",
        "frame_idx",
        F.length("frame").cast("long").alias("frame_bytes"),
        F.md5(F.lower(F.hex("frame"))).alias("frame_checksum"),
    )
