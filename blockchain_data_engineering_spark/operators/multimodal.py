"""Multimodal column operators (SURVEY §7.2 M5 / BASELINE.json north
star): image/audio/video payloads as opaque ``binary`` columns with
typed metadata structs, plus decode / feature-extract / resize /
frame-sample stages as Arrow-batched pandas functions over
``mapInPandas``.

The container has no image/audio codecs, so the *decode* kernels are
STUBBED exactly as the contract requires: the Spark-side plumbing —
schema, partitioning, UDF signature, Arrow batch shape — is real and
tested; the codec call sites either raise ``NotImplementedError``
(``strict=True``) or produce a deterministic fake derived from the
bytes (``strict=False``), so pipelines are end-to-end runnable today
and swap in a real codec (PIL/ffmpeg/torchaudio) by replacing ONE
function.

Scale notes: binary payloads ride in parquet/Delta as ordinary column
chunks; mapInPandas streams Arrow batches so a 100 MB image never
round-trips through Python row-by-row. Partition by content size
(``repartitionByRange`` on n_bytes) when payload skew stalls stages.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

METADATA_TYPE = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("checksum", T.StringType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_histogram", T.ArrayType(T.LongType())),
        T.StructField("mean_byte", T.DoubleType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def attach_binary(
    df: DataFrame, text_col: str = "text", mime: str = "application/octet-stream"
) -> DataFrame:
    """Materialize an opaque binary payload column + metadata struct.

    In production the payload comes from the storage layer (parquet
    binary column / object-store pointer); for tests we derive it from
    the text column so payloads are deterministic.
    """
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn("payload", payload).withColumn(
        "meta",
        F.struct(
            F.lit(mime).alias("mime"),
            F.length(payload).cast("long").alias("n_bytes"),
            F.md5(F.col(text_col)).alias("checksum"),
        ),
    )


def decode_stub(payload: bytes, mime: str, strict: bool = True):
    """THE codec seam. Real deployments replace this one function.

    strict=True  → NotImplementedError (no codec in this container).
    strict=False → deterministic fake: the byte payload itself plays
                   the role of the decoded pixel/sample buffer.
    """
    if strict:
        raise NotImplementedError(
            f"no codec for {mime} in this environment — plug in PIL/ffmpeg here"
        )
    return payload  # deterministic fake "decoded buffer"


def extract_features(df: DataFrame, n_buckets: int = 16) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload:
    byte histogram + mean byte (the real computation a codec-backed
    featurizer would do on decoded buffers). mapInPandas: one Python
    process per partition, whole Arrow batches, no per-row pickling.
    """
    import pandas as pd  # local import: executors only

    def featurize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, payload, meta in zip(
                pdf["doc_id"], pdf["payload"], pdf["meta"]
            ):
                buf = np.frombuffer(
                    decode_stub(payload, meta["mime"], strict=False), dtype=np.uint8
                )
                # clip: for n_buckets not dividing 256 (e.g. 10), bytes
                # >= (256//n)*n would otherwise land in a phantom bucket n
                hist = np.bincount(
                    np.minimum(buf // (256 // n_buckets), n_buckets - 1),
                    minlength=n_buckets,
                )
                out.append(
                    {
                        "doc_id": doc_id,
                        "n_bytes": len(buf),
                        "byte_histogram": hist.astype("int64").tolist(),
                        "mean_byte": float(buf.mean()) if len(buf) else 0.0,
                    }
                )
            yield pd.DataFrame(out)

    return df.select("doc_id", "payload", "meta").mapInPandas(
        featurize, schema=FEATURE_SCHEMA
    )


def sample_frames(df: DataFrame, frame_bytes: int = 64, stride: int = 4) -> DataFrame:
    """Frame sampling: split the payload into fixed-size chunks
    ("frames") and keep every ``stride``-th — the deterministic stand-in
    for video keyframe extraction, with the real output shape
    (one row per sampled frame, binary frame column)."""
    import pandas as pd

    def sample(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = decode_stub(payload, "video/fake", strict=False)
                frames = [
                    buf[o : o + frame_bytes]
                    for o in range(0, len(buf), frame_bytes)
                ]
                for idx in range(0, len(frames), stride):
                    rows.append(
                        {"doc_id": doc_id, "frame_idx": idx, "frame": frames[idx]}
                    )
            # explicit columns: a batch of all-empty payloads yields
            # zero rows, and pd.DataFrame([]) would have zero COLUMNS,
            # failing Arrow's schema check and killing the job
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame"])

    return df.select("doc_id", "payload").mapInPandas(sample, schema=FRAME_SCHEMA)


def resize_stub(df: DataFrame, target_bytes: int = 256) -> DataFrame:
    """'Resize' = truncate/pad the fake decoded buffer to target size —
    schema-correct placeholder for an image resize kernel (binary in,
    binary out, metadata updated)."""
    truncated = F.expr(f"substring(payload, 1, {target_bytes})")
    return df.withColumn("payload_resized", truncated).withColumn(
        "meta_resized",
        F.struct(
            F.col("meta.mime").alias("mime"),
            F.length(truncated).cast("long").alias("n_bytes"),
            F.md5(F.col("payload")).alias("checksum"),
        ),
    )
