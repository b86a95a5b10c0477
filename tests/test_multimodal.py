"""Multimodal plumbing tests: the Arrow-batched pandas kernels against
NumPy goldens, the strict codec stub contract, and schema stability."""

from __future__ import annotations

import numpy as np
import pytest

from blockchain_data_engineering_spark.catalog import load_table
from blockchain_data_engineering_spark.operators import multimodal as MM


def test_decode_stub_strict_raises():
    with pytest.raises(NotImplementedError):
        MM.decode_stub(b"\x00\x01", "image/png", strict=True)


def test_feature_extraction_matches_numpy(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    texts = {r.doc_id: r.text for r in docs.collect()}
    feats = MM.extract_features(MM.attach_binary(docs)).collect()
    assert len(feats) == len(texts)
    for r in feats:
        buf = np.frombuffer(texts[r.doc_id].encode(), dtype=np.uint8)
        assert r.n_bytes == len(buf)
        want_hist = np.bincount(buf // 16, minlength=16).tolist()
        assert list(r.byte_histogram) == want_hist
        assert r.mean_byte == pytest.approx(float(buf.mean()))


def test_frame_sampling_shape(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(5)
    frames = MM.sample_frames(MM.attach_binary(docs), frame_bytes=64, stride=4)
    rows = frames.collect()
    texts = {r.doc_id: r.text for r in docs.collect()}
    for r in rows:
        assert r.frame_idx % 4 == 0
        assert len(r.frame) <= 64
        # frame content matches the right byte slice
        buf = texts[r.doc_id].encode()
        assert bytes(r.frame) == buf[r.frame_idx * 64 : r.frame_idx * 64 + 64]


def test_resize_stub_truncates(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(5)
    out = MM.resize_stub(MM.attach_binary(docs), target_bytes=100).collect()
    for r in out:
        assert r.meta_resized.n_bytes == min(100, r.meta.n_bytes)
