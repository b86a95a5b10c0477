"""``bench.py`` bookkeeping that needs no Spark session."""

from __future__ import annotations


def test_kept_detail_never_overwrites(tmp_path):
    import bench

    src = tmp_path / "bench_detail.json"
    kept = []
    for run in range(3):
        src.write_text(str(run))
        kept.append(bench._keep_detail(str(tmp_path), str(src), "bench_detail_c4_sf0.01"))
    assert kept == [
        "bench_detail_c4_sf0.01.json",
        "bench_detail_c4_sf0.01_2.json",
        "bench_detail_c4_sf0.01_3.json",
    ]
    assert [(tmp_path / name).read_text() for name in kept] == ["0", "1", "2"]
