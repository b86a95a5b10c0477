"""Local mirror of the driver's correctness gate: run every registered
query on Spark AND its DuckDB oracle on the same parquet tables, compare
row count, column names, and order-insensitive values.

This is stricter than hash equality would require — it pinpoints the
first differing cell on failure.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from blockchain_data_engineering_spark import cache
from blockchain_data_engineering_spark.plans import ORACLES, QUERIES


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize value cells for stable comparison
    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return repr(round(v, 9))
        if v is None:
            return "NULL"
        return str(v)

    df = df.map(norm)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


@pytest.fixture(scope="module", autouse=True)
def _clean_cache_slate(spark):
    # isolate the per-query leak sweep below from caches earlier test
    # modules may have left behind
    spark.catalog.clearCache()
    yield


def _cache_empty(spark) -> bool:
    # CacheManager tracks every df.cache()/persist()
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _persistent_rdd_ids(spark) -> set[int]:
    # RDD-level storage: persists AND round/settle checkpoints
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


# Every registered query, in the driver gate (``GATE_ORDER``) or not,
# is held to the same DuckDB-parity bar; only gate queries get driver
# rows.
@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck, sf_dir, monkeypatch):
    settles = []
    real_settle = cache._settle
    monkeypatch.setattr(
        cache, "_settle", lambda *a: settles.append(1) or real_settle(*a)
    )
    before = _persistent_rdd_ids(spark)
    spark_df = QUERIES[name](spark, sf_dir).toPandas()
    # no GC forced: every materialization the query made is released,
    # only its settled (or returned) result may stay
    new_rdds = _persistent_rdd_ids(spark) - before
    # cache-lifetime convention: no query may leak a DataFrame cache
    # past its own execution (the sweep that catches the r2 kcore /
    # r3 graph_neighborhood class of defect)
    leaked = not _cache_empty(spark)
    if leaked:
        spark.catalog.clearCache()  # don't cascade into later params
    assert not leaked, f"{name}: leaked df.cache()/persist() past the call"
    # the registry's scope owns the caches: one settle per query at most
    assert len(settles) <= 1, f"{name}: settled {len(settles)} times"
    assert len(new_rdds) <= 1, f"{name}: left RDDs {sorted(new_rdds)}"
    if name not in ORACLES:
        # rows-only check (non-SQL-expressible op)
        assert spark_df is not None
        return
    duck_df = duck.execute(ORACLES[name]).fetchdf()

    assert sorted(spark_df.columns) == sorted(duck_df.columns), (
        f"{name}: column mismatch spark={sorted(spark_df.columns)} "
        f"duck={sorted(duck_df.columns)}"
    )
    assert len(spark_df) == len(duck_df), (
        f"{name}: row count spark={len(spark_df)} duck={len(duck_df)}"
    )
    a, b = _canon(spark_df), _canon(duck_df)
    if not a.equals(b):
        diff_mask = (a != b).any(axis=1)
        sample = pd.concat(
            [a[diff_mask].head(5).assign(__src="spark"),
             b[diff_mask].head(5).assign(__src="duck")]
        )
        raise AssertionError(f"{name}: value mismatch\n{sample}")
