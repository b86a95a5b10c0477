"""Cache-lifetime contract (docs/SCALE.md §"Cache lifetime"): one
query-scoped cache owner. Inside ``cache.scope()`` every ``finalize``
defers and the outermost scope settles once; with no scope open
``finalize`` settles at once; the cache-empty invariant holds on every
exit, exceptions included.
"""

from __future__ import annotations

import pyspark.sql.classic.dataframe as _cdf
import pytest

from blockchain_data_engineering_spark import cache
from blockchain_data_engineering_spark.cache import finalize, scope
from blockchain_data_engineering_spark.operators import graph as G
from blockchain_data_engineering_spark.plans import QUERIES


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture()
def edges(spark):
    # two components: a triangle {1,2,3} and an edge {10,11}
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11)], ["src", "dst"]
    )


@pytest.fixture()
def ckpt_counter(monkeypatch):
    """Counts DataFrame.localCheckpoint calls (settles and round
    checkpoints alike)."""
    orig = _cdf.DataFrame.localCheckpoint
    calls = {"n": 0}

    def counting(self, *a, **k):
        calls["n"] += 1
        return orig(self, *a, **k)

    monkeypatch.setattr(_cdf.DataFrame, "localCheckpoint", counting)
    return calls


@pytest.fixture()
def settle_counter(monkeypatch):
    """Counts settles: checkpoint-then-release, in or out of a scope."""
    orig = cache._settle
    calls = {"n": 0}

    def counting(*a):
        calls["n"] += 1
        return orig(*a)

    monkeypatch.setattr(cache, "_settle", counting)
    return calls


def test_finalize_default_checkpoints_per_call(spark, edges, settle_counter):
    """No scope open: every operator call settles on its own."""
    cc = G.connected_components(edges, iterations=3)
    pr = G.pagerank(edges, iterations=2)
    assert settle_counter["n"] == 2  # one settle per operator call
    assert _cache_empty(spark)
    assert cc.count() > 0 and pr.count() > 0


def test_finalize_outside_context_still_eager(spark, settle_counter):
    """``finalize`` outside any scope settles immediately."""
    df = spark.range(5).toDF("node").persist()
    out = finalize(df.selectExpr("node * 2 AS x"), df)
    assert settle_counter["n"] == 1
    assert _cache_empty(spark)
    assert out.count() == 5


def test_composed_operator_pair_settles_once(spark, edges, ckpt_counter):
    """Inside a scope the operators stay LAZY (no per-operator
    checkpoint; their caches stay live for the composition); the one
    settle checkpoints once and releases every registered cache."""
    with scope() as s:
        cc = G.connected_components(edges, iterations=3)
        pr = G.pagerank(edges, iterations=2)
        assert ckpt_counter["n"] == 0  # both operators deferred
        assert not _cache_empty(spark)  # their caches intentionally live
        out = s.settle(cc.join(pr, "node"))
        assert ckpt_counter["n"] == 1  # the single settle
        assert _cache_empty(spark)
    got = {r["node"]: r["label"] for r in out.collect()}
    assert got[1] == got[2] == got[3] and got[10] == got[11]
    assert got[1] != got[10]


def test_scope_releases_every_cache_on_exception(spark, edges):
    """An exception inside the scope must still release every
    registered cache — the invariant survives; unsettled lazy results
    recompute (safe direction), never leak."""
    with pytest.raises(RuntimeError):
        with scope():
            cc = G.connected_components(edges, iterations=2)
            pr = G.pagerank(edges, iterations=2)
            assert not _cache_empty(spark)
            raise RuntimeError("boom")
    assert _cache_empty(spark)
    assert cc.count() > 0 and pr.count() > 0  # recompute uncached


def test_scope_matches_immediate_results(spark, edges):
    """Deferring changes execution shape only, never values."""
    with scope() as s:
        lazy = s.settle(G.connected_components(edges, iterations=3))
    eager = G.connected_components(edges, iterations=3)
    assert sorted(map(tuple, lazy.collect())) == sorted(
        map(tuple, eager.collect())
    )
    assert _cache_empty(spark)


def test_query_without_finalize_is_not_checkpointed(spark, sf_dir, ckpt_counter):
    """A registered query that never finalizes returns its lazy plan
    untouched: no settle, no checkpoint scan in its plan."""
    df = QUERIES["pricing_summary"](spark, sf_dir)
    assert ckpt_counter["n"] == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    assert df.count() > 0


def test_nested_query_settles_once(spark, sf_dir, settle_counter):
    """sample_split_leakage_free calls pipeline_corpus_dedup: the inner
    query joins the outer scope, so the pair settles once and leaves no
    cache behind."""
    out = QUERIES["sample_split_leakage_free"](spark, sf_dir)
    assert settle_counter["n"] == 1
    assert _cache_empty(spark)
    assert out.count() > 0


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize(
    "name",
    [
        "graph_kcore",
        "er_entity_clusters",
        "graph_bfs_levels",
        "graph_clustering_coefficient",
        "ml_krippendorff_ordinal",
        "sim_ivf_ann_trained",
        "text_quality_classifier",
    ],
)
def test_loop_rounds_released_as_they_die(spark, sf_dir, name):
    """Every round or shared node a query materializes is released by
    the time it returns, with no garbage collection forced: loop rounds
    step through ``cache.next_round`` and the last round, like every
    other materialized frame, is registered with ``finalize`` and freed
    by the settle. Only the settled result's checkpoint stays."""
    before = _persistent_rdd_ids(spark)
    out = QUERIES[name](spark, sf_dir)
    assert out.count() > 0
    new = _persistent_rdd_ids(spark) - before
    assert len(new) <= 1, (name, sorted(new))


def test_release_frees_both_kinds_on_settle_and_on_exception(spark):
    """``release`` frees a persisted frame and a round checkpoint alike;
    a checkpoint registered with ``finalize`` is freed by the settle
    and by an exception exit of the scope."""
    before = _persistent_rdd_ids(spark)
    p = spark.range(10).persist()
    p.count()
    c = cache.round_checkpoint(spark.range(10))
    assert len(_persistent_rdd_ids(spark) - before) == 2
    cache.release(p)
    cache.release(c)
    assert _persistent_rdd_ids(spark) == before
    assert _cache_empty(spark)

    with scope() as s:
        c = cache.round_checkpoint(spark.range(10))
        out = s.settle(finalize(c.selectExpr("id * 2 AS x"), c))
    # only the settled result stays
    assert len(_persistent_rdd_ids(spark) - before) == 1
    assert out.count() == 10

    before = _persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError):
        with scope():
            c = cache.round_checkpoint(spark.range(10))
            finalize(c.selectExpr("id * 2 AS x"), c)
            raise RuntimeError("boom")
    assert _persistent_rdd_ids(spark) == before
