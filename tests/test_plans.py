"""Physical-plan quality regression tests: predicate pushdown, column
pruning, and join-strategy selection must survive refactors — at 100 TB
these ARE the difference between a scan of gigabytes and a scan of the
whole lake."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from blockchain_data_engineering_spark.cache import scope
from blockchain_data_engineering_spark.plans import QUERIES
from blockchain_data_engineering_spark.session import executed_plans


def _plan(spark, sf_dir, name: str) -> str:
    """Explain the query's REAL computational plan (see _plan_of)."""
    return _plan_of(spark, lambda: QUERIES[name](spark, sf_dir))


def _plan_of(spark, build) -> str:
    """Explain ``build()``'s REAL computational plan: the lazy result is
    explained inside a scope that is never settled (no settle
    checkpoint truncating the shape to a flat scan; the scope releases
    the caches on exit), followed by the executed plans of whatever
    the construction ran — the round checkpoints of iterative loops."""
    buf = io.StringIO()
    with executed_plans(spark) as ran, scope(), redirect_stdout(buf):
        build().explain("formatted")
    return "\n".join([buf.getvalue(), *ran])


def _ran(spark, build) -> tuple[list, str]:
    """Collect ``build()``'s rows; return them with the plans of every
    execution that produced them, round checkpoints and settle
    included."""
    with executed_plans(spark) as ran:
        rows = sorted(map(tuple, build().collect()))
    return rows, "\n".join(ran)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary")
    pushed = re.findall(r"PushedFilters: (\[[^\n]*)", plan)
    assert any("LessThanOrEqual(l_shipdate" in p for p in pushed), plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dim_enrich_volumes")
    scans = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
    li_scan = next(s for s in scans if "l_partkey" in s)
    # the 2-ish column projection must NOT read the whole lineitem table
    assert "l_shipdate" not in li_scan and "l_orderkey" not in li_scan, li_scan


def test_dim_join_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dim_enrich_volumes")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_semi_join_is_broadcast_semi(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topk_semi_join")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_global_topk_avoids_full_sort(spark, sf_dir):
    # orderBy().limit() must plan as TakeOrderedAndProject (per-partition
    # heap), not a global Sort + Exchange
    from blockchain_data_engineering_spark.catalog import load_table
    from blockchain_data_engineering_spark.operators.relational import topk

    li = load_table(spark, sf_dir, "lineitem")
    buf = io.StringIO()
    with redirect_stdout(buf):
        topk(li, "l_extendedprice", 10).explain("formatted")
    assert "TakeOrderedAndProject" in buf.getvalue()


def test_no_python_udfs_on_relational_paths(spark, sf_dir):
    # every relational/domain/graph/text query must stay JVM-side; the
    # only sanctioned Python is the explicit pandas escape hatch, the
    # multimodal codec seam, and dense vector math (Arrow-batched GEMM
    # in the ANN path and the random projection that shares its sign
    # kernel — no efficient Catalyst expression exists)
    allowed_python = {"applyinpandas_demean", "multimodal_feature_extract",
                      "multimodal_frame_sample", "sim_lsh_ann_multitable",
                      "sim_lsh_ann", "emb_random_projection",
                      "sim_semantic_dedup"}
    # BroadcastNestedLoopJoin is allowed ONLY where the broadcast side
    # is bounded by construction (audited): a 1-row scalar aggregate
    # (corpus size, HLL union, vocab total, funnel base, spine bounds)
    # or the fixed N_QUERIES query side of the exact-ANN baselines.
    # Anywhere else a BNLJ means a join lost its equi-key — the classic
    # accidental O(N²).
    allowed_bnlj = {"sim_ivf_ann", "agg_hll_distinct", "agg_kmv_distinct",
                    "agg_kmv_intersection", "dq_join_skew_report",
                    "text_vocab_coverage",
                    "sim_cosine_topk", "events_funnel",
                    "flagship_volume_stack", "emb_hard_negatives",
                    # 1-row broadcast total (n_total) cross-joined onto
                    # the frequent-pair table — same audited shape as
                    # agg_hll_distinct's cardinality scalar
                    "text_pmi_collocations",
                    # r6: 1-row corpus-size N spine onto the tf·idf join
                    "text_tfidf_topk",
                    # r6: each relationship joins two 1-row count
                    # aggregates (n_child/n_null × n_orphans)
                    "dq_referential_integrity",
                    # r6: three 1-row count aggregates composed into
                    # the summary row
                    "join_bloom_prefilter",
                    # r7: two 1-row grand aggregates (n_queries ×
                    # hit/mrr numerators) composed into the eval row
                    "ml_retrieval_eval",
                    # r8: the literal 4-row predicate workload
                    # broadcast onto the 128-row file-stats listing —
                    # metadata grain by construction (zone-map pruning
                    # is footer-stats arithmetic, never data)
                    "lake_zonemap_pruning",
                    # r11: the top-label ECE candidate grid — documents
                    # × the DISTINCT declared languages, a ≤ k-row
                    # broadcast dim by construction (the per-item
                    # class-score expansion every k-class argmax needs)
                    "ml_ece_top_label",
                    # the same zero_fill_spine as flagship_volume_stack:
                    # the broadcast day spine is exploded from the 1-row
                    # min/max aggregate (one row per day in range)
                    "events_spine_zero_fill",
                    # threshold read-off: the broadcast side is the
                    # literal 3-row quantile list × the 1-row count
                    # aggregate; the histogram streams past it
                    "events_histogram_quantiles",
                    # the two 1-row total-token aggregates (S, T) cross-
                    # joined onto the 256-row bucket ratio table
                    "text_dsir_weights"}
    for name in sorted(QUERIES):
        plan = _plan(spark, sf_dir, name)
        if name not in allowed_python:
            assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
                f"{name} fell off the JVM path"
            )
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
        if name not in allowed_bnlj:
            assert "BroadcastNestedLoopJoin" not in plan, (
                f"{name} plans an unaudited nested-loop join"
            )


def test_bucketed_join_needs_no_shuffle(spark, tmp_path):
    """Bucketed tables co-partitioned on the join key must sort-merge
    join with ZERO shuffle exchanges — at 100 TB, pre-bucketing the fact
    tables on their join keys is what turns the nightly big join from a
    full-cluster shuffle into a local merge."""
    import uuid

    from pyspark.sql import functions as F

    suffix = uuid.uuid4().hex[:8]
    ta, tb = f"bkt_orders_{suffix}", f"bkt_lineitem_{suffix}"
    a = spark.range(0, 10000).select(
        F.col("id").alias("o_orderkey"), (F.col("id") % 97).alias("o_custkey")
    )
    b = spark.range(0, 30000).select(
        (F.col("id") % 10000).alias("l_orderkey"),
        (F.col("id") % 13).alias("l_quantity"),
    )
    try:
        (
            a.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .option("path", str(tmp_path / "a")).saveAsTable(ta)
        )
        (
            b.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .option("path", str(tmp_path / "b")).saveAsTable(tb)
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(ta).join(
            spark.table(tb),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        import io
        from contextlib import redirect_stdout

        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        # and the join actually runs correctly off the bucketed layout
        assert joined.count() == 30000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_dedup_verify_join_is_size_adaptive(spark, sf_dir):
    """The registered minhash verify join must NOT bake in a broadcast:
    the static plan is a shuffle join (safe when the per-doc array
    table exceeds executor memory at corpus scale); AQE may convert it
    at runtime when the input measures small."""
    from pyspark.sql import functions as F

    from blockchain_data_engineering_spark.catalog import load_table
    from blockchain_data_engineering_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    sh = D.shingle_set(docs, k=5)
    sig = D.minhash_signatures(sh, 9)
    cand = D.lsh_candidate_pairs(D.lsh_bands(sig, 9, 3))
    arr = sh.groupBy("doc_id").agg(F.collect_list("shingle").alias("shingles"))

    # threshold=-1 simulates "array table measures too big": with no
    # baked-in hint the planner MUST fall back to a shuffle join...
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        buf = io.StringIO()
        with redirect_stdout(buf):
            D.jaccard_verify_arrays(cand, arr).explain("formatted")
        unhinted = buf.getvalue()
        assert "BroadcastHashJoin" not in unhinted, unhinted
        assert "SortMergeJoin" in unhinted or "ShuffledHashJoin" in unhinted
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_ivf_centroid_set_is_fixed_k(spark, sf_dir):
    """IVF centroid count must be independent of corpus size: doubling
    the corpus (shifted ids) yields the SAME number of centroids, and
    the assignment join broadcasts the O(k) centroid side."""
    from pyspark.sql import functions as F

    from blockchain_data_engineering_spark.catalog import load_table
    from blockchain_data_engineering_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    k = 8
    n1 = (
        SIM.ivf_probe(emb, n_centroids=k, nprobe=1)
        .select("centroid_id").distinct().count()
    )
    doubled = emb.unionByName(
        emb.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    )
    n2 = (
        SIM.ivf_probe(doubled, n_centroids=k, nprobe=1)
        .select("centroid_id").distinct().count()
    )
    assert n1 <= k and n2 <= k, (n1, n2)

    buf = io.StringIO()
    with redirect_stdout(buf):
        SIM.ivf_probe(emb, n_centroids=k, nprobe=1).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_graph_loops_broadcast_the_vertex_side(spark, sf_dir):
    """The PageRank and pointer-jump loops hint their |V|-row rank and
    label tables: with the size threshold disabled, the only way a
    BroadcastExchange reaches the executed plans is the hint."""
    from pyspark.sql import functions as F

    from blockchain_data_engineering_spark.operators import graph as G

    # synthetic edge list with no construction-time joins, so every
    # BroadcastExchange in the plan comes from the iteration loop
    edges = spark.range(0, 500).select(
        (F.col("id") % 83).alias("src"), (F.col("id") % 97).alias("dst")
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ops = {
            "pagerank": lambda: G.pagerank(edges, iterations=2),
            "connected_components_pointer_jump": lambda: (
                G.connected_components_pointer_jump(edges, rounds=2)
            ),
        }
        for name, op in ops.items():
            got, plan = _ran(spark, op)
            assert "BroadcastExchange" in plan, (name, plan)
            assert got, name
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_multitable_lsh_plans_no_cartesian(spark, sf_dir):
    """Multi-table LSH must be a (tbl, bucket) equi-join pipeline: any
    CartesianProduct / nested-loop in the plan means the candidate
    generation degenerated to all-pairs — the thing LSH exists to
    avoid."""
    from blockchain_data_engineering_spark.catalog import load_table
    from blockchain_data_engineering_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    # an unsettled scope: outside one, finalize localCheckpoints and
    # truncates the plan to a flat ExistingRDD scan — this guard needs
    # the LAZY plan or the assertion is vacuous (the operator has no
    # loop, so the lazy plan is the whole computation)
    buf = io.StringIO()
    with scope(), redirect_stdout(buf):
        SIM.lsh_ann_topk_multitable(emb, k=3, n_tables=4, n_planes=4).explain(
            "formatted"
        )
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan, plan
    # prove the guard sees the real pipeline, not a checkpoint stub
    assert "ExistingRDD" not in plan, plan
    assert "hashpartitioning" in plan or "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_label_centroids_partial_aggregation(spark, sf_dir):
    """The centroid aggregate must pre-sum map-side (partial
    HashAggregate before the Exchange): only |labels|x|dims| rows may
    shuffle, or the op won't survive a wide corpus."""
    from blockchain_data_engineering_spark.plans.similarity_queries import (
        emb_label_centroids,
    )

    import re

    df = emb_label_centroids(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # "(n) Node" detail headers appear once per physical node
    aggs = re.findall(r"\(\d+\) HashAggregate", plan)
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(aggs) >= 2, plan  # partial + final
    assert len(exchanges) == 1, plan


def test_bm25_topk_avoids_full_corpus_window(spark, sf_dir):
    """The BM25 final rank must run a distributed top-k
    (TakeOrderedAndProject) BEFORE the unpartitioned rank window, so
    the single-partition window only ever sees k rows — never the
    whole scored corpus."""
    plan = _plan(spark, sf_dir, "text_bm25_search")
    take = plan.find("TakeOrderedAndProject")
    win = plan.find("Window")
    assert take != -1 and win != -1, plan
    # formatted plans print leaves last: the TakeOrdered node must sit
    # BELOW the Window in the operator tree (higher position index)
    assert take > win, plan


def test_duplicated_spans_semi_join_cannot_fan_out(spark, sf_dir):
    """The dup-gram membership join must be LEFT SEMI (each gram
    position row survives at most once — an inner join against a
    hot gram's count row would be fine too, but a join against the
    gram OCCURRENCES would fan out quadratically) and must not bake
    a broadcast into the static plan."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, sf_dir, "dedup_duplicated_spans")
        assert "LeftSemi" in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_dsir_ratio_table_is_broadcast(spark, sf_dir):
    """The 256-row DSIR ratio table must broadcast back over the token
    stream — a shuffle join there would reshuffle the whole corpus
    token stream for a lookup-table-sized build side."""
    plan = _plan(spark, sf_dir, "text_dsir_weights")
    assert "BroadcastHashJoin" in plan, plan


def test_pq_adc_lookup_table_is_broadcast(spark, sf_dir):
    """PQ ADC scoring joins the O(N·n_sub) code table against the
    Q·n_sub·k_code lookup table: the lookup side must broadcast (the
    corpus-sized code table must never move for it)."""
    plan = _plan(spark, sf_dir, "sim_pq_ann")
    assert "BroadcastHashJoin" in plan, plan


def test_cms_register_join_is_broadcast(spark, sf_dir):
    """The CMS register matrix is ≤ depth·256 rows — point estimates
    must plan a broadcast of the registers, never a shuffle of the
    key stream."""
    plan = _plan(spark, sf_dir, "text_cms_heavy_hitters")
    assert "BroadcastHashJoin" in plan, plan


def test_kcore_broadcasts_the_survivor_set(spark, sf_dir):
    """kcore's semi joins broadcast the ≤|V|-row survivor set: with the
    size threshold disabled, the executed plans still hold a
    BroadcastExchange, and no Python evaluation."""
    from pyspark.sql import functions as F

    from blockchain_data_engineering_spark.operators.graph import kcore

    edges = spark.range(0, 400).select(
        (F.col("id") % 41).alias("src"), (F.col("id") % 53).alias("dst")
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # the executed plans: every peel round's checkpoint and the
        # settle — the returned frame itself is a flat checkpoint scan
        got, plan = _ran(spark, lambda: kcore(edges, k=3, rounds=2))
        # the plans hold the rounds' semi joins, and their broadcasts
        assert "LeftSemi" in plan, plan
        assert "BroadcastExchange" in plan, plan
        # the gate query's returned plan is checkpoint-truncated, so the
        # JVM-only sweep can't see kcore's pipeline — pin it here
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert got
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_r5_graph_ops_broadcast_the_vertex_side(spark, sf_dir):
    """The four round-5 graph ops hint their ≤|V|-row side (frontier,
    distances, arrivals, adjacency arrays) like pagerank/CC/kcore: with
    the size threshold disabled, each op's executed plans still hold a
    BroadcastExchange, run no Python evaluation, and return rows."""
    from pyspark.sql import functions as F

    from blockchain_data_engineering_spark.operators import graph as G

    edges = spark.range(0, 500).select(
        (F.col("id") % 83).alias("src"),
        (F.col("id") % 97).alias("dst"),
        (F.col("id") % 7 + 1).alias("w"),
        (F.col("id") % 50).alias("t"),
    )
    seeds = spark.range(0, 3).select(
        F.col("id").alias("node"), (F.col("id") * 10).alias("arr")
    )

    ops = {
        "bfs_levels": lambda: G.bfs_levels(edges, seeds.select("node"), max_hops=2),
        "sssp": lambda: G.sssp(edges, seeds.select("node"), rounds=2),
        "earliest_arrival": lambda: G.earliest_arrival(edges, seeds, rounds=2),
        "clustering_coefficient": lambda: G.clustering_coefficient(edges),
    }

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, op in ops.items():
            # the executed plans: each round's checkpoint and the settle
            got, plan = _ran(spark, op)
            assert "BroadcastExchange" in plan, (name, plan)
            # also pin JVM-only execution for the pipeline (the gate
            # query's checkpoint-truncated plan hides it)
            assert "BatchEvalPython" not in plan, name
            assert "ArrowEvalPython" not in plan, name
            assert got, name  # non-empty: the ops actually ran
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_global_sort_uses_range_partitioning(spark, sf_dir):
    # a full orderBy must plan a rangepartitioning Exchange (sampled
    # range bounds, every partition sorts its slice in parallel) —
    # never a single-partition collapse, which is the difference
    # between a distributed sort and a driver-sized bottleneck at
    # 100 TB
    from blockchain_data_engineering_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    buf = io.StringIO()
    with redirect_stdout(buf):
        li.orderBy("l_shipdate", "l_orderkey").explain("formatted")
    plan = buf.getvalue()
    assert "rangepartitioning" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_snapshot_diff_full_outer_is_copartitioned_shuffle(spark, sf_dir):
    # the crawl-snapshot diff joins two corpus-sized sides: it must be
    # a co-partitioned shuffle join (SortMergeJoin FullOuter), never a
    # broadcast of a corpus side or a nested-loop fallback
    plan = _plan(spark, sf_dir, "corpus_snapshot_diff")
    assert "FullOuter" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_incremental_dedup_band_join_is_equi(spark, sf_dir):
    # the index×batch candidate join must be an equi hash/sort-merge
    # join on (band_idx, band_val) — any nested-loop/cartesian fallback
    # would be index×batch all-pairs, defeating LSH entirely
    plan = _plan(spark, sf_dir, "dedup_incremental_batch")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_no_unpartitioned_windows_in_package_source():
    """Every window in the package must declare a partition spec that
    SURVIVES the optimizer. Bounded post-limit/post-agg rank windows
    use functions.scalar.bounded_window_key — a non-foldable constant
    key. A literal key (Window.partitionBy(F.lit(0))) is banned too:
    Catalyst folds it away and the executed window reverts to an empty
    spec, firing WindowExec's 'No Partition Defined' warning anyway
    (measured — the r3 bench tail's warnings all traced to lit(0)
    keys), which would mask any future REAL global window over an
    unbounded frame."""
    import glob
    import os

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "blockchain_data_engineering_spark",
    )
    offenders = []
    bad = re.compile(
        r"Window\.orderBy\("  # window spec that skips partitionBy entirely
        r"|Window\.partitionBy\(\s*\)"  # empty partition spec — same warning
        r"|\.over\(\s*Window\.orderBy"  # inline unpartitioned spec
        r"|Window\.partitionBy\(\s*(?:F\.)?lit\("  # foldable key: folded away
    )
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        with open(path) as fh:
            for i, line in enumerate(fh, 1):
                if bad.search(line):
                    offenders.append(f"{path}:{i}")
    assert not offenders, (
        "unpartitioned/empty-spec/foldable-key Window found (use "
        "Window.partitionBy(bounded_window_key()) from functions.scalar "
        f"for bounded frames — lit(0) gets constant-folded): {offenders}"
    )


def test_novelty_fp_join_is_equi(spark, sf_dir):
    # the incoming-vs-reference fingerprint join must be an equi join on
    # fp (hash/sort-merge) — a nested-loop fallback would be incoming x
    # reference all-pairs, the exact shape winnowing exists to avoid
    plan = _plan(spark, sf_dir, "text_novelty_score")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_cluster_quality_centroid_join_is_broadcast(spark, sf_dir):
    # kmeans_assign joins the O(k·dim)-row centroid table against the
    # exploded corpus components: the centroid side must broadcast
    # (corpus-size-independent), and the doc-quality join must stay an
    # equi join — no nested-loop anywhere in the composition
    plan = _plan(spark, sf_dir, "pipeline_cluster_quality")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_shard_shuffle_has_no_global_window(spark, sf_dir):
    # the "global shuffle" must be ONE hash exchange on shard + a
    # per-shard window sort — a global row_number (SinglePartition
    # window) would serialize the whole corpus through one task
    plan = _plan(spark, sf_dir, "sample_shard_shuffle")
    assert "SinglePartition" not in plan, plan
    assert re.search(r"hashpartitioning\(shard", plan), plan


def test_leakage_free_split_adds_no_joins_over_corpus_dedup(spark, sf_dir):
    # the split is one narrow projection on top of the dedup chain —
    # join count must equal pipeline_corpus_dedup's exactly
    base = _plan(spark, sf_dir, "pipeline_corpus_dedup")
    split = _plan(spark, sf_dir, "sample_split_leakage_free")
    n_joins = lambda p: len(  # noqa: E731
        re.findall(
            r"\b(?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin"
            r"|BroadcastNestedLoopJoin|CartesianProduct)\b",
            p,
        )
    )
    assert n_joins(split) == n_joins(base), (n_joins(split), n_joins(base))


def test_reorg_replay_avoids_global_window_and_joins(spark, sf_dir):
    """stream_reorg_replay's scale contract (rollback.canonical_rows):
    the suffix-min cut is an embedded O(markers) literal-array
    expression, NOT a global-sort window over the full roll log and
    NOT a non-equi marker join — the plan must carry no Window, no
    Sort, no join at all; the only exchange is the final aggregation's."""
    plan = _plan(spark, sf_dir, "stream_reorg_replay")
    assert "Window" not in plan, plan
    assert "Sort" not in plan, plan
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan


def test_bpe_encode_plan_shape(spark, sf_dir):
    """text_bpe_encode: the word→tokens attachment must be a broadcast
    hash join (vocabulary-sized right side) and the running-offset
    window must partition by doc (never a global/unpartitioned sort)."""
    plan = _plan(spark, sf_dir, "text_bpe_encode")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_r5_window_ops_single_keyed_exchange(spark, sf_dir):
    """The round-5 window-family queries each promise ONE keyed
    shuffle: both SCD2 window passes share an exchange, TWAP's lead
    window and final groupBy ride the same event_type partitioning,
    and the sweep-line running sum + max reuse theirs. Pin it — a
    regression here doubles the dominant cost at scale."""
    import re

    # (query, max hash exchanges) — spread()'s RoundRobin repartition
    # is deliberate scan spreading, not a keyed shuffle; count only
    # hashpartitioning exchanges
    cases = {
        "scd2_order_priority": 1,
        "events_twap": 1,
        "events_max_concurrency": 1,
        "events_forward_fill": 1,
    }
    for name, max_hash_ex in cases.items():
        plan = _plan(spark, sf_dir, name)
        n = len(re.findall(r"Exchange hashpartitioning", plan))
        assert n <= max_hash_ex, (name, n, plan[:2000])


def test_ohlc_bars_is_one_hash_aggregate_no_window(spark, sf_dir):
    """OHLC downsampling must stay a single hash aggregate over the
    tick table (min_by/max_by argmin-aggregates) — the moment a window
    sort sneaks in, the plan sorts the full fact table per bar key
    instead of map-side combining (plans/analytics_queries
    events_ohlc_bars)."""
    plan = _plan(spark, sf_dir, "events_ohlc_bars")
    assert "Window" not in plan, plan
    # one shuffle: the (event_type, bar_ts) aggregate exchange
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_netflow_is_one_shuffle_aggregate_no_join(spark, sf_dir):
    """Net flow sums the negated inputs and the outputs in one
    aggregation over their union (domain/netflow.transacted): one
    exchange, no join, no sort."""
    plan = _plan(spark, sf_dir, "netflow_decimal")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert not re.search(r"\(\d+\) Sort\b", plan), plan


def test_target_encoding_windows_only_the_cell_table(spark, sf_dir):
    """ml_target_encoding's leave-fold-out sums come from a window over
    the (category, fold) CELL table (|cats|·K rows), never the fact
    table: exactly one aggregate exchange over orders, and the window's
    input must already be the aggregated cell grain."""
    plan = _plan(spark, sf_dir, "ml_target_encoding")
    assert "Window" in plan, plan
    # one fact-table aggregate shuffle + one |cats|-partition window
    # exchange — anything more means the window slid under the agg
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan


def test_auc_window_runs_over_distinct_score_grain(spark, sf_dir):
    """The AUC rank window must consume the (status, score) AGGREGATE,
    not the fact table: a HashAggregate (partial+final pair) must sit
    below the Window node, and no row-grain global sort may appear —
    that is the whole reason auc_exact scales."""
    import re

    plan = _plan(spark, sf_dir, "ml_auc_roc")
    win = plan.find("Window")
    assert win != -1, plan
    # formatted plans list leaves LAST: the aggregate feeding the
    # window appears after (below) it in the node dump
    aggs_below = [m.start() for m in re.finditer(r"\(\d+\) HashAggregate", plan)]
    assert any(pos > win for pos in aggs_below), plan
    assert "CartesianProduct" not in plan


def test_pr_curve_window_runs_over_distinct_score_grain(spark, sf_dir):
    """The PR threshold sweep shares auc_exact's scale contract: the
    cumulative tp/fp window must consume the (status, score) AGGREGATE
    — HashAggregate below the Window — so the only sort runs at
    distinct-score grain, never over the facts."""
    import re

    plan = _plan(spark, sf_dir, "ml_pr_curve")
    win = plan.find("Window")
    assert win != -1, plan
    aggs_below = [m.start() for m in re.finditer(r"\(\d+\) HashAggregate", plan)]
    assert any(pos > win for pos in aggs_below), plan
    assert "CartesianProduct" not in plan


def test_average_precision_window_runs_over_distinct_score_grain(
    spark, sf_dir
):
    """The AP scalar shares the PR sweep's scale contract: the
    cumulative tp/fp window consumes the (status, score) AGGREGATE —
    HashAggregate below the Window — and collapses to group grain
    without ever sorting the facts."""
    import re

    plan = _plan(spark, sf_dir, "ml_average_precision")
    win = plan.find("Window")
    assert win != -1, plan
    aggs_below = [m.start() for m in re.finditer(r"\(\d+\) HashAggregate", plan)]
    assert any(pos > win for pos in aggs_below), plan
    assert "CartesianProduct" not in plan


def test_ndcg_ideal_rank_is_group_limited(spark, sf_dir):
    """ml_ndcg's ideal-DCG ranking must push a WindowGroupLimit (top-k
    grades per query survive per partition before the exchange), and
    the whole query must stay UDF-free."""
    plan = _plan(spark, sf_dir, "ml_ndcg")
    assert "WindowGroupLimit" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_macro_f1_runs_at_cell_grain_no_window(spark, sf_dir):
    """multiclass_macro_f1 must collapse the facts in ONE (actual,
    predicted) cell aggregate and do everything after at class grain —
    no window over the facts, no cartesian. Facts: declared language
    vs the lang-ID heuristic over the documents."""
    from pyspark.sql import functions as F

    from blockchain_data_engineering_spark.catalog import load_table, spread
    from blockchain_data_engineering_spark.operators import text as TX
    from blockchain_data_engineering_spark.operators.ml_eval import (
        multiclass_macro_f1,
    )

    def build():
        docs = spread(load_table(spark, sf_dir, "documents"))
        return multiclass_macro_f1(
            docs, F.col("lang"), TX.lang_id(F.col("text"))
        )

    plan = _plan_of(spark, build)
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan


def test_brier_is_one_hash_aggregate(spark, sf_dir):
    """The Brier score is ONE map-side-combinable hash aggregate over
    orders: a single aggregate exchange, no window, no join."""
    import re

    plan = _plan(spark, sf_dir, "ml_brier_score")
    assert "Window" not in plan, plan
    # exactly one ENSURE_REQUIREMENTS (aggregate) shuffle — the other
    # Exchange is the test catalog's round-robin spread() of the scan
    assert len(re.findall(r"hashpartitioning", plan)) == 1, plan


def test_tfidf_single_explode_and_df_from_tf(spark, sf_dir):
    """df must FALL OUT of the tf aggregate (one corpus explode total):
    exactly one Generate (explode) node, no count(distinct ...) expand,
    and the only nested-loop join is the sanctioned 1-row broadcast N
    spine."""
    import re

    plan = _plan(spark, sf_dir, "text_tfidf_topk")
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, plan
    assert "Expand" not in plan, plan  # count_distinct would plant one
    assert "CartesianProduct" not in plan


def test_feature_hashing_is_one_shuffle_aggregate(spark, sf_dir):
    """hashed_features = explode → ONE keyed aggregate: a partial and a
    final HashAggregate around a single Exchange, nothing else."""
    import re

    plan = _plan(spark, sf_dir, "ml_feature_hashing")
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2, plan
    # exactly one REQUIRED shuffle (the keyed aggregate); the input
    # spread() round-robin repartition is a local-parallelism choice,
    # not part of the operator's shuffle budget
    assert plan.count("ENSURE_REQUIREMENTS") == 1, plan
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, plan


def test_int8_quantize_is_shuffle_free(spark, sf_dir):
    """Quantization is a narrow projection: NO Exchange anywhere — it
    must stream at any corpus size."""
    plan = _plan(spark, sf_dir, "emb_int8_quantize")
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_compaction_plan_windows_over_metadata_grain(spark, sf_dir):
    """The binning window must consume the per-file AGGREGATE (listing
    grain), never the raw events: HashAggregate below the Window."""
    import re

    plan = _plan(spark, sf_dir, "lake_compaction_plan")
    win = plan.find("Window")
    assert win != -1, plan
    aggs_below = [m.start() for m in re.finditer(r"\(\d+\) HashAggregate", plan)]
    assert any(pos > win for pos in aggs_below), plan
