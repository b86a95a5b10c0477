"""Query registry backing ``__spark_entry__.py``.

Importing this package registers every implemented query into
``QUERIES``/``ORACLES``. ``GATE_ORDER`` names the 50 queries the driver
gate and ``bench.py`` run (the gate records about 50 rows per round);
every registered query, in the gate or not, keeps its DuckDB oracle and
is hash-checked by tests/test_oracle_parity.py.

Gate ordering: queries with no official green row in a recorded
``CORRECTNESS_r*.json`` come first, so even a row-capped gate reaches
them (tests/test_gate_coverage.py checks this).
"""

from blockchain_data_engineering_spark.plans.registry import (  # noqa: F401
    ORACLES,
    QUERIES,
    query,
)

# Import for side effect: populates the registry.
from blockchain_data_engineering_spark.plans import core_queries  # noqa: F401,E402
from blockchain_data_engineering_spark.plans import domain_queries  # noqa: F401,E402
from blockchain_data_engineering_spark.plans import analytics_queries  # noqa: F401,E402
from blockchain_data_engineering_spark.plans import graph_queries  # noqa: F401,E402
from blockchain_data_engineering_spark.plans import text_queries  # noqa: F401,E402
from blockchain_data_engineering_spark.plans import dedup_queries  # noqa: F401,E402
from blockchain_data_engineering_spark.plans import similarity_queries  # noqa: F401,E402
from blockchain_data_engineering_spark.plans import streaming_queries  # noqa: F401,E402
from blockchain_data_engineering_spark.plans import multimodal_queries  # noqa: F401,E402
from blockchain_data_engineering_spark.plans import linkage_queries  # noqa: F401,E402
from blockchain_data_engineering_spark.plans import lake_queries  # noqa: F401,E402

GATE_ORDER = [
    "ml_ece_adaptive",
    "ml_class_report",
    "ml_agreement_explain",
    "ml_ece_top_label",
    "ml_ari_from_store",
    "ml_log_loss_multiclass",
    "dq_distribution_kl",
    "ml_label_mi",
    "ml_adjusted_rand",
    "dq_drift_explain",
    "ml_krippendorff_ordinal",
    "ml_macro_f1_from_store",
    "ml_kendall_tau",
    "ml_average_precision",
    "agg_heavy_hitters_merged",
    "agg_quantile_sketch_merged",
    "ml_pr_curve",
    "join_bloom_prefilter",
    "stream_reorg_crash_recovery",
    "er_entity_clusters",
    "lake_compaction_plan",
    "graph_clustering_coefficient",
    "graph_temporal_reachability",
    "events_anomaly_mad",
    "stream_reorg_replay",
    "text_fim_transform",
    "agg_rollup_two_level",
    "events_twap",
    "dq_orders_profile",
    "scd2_asof_lookup",
    "text_ccnet_buckets",
    "graph_sssp_cheapest_route",
    "text_bpe_train",
    "text_bpe_token_counts",
    "dedup_paragraph_exact",
    "sample_split_leakage_free",
    "text_contamination_matrix",
    "stream_sliding_window",
    "text_quality_classifier",
    "graph_kcore",
    "dedup_duplicated_spans",
    "sim_semantic_dedup",
    "sim_ivf_ann_trained",
    "dedup_simhash_multiblock",
    "pipeline_corpus_dedup",
    "sim_lsh_ann_multitable",
    "multimodal_feature_extract",
    "netflow_decimal",
    "dedup_incremental_batch",
    "flagship_volume_stack",
]

assert len(GATE_ORDER) == 50, len(GATE_ORDER)
_unknown = [n for n in GATE_ORDER if n not in QUERIES]
if _unknown:
    raise ValueError(f"GATE_ORDER names unregistered queries: {_unknown}")
