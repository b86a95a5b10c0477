"""Session-level behaviour: the codegen cache holds a working set, and
deliberate checkpoint releases log nothing."""

from __future__ import annotations

from blockchain_data_engineering_spark.plans import QUERIES
from blockchain_data_engineering_spark.session import (
    CHECKPOINT_RELEASE_LOGGER,
    codegen_compiles,
)

# Together these compile 177 distinct generated classes at sf0.001 in a
# fresh session (12 + 28 + 41 + 42 + 54), more than Spark's default
# cache of 100. Left out are queries whose generated code can differ
# from run to run, so that a later pass compiles a few new classes:
# dq_orders_profile (an ``Expand`` column order), sim_ivf_ann_trained
# (plan shape), and queries seen to compile a 4-class variant now and
# then under adaptive execution (e.g. flagship_volume_stack,
# text_ccnet_buckets, ml_krippendorff_ordinal).
WORKING_SET = [
    "netflow_decimal",
    "ml_ece_adaptive",
    "ml_ari_from_store",
    "scd2_asof_lookup",
    "graph_clustering_coefficient",
]


def test_second_pass_compiles_no_generated_classes(spark, sf_dir):
    def one_pass() -> dict[str, int]:
        compiles = {}
        for name in WORKING_SET:
            before = codegen_compiles(spark)[0]
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
            compiles[name] = codegen_compiles(spark)[0] - before
        return compiles

    one_pass()
    assert one_pass() == dict.fromkeys(WORKING_SET, 0)


def test_checkpoint_release_warning_is_silenced(spark):
    """``get_spark`` raises the logger behind Spark's per-release
    "was locally checkpointed" WARN to ERROR."""
    log4j = spark._jvm.org.apache.logging.log4j
    logger = log4j.LogManager.getLogger(CHECKPOINT_RELEASE_LOGGER)
    assert logger.getLevel().toString() == "ERROR"
    # the root stays at WARN: only the one logger is quieted
    assert log4j.LogManager.getRootLogger().getLevel().toString() == "WARN"
