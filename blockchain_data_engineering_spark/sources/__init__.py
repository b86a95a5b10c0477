"""Batch sources & sinks (SURVEY §2.1 S4-S6, S9, S11-S12)."""

from blockchain_data_engineering_spark.sources.io import (  # noqa: F401
    load_decimals_dim,
    load_prices_dim,
    compact_parquet,
    compact_parquet_bucketed,
    maybe_compact_bucketed,
    delete_parquet_where,
    read_jdbc,
    read_ndjson_blocks,
    read_ndjson_blocks_with_quarantine,
    read_orc,
    bucketed_table_exists,
    upsert_delta,
    upsert_parquet,
    upsert_parquet_bucketed,
    write_jdbc,
    write_orc,
    write_partitioned,
)
from blockchain_data_engineering_spark.sources.neo4j import (  # noqa: F401
    write_neo4j_admin_export,
)
