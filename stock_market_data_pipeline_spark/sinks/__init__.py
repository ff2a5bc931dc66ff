from stock_market_data_pipeline_spark.sinks.lake import write_partitioned
from stock_market_data_pipeline_spark.sinks.manifest_lake import (
    merge_upsert_manifest,
)
from stock_market_data_pipeline_spark.sinks.warehouse import (
    build_merge_plan,
    merge_to_warehouse,
)

__all__ = [
    "merge_upsert_manifest",
    "write_partitioned",
    "build_merge_plan",
    "merge_to_warehouse",
]
