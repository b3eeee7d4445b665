"""Sources and sinks (SURVEY.md §2.1)."""

from automotive_data_pipeline_demo_spark.sources.readers import (
    read_csv_typed,
    read_lake,
    read_lake_evolved,
    write_partitioned_lake,
)
from automotive_data_pipeline_demo_spark.sources.compact import (
    compact_parquet,
    plan_compaction,
)
from automotive_data_pipeline_demo_spark.sources.inbox import (
    latest_file_per_table,
    list_inbox,
    read_latest_encrypted_inbox,
)
from automotive_data_pipeline_demo_spark.sources.merge import merge_upsert, scd2_merge
from automotive_data_pipeline_demo_spark.sources.sinks import write_jsonl_events

__all__ = [
    "latest_file_per_table",
    "list_inbox",
    "read_latest_encrypted_inbox",
    "read_csv_typed",
    "read_lake",
    "read_lake_evolved",
    "write_partitioned_lake",
    "compact_parquet",
    "plan_compaction",
    "merge_upsert",
    "scd2_merge",
    "write_jsonl_events",
]
