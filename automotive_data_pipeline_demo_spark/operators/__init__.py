"""Composable DataFrame operators (SURVEY.md §2).

Each function takes DataFrames/Columns in and returns DataFrames/Columns out,
so Catalyst sees one logical plan end-to-end and can push filters/prune
columns through the whole composition.
"""

from automotive_data_pipeline_demo_spark.operators.dedup import (
    dedup_latest,
    dedup_latest_agg,
    primary_relationship,
    sequence_number,
)
from automotive_data_pipeline_demo_spark.operators.cleaning import (
    clean_email,
    clean_phone,
    clean_numeric_value,
    clean_string_value,
    is_valid_email,
)
from automotive_data_pipeline_demo_spark.operators.classify import case_ladder, ilike_classify
from automotive_data_pipeline_demo_spark.operators.arrays import ordered_distinct_array
from automotive_data_pipeline_demo_spark.operators.asof import asof_join, pit_join, range_join
from automotive_data_pipeline_demo_spark.operators.quality import dq_report
from automotive_data_pipeline_demo_spark.operators.layout import (
    morton_code,
    write_zorder,
)
from automotive_data_pipeline_demo_spark.operators.scale import (
    bucketed_join,
    global_sequence,
    hash_prefilter_join,
    salted_groupby_sum,
    salted_join,
    skew_report,
    write_bucketed,
    write_range_sorted,
)

__all__ = [
    "dedup_latest",
    "dedup_latest_agg",
    "sequence_number",
    "primary_relationship",
    "clean_email",
    "clean_phone",
    "clean_numeric_value",
    "clean_string_value",
    "is_valid_email",
    "case_ladder",
    "ilike_classify",
    "ordered_distinct_array",
    "asof_join",
    "pit_join",
    "dq_report",
    "range_join",
    "bucketed_join",
    "global_sequence",
    "hash_prefilter_join",
    "salted_groupby_sum",
    "salted_join",
    "skew_report",
    "write_bucketed",
    "write_range_sorted",
    "morton_code",
    "write_zorder",
]
