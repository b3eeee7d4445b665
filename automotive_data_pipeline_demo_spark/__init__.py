"""automotive_data_pipeline_demo_spark — a PySpark-native analytics engine.

A clean-room, Spark-first re-expression of the query and data-processing
capabilities of ``bill-hoerr/automotive-data-pipeline-demo`` (see SURVEY.md):

- batch ETL (typed CSV ingest, quality filters, cast projections, partitioned
  lake writes, MERGE-style upserts),
- the customer-360 relational layer (window dedup, multi-way joins, grouped
  aggregation, segmentation CASE ladders),
- incremental activation (exactly-once event emission, idempotent message
  ids, JSON event assembly),
- identity resolution (session-id join + contact/time fallback),
- plus large-scale training-data operators (dedup families, similarity
  search, text analysis, multimodal column plumbing).

Everything is expressed with the DataFrame / Spark SQL API so Catalyst +
Tungsten choose the physical plan; Python UDFs appear only where built-in
operators cannot express the semantics (Arrow-vectorized pandas UDFs).
"""

from automotive_data_pipeline_demo_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
