"""bht_etl_app_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of the reference BHT survey-ETL app
(dikitlagipro/bht-etl-app, ``app.py``), re-expressed Spark-first.

The reference is an eager single-process pandas pipeline; this package
re-expresses its operator semantics (SURVEY.md §2) as lazy Spark
DataFrame transformations that Catalyst optimizes, plus the
large-scale training-data-pipeline operators (dedup, similarity
search, text analysis, multimodal plumbing) the reference lacks.

Layout:
  session      — tuned SparkSession factory
  functions    — reusable Column expression builders (semantic shims)
  operators    — aggregation / dedup / similarity / text operators
  io           — reader facade (CSV/XLSX/parquet) and sinks
  plans        — analytic queries over the TPC-H-ish fixture tables
  streaming    — Structured Streaming path over the events table
  pipeline     — BhtPipeline facade (mapping config -> output tables)
"""

from bht_etl_app_spark.session import get_spark, local_frame

__all__ = ["get_spark", "local_frame"]
__version__ = "0.1.0"
