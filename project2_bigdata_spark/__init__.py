"""project2_bigdata_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query surface of the
reference retail-sales analytics application (Karen22g/project2_bigdata):
Mongo aggregation pipelines + pandas post-processing re-built as lazy
DataFrame pipelines on Catalyst, plus the large-scale data-pipeline
operators (dedup, similarity search, text analysis, multimodal plumbing)
that a 100 TB training-data pipeline needs.

Layout:
- ``session``    — SparkSession builder tuned for local testing / cluster scale
- ``catalog``    — parquet table loading + derived "sales" views
- ``functions``  — reusable column expression helpers (dates, money, text, vectors)
- ``operators``  — composable DataFrame -> DataFrame operators
- ``plans``      — the named query registry (queries() + oracle_sql() source)
- ``streaming``  — Structured Streaming variants over the events table
- ``ml``         — feature pipeline + per-product model training
- ``pyworker``   — Spark Python worker start-up: compiled pyspark, zip-cache gate
"""

from . import pyworker

__version__ = "0.1.0"

pyworker.install()
