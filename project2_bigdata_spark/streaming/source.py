"""Streaming sources: replay the driver's events parquet as a file stream.

The file source needs an explicit schema (no inference on streams), so we
take it from a one-off batch scan of the same file. ``ts`` arrives as
epoch-nanos LongType (the session reads TIMESTAMP(NANOS) parquet via
``nanosAsLong`` — see catalog.table) and is converted to a real
timestamp here, exactly as the batch path does, so event-time windowing
and watermarks work on a proper TimestampType column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import _probe_schema
from ..session import tune


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded DataFrame over ``{sf_dir}/events.parquet``.

    ``maxFilesPerTrigger=1`` keeps micro-batches file-sized — the
    multi-batch replay is what exercises watermark advance, state
    eviction and recovery; at scale the same reader pointed at a growing directory is the production ingest
    (S1's batch-of-50 insert loop collapses into Spark's own
    micro-batching + checkpoint recovery — no hand-rolled retry).
    """
    tune(spark)
    import os

    path = f"{sf_dir}/events.parquet"
    raw_schema = _probe_schema(spark, path)
    if os.path.isdir(path):
        # Spark-written table: events.parquet IS a directory of part
        # files (the amplified scale-stress corpora, and any production
        # feed) — stream the directory itself. The glob-filter branch
        # below would match no files here and silently replay an EMPTY
        # stream: the r3 K=100 streaming stress rows passed on zero
        # input because of exactly that (caught and fixed round 4).
        reader = spark.readStream.schema(raw_schema).option(
            "maxFilesPerTrigger", "1")
        sdf = reader.parquet(path)
    else:
        # driver testdata: events.parquet is a single FILE inside
        # sf_dir; the file source wants a directory, so point it at
        # sf_dir and glob-select the file within it
        sdf = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    if isinstance(sdf.schema["ts"].dataType, T.LongType):
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(sdf.schema["ts"].dataType, T.TimestampNTZType):
        # current testdata: TIMESTAMP(MICROS, isAdjustedToUTC=false) → NTZ;
        # normalize to LTZ exactly like catalog.table (UTC session ⇒
        # wall-clock-preserving) so watermarks/windows see TimestampType.
        sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp"))
    return sdf
