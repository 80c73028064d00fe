"""Table catalog: load the driver's parquet tables and derived sales views.

Mapping (FIXTURES.md §B): sale ticket ≈ ``orders`` row; items array
element ≈ ``lineitem`` row (l_orderkey→orders, l_partkey→part for the
product name); ``$unwind items`` ≈ inner join orders⋈lineitem; customer
struct ≈ ``customer`` via o_custkey; storeLocation ≈ ``nation.n_name``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .session import tune

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: Size guard for :func:`table_parallel` — below this, repartitioning a
#: scan costs a trivial shuffle; above it (or with many files) the scan
#: parallelizes on its own and the helper is a no-op.
_SMALL_INPUT_BYTES = 64 << 20

#: Parquet schema memo for every scan the engine builds — batch
#: (``table``) and streaming (``events_stream``, which needs an explicit
#: schema). Without it every call pays a footer-listing inference pass
#: plus a py4j schema fetch on the driver, a visible slice of per-query
#: DataFrame build time. Keyed path → (stamp, schema); the stamp
#: invalidates on testdata regen, and for a DIRECTORY table it is the
#: (mtime, size) of every part file, not the directory inode's own
#: stats — rewriting a part file in place need not touch the directory
#: mtime. One entry per path keeps the memo bounded across regens.
#: METADATA only — nothing derived from query execution is cached.
_SCHEMA_MEMO: dict = {}


def _source_stamp(path: str):
    try:
        st = os.stat(path)
        if os.path.isdir(path):
            # Walk the WHOLE tree, not just top-level regular files: a
            # partitioned/nested parquet layout keeps its part files in
            # subdirectories, and an in-place rewrite there must
            # invalidate the memo too (ADVICE r6 — same bug class as
            # the r5 top-level fix, one level deeper). Entries are
            # keyed by path relative to the source root so a rename is
            # a stamp change as well.
            parts = []
            for root, _dirs, files in os.walk(path):
                rel_root = os.path.relpath(root, path)
                for fname in files:
                    s = os.stat(os.path.join(root, fname))
                    parts.append((os.path.join(rel_root, fname),
                                  s.st_mtime_ns, s.st_size))
            return tuple(sorted(parts)) or (st.st_mtime_ns, st.st_size)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return None


def _probe_schema(spark: SparkSession, path: str):
    stamp = _source_stamp(path)
    hit = _SCHEMA_MEMO.get(path)
    if hit is None or hit[0] != stamp or stamp is None:
        _SCHEMA_MEMO[path] = (stamp, spark.read.parquet(path).schema)
    return _SCHEMA_MEMO[path][1]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one table. Column pruning + predicate pushdown
    happen automatically because every downstream op is declarative."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    tune(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = _probe_schema(spark, path)
    # explicit schema: planning skips the per-call inference pass; the
    # schema is the same one inference produced (memoized above)
    df = spark.read.schema(schema).parquet(path)
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if name == "events" and isinstance(schema["ts"].dataType, T.LongType):
        # older testdata stored ts as parquet TIMESTAMP(NANOS) — unreadable
        # by Spark natively; with nanosAsLong it arrives as epoch-nanos.
        # integer div: epoch-nanos > 2^53 would lose precision in double
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # current testdata stores timestamps as TIMESTAMP(MICROS,
    # isAdjustedToUTC=false), which Spark reads as TIMESTAMP_NTZ. NTZ
    # forbids epoch casts (`cast(ts as long)`) and diverges from the
    # TIMESTAMP_LTZ the rest of the engine assumes; with the session
    # pinned to UTC the NTZ→LTZ cast is wall-clock-preserving, so
    # normalize every NTZ column at the scan boundary.
    ntz = [f.name for f in schema.fields
           if isinstance(f.dataType, T.TimestampNTZType)]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


def table_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Like :func:`table`, but spreads a SMALL single-file scan across
    cluster parallelism before heavy row-local compute (shingling,
    per-row hashing, JSON serialize/parse).

    A small single-row-group parquet file is one scan task; any compute
    pipelined into that stage serializes on one core. Repartitioning
    moves < ``_SMALL_INPUT_BYTES`` of raw rows — trivial — and unlocks
    N-way compute. At real scale the guard never fires: a 100 TB input
    has thousands of splits, and adding a repartition there would
    shuffle the whole corpus for nothing. Only use this for operators
    whose scan-stage compute dominates; queries that aggregate or join
    immediately should use :func:`table` (they shuffle anyway, and the
    extra exchange is pure cost)."""
    df = table(spark, sf_dir, name)
    if _input_bytes(f"{sf_dir}/{name}.parquet") < _SMALL_INPUT_BYTES:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def _input_bytes(path: str) -> int:
    """Data size of a parquet file OR directory-shaped table.

    ``os.path.getsize`` on a directory returns the inode size (~KB) —
    which would make the small-input guard fire on an arbitrarily large
    directory table and shuffle the whole corpus. Sum the data files,
    stopping as soon as the small threshold is cleared (a 100 TB table
    must not pay a full listing just to prove it is not small).
    Unreadable paths count as not-small: never add an exchange on
    uncertain evidence."""
    try:
        if not os.path.isdir(path):
            return os.path.getsize(path)
        total = 0
        for root, _, files in os.walk(path):
            for f in files:
                if f.startswith((".", "_")):
                    continue  # _SUCCESS, checksums, hidden metadata
                total += os.path.getsize(os.path.join(root, f))
                if total >= _SMALL_INPUT_BYTES:
                    return total
        return total
    except OSError:
        return _SMALL_INPUT_BYTES


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """SQL view layer (SURVEY.md §4.2): temp views for every base table
    plus the derived sales relations, so the engine's whole surface is
    reachable from ``spark.sql``. Views are lazy plans — registering
    them costs nothing until queried, and Catalyst optimizes straight
    through them (a filter on ``v_sales_daily`` prunes the underlying
    lineitem scan exactly as the DataFrame form does)."""
    from .operators.salesviews import sale_lines, sales_daily, tickets

    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
    sale_lines(spark, sf_dir).createOrReplaceTempView("v_sale_lines")
    sales_daily(spark, sf_dir).createOrReplaceTempView("v_sales_daily")
    tickets(spark, sf_dir).createOrReplaceTempView("v_tickets")
