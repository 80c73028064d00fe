"""SparkSession construction and per-session tuning.

The driver owns the SparkSession in production runs; ``tune()`` applies
the runtime-settable confs we rely on (UTC session timezone so date
extraction matches the UTC-naive DuckDB oracle; AQE on). ``get_session``
builds a local session for tests/bench.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs that are safe to set at runtime on an existing session.
RUNTIME_CONF = {
    # DuckDB timestamps are UTC-naive; pin Spark to UTC so date_format /
    # hour() / date_trunc agree with the oracle byte-for-byte.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle-partition coalescing, skew-join splitting,
    # broadcast conversion — the main lever for 100 TB robustness.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # older testdata generations stored events.ts as TIMESTAMP(NANOS,
    # isAdjustedToUTC=false), which Spark's parquet reader rejects; read
    # as long and convert in catalog.table (SPARK-40819 escape hatch).
    # Harmless on current micros-typed data. catalog.table also
    # normalizes TIMESTAMP_NTZ columns (the current generation) to LTZ.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Python DataSource filter pushdown (Spark 4.1, off by default):
    # lets sources/pyds.py's pushFilters apply predicates BEFORE rows
    # cross the Python→JVM boundary — without it, a reader that
    # implements pushFilters is rejected outright at planning time.
    "spark.sql.python.filterPushdown.enabled": "true",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to a session we did not build (driver-owned).

    Memoized per session OBJECT: the confs are applied on the first call
    for a given ``SparkSession`` and every later call returns at once.
    ``tune`` runs from every ``catalog.table`` call — ~10 py4j round
    trips each — and its inputs cannot change within one session: it
    reads no environment variable, ``RUNTIME_CONF`` is a constant and
    the scan floor is derived from the session's own core count. A conf
    the caller sets AFTER the first call is therefore left alone (a
    fresh session object is tuned afresh).
    """
    if getattr(spark, "_p2bd_tuned", False):
        return spark
    spark._p2bd_tuned = True
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked by the host — proceed with its value
    # Scan-parallelism floor (guide §6): a single-file small table is
    # otherwise 1-3 scan tasks, serializing parquet decode while the
    # rest of the cluster idles — measured 0.7 s for the sf0.1 lineitem
    # scan alone, ~40% of the flagship query. The floor is derived from
    # the session's own core count (never a constant): on a real
    # cluster a large table has thousands of natural splits and the
    # floor is a no-op; it only bites when input bytes / cores is small,
    # exactly the case where splitting is free.
    try:
        spark.conf.set("spark.sql.files.minPartitionNum",
                       str(spark.sparkContext.defaultParallelism))
    except Exception:
        pass
    return spark


def truncate_lineage(df, eager: bool = False):
    """Cut a DataFrame's lineage: plans built on the result start from
    its materialized rows instead of re-deriving its subtree.

    Callers use it for two things: the state of a round loop
    (``operators/fixpoint.iterate`` truncates every round's state), and
    a subtree that two consumers of one query read, which would
    otherwise run twice.

    ``eager=False`` is not free at the call. The localCheckpoint path
    leaves the final stage, the one that stores the rows, to the first
    action on the result; but under AQE (the production posture) it
    plans the frame at the call and runs its shuffle-map stages there,
    so a subtree with an exchange starts jobs before this returns. Only
    with AQE off does a lazy truncation start no job. ``eager=True``
    also runs the final stage at the call.

    ``eager`` applies ONLY to the localCheckpoint path. On the
    reliable-checkpoint path (``SPARK_GRAFT_CHECKPOINT_DIR`` set) the
    frame is ALWAYS materialized immediately, regardless of ``eager``:
    a lazy reliable checkpoint would double-compute the subtree (the
    caller's first action + the checkpoint's own job), so that path
    persists + eagerly checkpoints unconditionally (ADVICE r3 item 2).
    Callers that need a genuinely deferred computation must not route
    it through this function when a checkpoint dir is configured
    (ADVICE r4 item 3: documented, not silently divergent).

    With ``SPARK_GRAFT_CHECKPOINT_DIR`` set, uses a RELIABLE
    ``checkpoint()`` into that directory (HDFS/object storage on a real
    cluster): the truncated frame survives executor loss, which is what
    a 100 TB fixpoint needs — ``localCheckpoint`` pins blocks to
    executors, so losing one kills every frame derived from it
    mid-loop. Unset (tests/bench on local mode, where executor loss
    means the whole JVM died anyway), falls back to ``localCheckpoint``
    and avoids the checkpoint write entirely.

    Checkpoint files are cleaned when the frame is garbage-collected
    *if* ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (a
    startup-time conf: ``get_session`` sets it; cluster submits must
    pass it at submit time — it cannot be applied to a live session).
    """
    ckdir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckdir:
        sc = df.sparkSession.sparkContext
        current = sc.getCheckpointDir()
        # setCheckpointDir appends a per-session UUID component and may
        # resolve to a full URI; re-point only when the PARENT dir
        # differs from the env var, compared at path-component
        # granularity (substring matching would treat /data/ck as
        # already-set while checkpoints kept landing in /data/ck2)
        tail = ckdir.rstrip("/")
        parent = (current or "").rstrip("/").rsplit("/", 1)[0]
        same = parent.endswith(tail) and (
            len(parent) == len(tail) or parent[-len(tail) - 1] in ":/"
        )
        if not same:
            sc.setCheckpointDir(ckdir)
        # a reliable checkpoint writes its files in a SEPARATE job that
        # recomputes the plan from scratch unless the data is cached —
        # persist first so the subtree runs once (compute into cache →
        # write checkpoint from cache → drop cache). This wrap applies
        # to BOTH eager modes: a lazy checkpoint(eager=False) would
        # still double-compute (caller's first action + the checkpoint
        # job). Materializing at the call moves only the final stage
        # earlier — under AQE the lazy local path already runs the
        # shuffle-map stages there — and halves the compute (ADVICE r3
        # item 2).
        # Serialized level: persist()'s default is DESERIALIZED rows,
        # which materialize a whole partition on-heap before eviction
        # (the OOM cliff measured by the scale-stress run on the
        # localCheckpoint path below).
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        out = df.checkpoint(eager=True)
        df.unpersist()
        return out
    # localCheckpoint persists internally — no double compute on this
    # path. Store SERIALIZED (PySpark's MEMORY_AND_DISK; the JVM default
    # is the deserialized variant): a deserialized block materializes a
    # whole partition as row OBJECTS before the store can evict it, and
    # a scale-stress run measured exactly that as an executor OOM
    # (tfidf's tf frame at 100x sf0.1 under a 2 GB heap, tools/
    # scale_stress.py) — serialized blocks are ~5-10x smaller and the
    # same run completes.
    from pyspark import StorageLevel

    return df.localCheckpoint(
        eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK)


def get_session(app_name: str = "project2_bigdata_spark",
                cores: int | None = None,
                shuffle_partitions: int | None = None) -> SparkSession:
    """Local session for tests and bench.

    Shuffle partitions default to ~cores: correct for local mode; on a
    real cluster AQE coalescing makes the initial number less critical.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cores)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # delete reliable-checkpoint files when their frame is GC'd —
        # without this, SPARK_GRAFT_CHECKPOINT_DIR grows without bound
        # across fixpoint iterations (startup-time conf, so it lives
        # here rather than RUNTIME_CONF; cluster submits set it at
        # submit time)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in RUNTIME_CONF.items():
        b = b.config(k, v)
    return b.getOrCreate()
