"""Streaming CDC → SCD1 dimension maintenance: the MERGE sink composed
with the stream (round 8 — marries ``sources.ingest.merge_upsert`` to
``foreachBatch`` the way the sketch tables married the sketch algebra
to it in r7).

Pattern: each micro-batch collapses to its per-key winners (an
order_cols window over the BATCH only — kilobytes of state), then
MERGE-upserts into the standing versioned dimension. The standing state
is the dimension table itself — queryable mid-stream at any pinned
version, no streaming-aggregation state at all. foreachBatch's
at-least-once replay is CONTENT-idempotent here without any batch-id
bookkeeping: batches apply serially from the checkpoint, so a replayed
batch re-merges exactly the rows the failed attempt already applied —
same winners, same anti-join survivors, byte-identical latest state
(a redundant version directory is the only trace; proven by the
kill/resume test). Out-of-order delta application is the one thing the
pattern forbids — exactly the contract every SCD1 CDC consumer has.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import dec_to_double
from ..plans.registry import register
from .runner import _ROCKSDB, session_spool
from .source import events_stream


def stream_upsert_to_dimension(
    sdf: DataFrame,
    path: str,
    keys: list[str],
    order_cols: list[str],
    checkpoint: str | None = None,
    post_merge_hook=None,
    resolve: str = "latest_wins",
    bucketed_n: int | None = None,
    schema_evolution: bool = False,
    optimize_every: int | None = None,
    vacuum_keep: int | None = None,
) -> None:
    """Replay the bounded stream (AvailableNow), MERGE-upserting each
    micro-batch into the versioned dimension at ``path``.
    ``post_merge_hook(batch_id)`` is the fault-injection point for the
    kill/resume test (crash after the merge landed, before the offset
    commit — the at-least-once window). ``bucketed_n`` (r10) routes
    each batch through the bucket-level copy-on-write merge instead of
    the full-snapshot rewrite — the composition the COW layout exists
    for: a micro-batch touches few keys, so each commit rewrites only
    the touched buckets and hardlinks the rest (SCALE.md §merge-cow);
    latest_wins semantics ride the shared resolve core unchanged.
    ``schema_evolution`` (r11) threads the Delta mergeSchema opt-in
    through to whichever merge path runs — a drifting producer against
    either layout otherwise hard-fails the batch (the safe default).

    ``optimize_every`` / ``vacuum_keep`` (r11 — Delta's auto-compaction
    posture for a LONG-RUNNING sink): a per-micro-batch MERGE stream
    accumulates one snapshot per batch — file count and version-chain
    length grow without bound between manual maintenance passes. With
    ``optimize_every=N``, every Nth applied batch is followed by an
    inline OPTIMIZE commit (within-bucket compaction on the bucketed
    layout); with ``vacuum_keep=K``, a vacuum keeping the newest K
    versions runs after each maintenance pass — or, when no
    ``optimize_every`` cadence is set, after EVERY applied batch
    (r12: retention opted into alone must still bound the chain). Both verbs are
    answer-invariant by construction (oracle-pinned elsewhere), and
    both ride the SAME serial foreachBatch thread as the merges — no
    concurrent-writer hazard, and a replayed batch after a crash
    re-runs them idempotently (optimize of an optimized snapshot is a
    near-no-op; vacuum is idempotent). The cadence trades write
    amplification for bounded scan-side file counts — at a
    1000-executor scale the right N is whatever keeps per-version file
    counts near the task-count sweet spot, not a magic constant."""
    from ..sources.ingest import (
        merge_upsert, merge_upsert_bucketed, optimize_version,
        vacuum_versions,
    )

    spark = sdf.sparkSession
    try:
        spark.conf.set(*_ROCKSDB)
    except Exception:
        pass
    applied = {"n": 0}  # maintenance cadence counter (per run)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # latest_wins, NOT delta_wins (r8 self-review item 1): a
        # multi-file source replays as multiple micro-batches in FILE
        # order, not event-time order — delta_wins would make "last
        # batch containing the key" win instead of "latest event",
        # breaking merge==recompute whenever the corpus is a directory
        # (the K=100 amplified data, the restart test's 4-file fixture,
        # any production feed). latest_wins also makes a replayed old
        # batch a no-op, strengthening restart idempotence from
        # content-idempotent to order-independent.
        if bucketed_n:
            merge_upsert_bucketed(
                batch_df.sparkSession, path, batch_df, keys=keys,
                order_cols=order_cols, resolve=resolve,
                n_buckets=bucketed_n,
                schema_evolution=schema_evolution)
        else:
            merge_upsert(batch_df.sparkSession, path, batch_df,
                         keys=keys, order_cols=order_cols, resolve=resolve,
                         schema_evolution=schema_evolution)
        applied["n"] += 1
        if optimize_every and applied["n"] % optimize_every == 0:
            optimize_version(batch_df.sparkSession, path)
            if vacuum_keep:
                vacuum_versions(path, keep=vacuum_keep)
        elif vacuum_keep:
            # vacuum_keep WITHOUT optimize_every (r12, ADVICE r11
            # item 4): the caller opted into retention, so the chain
            # must stay bounded even with no compaction cadence —
            # vacuum after every applied batch (a directory listing
            # plus rmtree of aged-out versions; the serial
            # foreachBatch thread means no concurrent-writer hazard)
            vacuum_versions(path, keep=vacuum_keep)
        if post_merge_hook is not None:
            post_merge_hook(batch_id)

    writer = (
        sdf.writeStream.foreachBatch(_apply)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    writer.start().awaitTermination()


def user_state_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC-shaped event stream: one candidate dimension row per
    event (key = user_id, recency = (ts, event_id))."""
    return events_stream(spark, sf_dir).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").cast("decimal(18,2)").alias("last_value"),
    )


def run_stream_scd1(
    spark: SparkSession, sf_dir: str, *,
    path: str | None = None, checkpoint: str | None = None,
    post_merge_hook=None, bucketed_n: int | None = None,
) -> DataFrame:
    """Drive the stream into a (possibly caller-owned, for the restart
    test) dimension path and return the LATEST merged state."""
    from ..sources.ingest import read_version

    caller_path = path is not None
    if not caller_path:
        path = session_spool(spark, "stream_scd1_")
    stream_upsert_to_dimension(
        user_state_stream(spark, sf_dir), path,
        keys=["user_id"], order_cols=["last_ts", "last_event_id"],
        checkpoint=checkpoint, post_merge_hook=post_merge_hook,
        bucketed_n=bucketed_n,
    )
    return read_version(spark, path)


@register(
    "stream_scd1_user_last_event",
    # Full-recompute oracle: the streamed-and-merged dimension must
    # equal "latest event per user over all events" — merge==recompute,
    # maintained incrementally from the stream.
    oracle="""
    SELECT user_id,
           event_id AS last_event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
           event_type AS last_event_type,
           CAST(CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE)
             AS last_value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    doc="Streaming CDC → SCD1 dimension maintenance: each micro-batch "
        "collapses to its per-user winners (window over the BATCH only) "
        "and MERGE-upserts into the standing versioned dimension via "
        "the r8 merge_upsert sink — matched users update, new users "
        "insert, untouched rows ride the anti-join. This is how a "
        "production user-profile table ingests at 100 TB/day: per-batch "
        "work is bounded by the batch, the standing state is the "
        "queryable dimension itself (pinnable at any version "
        "mid-stream), history is never re-read, and restart replays "
        "are content-idempotent because batches apply serially from "
        "the checkpoint (kill/resume-proven). The oracle recomputes "
        "latest-per-user from scratch, so hash parity IS the "
        "merge==recompute proof end-to-end through the stream.",
)
def q_stream_scd1_user_last_event(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    state = run_stream_scd1(spark, sf_dir)
    return state.select(
        "user_id", "last_event_id",
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .alias("last_ts"),
        "last_event_type",
        dec_to_double(F.col("last_value"))
        .alias("last_value"),
    )


@register(
    "stream_scd1_bucketed_cow",
    # identical recompute oracle to stream_scd1_user_last_event: the
    # copy-on-write storage path must not change the answer
    oracle="""
    SELECT user_id,
           event_id AS last_event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
           event_type AS last_event_type,
           CAST(CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE)
             AS last_value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    doc="Streaming CDC → SCD1 over the COPY-ON-WRITE layout (r10 — "
        "the composition the bucketed merge exists for): each "
        "micro-batch touches few users, so every commit rewrites only "
        "the touched _bucket=K partitions and hardlinks the rest from "
        "the previous version — the per-batch write cost is bounded "
        "by the batch's bucket footprint, not the dimension size "
        "(SCALE.md §merge-cow: a 50-key batch rewrote 19.5% at n=256 "
        "instead of 100%). latest_wins semantics ride the shared "
        "resolve core over the pruned bucket slice (complete by "
        "construction: key-hash bucketing puts a key's full picture "
        "in one bucket). Same recompute oracle as "
        "stream_scd1_user_last_event, so hash parity proves the "
        "storage optimization is answer-invariant",
)
def q_stream_scd1_bucketed_cow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources.ingest import read_version

    path = session_spool(spark, "stream_scd1_cow_")
    stream_upsert_to_dimension(
        user_state_stream(spark, sf_dir), path,
        keys=["user_id"], order_cols=["last_ts", "last_event_id"],
        bucketed_n=32,
    )
    return read_version(spark, path).select(
        "user_id", "last_event_id",
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .alias("last_ts"),
        "last_event_type",
        dec_to_double(F.col("last_value"))
        .alias("last_value"),
    )


@register(
    "stream_scd1_auto_optimize",
    # identical recompute oracle to stream_scd1_user_last_event: the
    # inline maintenance cadence must not change the answer
    oracle="""
    SELECT user_id,
           event_id AS last_event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
           event_type AS last_event_type,
           CAST(CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE)
             AS last_value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    doc="The LONG-RUNNING sink's maintenance cadence under the oracle "
        "gate (r11): a per-micro-batch MERGE stream accumulates one "
        "snapshot per batch — file count and version-chain length grow "
        "without bound. optimize_every=2 interleaves an OPTIMIZE "
        "commit (within-bucket compaction) into the serial foreachBatch "
        "thread every second batch and vacuum_keep=2 trims the chain "
        "after each pass, so the dimension stays ~one-file-per-bucket "
        "and O(1) versions FOREVER, not until an operator remembers. "
        "Hash parity against the plain recompute proves the whole "
        "cadence (merge → optimize → vacuum, repeated) is "
        "answer-invariant end-to-end through the stream; the unit test "
        "pins the file and version bounds",
)
def q_stream_scd1_auto_optimize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources.ingest import read_version

    path = session_spool(spark, "stream_scd1_auto_")
    stream_upsert_to_dimension(
        user_state_stream(spark, sf_dir), path,
        keys=["user_id"], order_cols=["last_ts", "last_event_id"],
        bucketed_n=16, optimize_every=2, vacuum_keep=2,
    )
    return read_version(spark, path).select(
        "user_id", "last_event_id",
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .alias("last_ts"),
        "last_event_type",
        dec_to_double(F.col("last_value"))
        .alias("last_value"),
    )


@register(
    "stream_scd1_tombstone_deletes",
    # recompute oracle: the user's globally newest event decides —
    # an erasure event as the newest leaves NO row
    oracle="""
    SELECT user_id,
           event_id AS last_event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
           event_type AS last_event_type
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1 AND event_id % 7 <> 0
    """,
    doc="Streaming CDC deletes via TOMBSTONES (r10 — the out-of-order "
        "complement to merge_upsert's op_col hard deletes): events "
        "with event_id ≡ 0 mod 7 are user-erasure events (the GDPR "
        "shape every training-data pipeline carries). A hard delete "
        "physically removes the key, which loses its ORDERING "
        "information — a later-replayed OLDER upsert would resurrect "
        "the user (multi-file sources replay in file order, not event "
        "time; see stream_upsert_to_dimension's latest_wins note). So "
        "deletes ride as soft-delete ROWS (_deleted=true) through the "
        "same latest_wins merge as any event — order-independent by "
        "construction — and the serving read filters tombstones out. "
        "The oracle recomputes newest-event-decides from scratch, so "
        "hash parity proves tombstoned-merge == recompute; retention "
        "GC of old tombstones is vacuum_versions' existing job",
)
def q_stream_scd1_tombstone_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources.ingest import read_version

    sdf = events_stream(spark, sf_dir).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_event_type"),
        (F.col("event_id") % 7 == 0).alias("_deleted"),
    )
    path = session_spool(spark, "stream_scd1_ts_")
    stream_upsert_to_dimension(
        sdf, path,
        keys=["user_id"], order_cols=["last_ts", "last_event_id"],
    )
    return (read_version(spark, path)
            .filter(~F.col("_deleted")).drop("_deleted")
            .select(
                "user_id", "last_event_id",
                F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
                .alias("last_ts"),
                "last_event_type",
            ))
