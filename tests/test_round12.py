"""Round-12 additions (VERDICT r11 next-round list + ADVICE r11):
constraint-enforcement symmetry (clone carries constraints, plain
writers enforce, ADD CONSTRAINT validates existing rows), pinned-version
layout resolution (restore/rebucket ignore the table-root hint),
in/between predicate ops threaded through as-of and change-feed reads,
the NaN stats guard, the standalone vacuum cadence, predicate DML
(delete_where / update_where), executor-side stats collection, and
disjoint-writer commit rebase.
"""

from __future__ import annotations

import glob
import json
import math
import os

import pytest


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k int, ts int, v string")


# ---------------------------------------------------------------------------
# ADVICE r11 item 1: pinned-version layout resolution


def test_restore_plain_version_ignores_stale_root_layout(spark, tmp_path):
    """Restoring a PLAIN version of a table whose root carries a
    bucket-layout hint must not crash on partitionBy('_bucket') — the
    root file describes the LATEST layout, not this pinned version."""
    from project2_bigdata_spark.sources.ingest import (
        _read_layout, _write_root_layout_hint, commit_version,
        read_version, restore_version,
    )

    p = str(tmp_path / "t")
    assert commit_version(_kv(spark, [(1, 10, "a"), (2, 10, "b")]), p, 1)
    assert commit_version(_kv(spark, [(1, 20, "a2")]), p, 2)
    # a stale root hint (e.g. debris from a copied table): v=1 is plain
    _write_root_layout_hint(p, {"n_buckets": 32, "bucket_keys": ["k"]})
    v = restore_version(spark, p, 1)
    assert v == 3
    got = {r.k: r.v for r in read_version(spark, p, v).collect()}
    assert got == {1: "a", 2: "b"}
    assert "_bucket" not in read_version(spark, p, v).columns
    assert _read_layout(p, v, root_fallback=False) is None


def test_restore_legacy_bucketed_past_rebucket_records_no_layout(
        spark, tmp_path):
    """The ADVICE r11 corruption scenario: restoring a legacy
    (marker-less) bucketed version after a REBUCKET must not stamp the
    root hint's NEW n_buckets onto files bucketed by the OLD function —
    the restored commit records NO layout (honest) rather than a wrong
    one that later inherit-mode merges would prune with."""
    from project2_bigdata_spark.sources.ingest import (
        _read_layout, merge_upsert_bucketed, read_version,
        rebucket_version, restore_version,
    )

    p = str(tmp_path / "t")
    merge_upsert_bucketed(
        spark, p, _kv(spark, [(k, 10, f"v{k}") for k in range(32)]),
        keys=["k"], order_cols=["ts"], n_buckets=8)
    assert rebucket_version(spark, p, 32) == 2  # root hint now says 32
    os.remove(f"{p}/v=1/_layout.json")  # simulate a pre-r11 legacy commit
    v = restore_version(spark, p, 1)
    assert v == 3
    # the restored commit preserves the _bucket dirs but records no
    # layout contract (the keys/count of a legacy version are unknown)
    assert _read_layout(p, v, root_fallback=False) is None
    assert glob.glob(f"{p}/v={v}/_bucket=*")
    got = {r.k: r.v for r in read_version(spark, p, v).collect()}
    assert got == {k: f"v{k}" for k in range(32)}


def test_rebucket_refuses_marker_less_version_despite_root_hint(
        spark, tmp_path):
    """Rebucket resolves the bucket KEYS from the pinned version's own
    marker only: with the marker gone, a root hint must not supply
    guessed keys — refusing beats migrating with the wrong function."""
    from project2_bigdata_spark.sources.ingest import (
        merge_upsert_bucketed, rebucket_version,
    )

    p = str(tmp_path / "t")
    merge_upsert_bucketed(
        spark, p, _kv(spark, [(k, 10, f"v{k}") for k in range(8)]),
        keys=["k"], order_cols=["ts"], n_buckets=4)
    os.remove(f"{p}/v=1/_layout.json")  # legacy: root hint still present
    with pytest.raises(ValueError, match="no recorded bucket layout"):
        rebucket_version(spark, p, 16)


# ---------------------------------------------------------------------------
# VERDICT r11 item 1 + ADVICE r11 items 2/3: constraint symmetry


def test_plain_writers_enforce_constraints(spark, tmp_path):
    """commit_version and write_versioned gate on recorded CHECK
    constraints exactly like the merge paths (Delta invariants apply
    to EVERY write): a violating snapshot raises and nothing lands."""
    from project2_bigdata_spark.sources.ingest import (
        ConstraintViolation, _versions, commit_version,
        set_check_constraints, write_versioned,
    )

    p = str(tmp_path / "t")
    set_check_constraints(p, {"ts_pos": "ts > 0"})
    good = _kv(spark, [(1, 10, "a")])
    bad = _kv(spark, [(2, -5, "b")])
    assert commit_version(good, p, 1)
    with pytest.raises(ConstraintViolation, match="ts_pos"):
        commit_version(bad, p, 2)
    with pytest.raises(ConstraintViolation, match="ts_pos"):
        write_versioned(bad, p)
    assert _versions(p, committed_only=False) == [1]  # no torn debris
    # NULL passes (SQL three-valued CHECK) on the plain path too
    assert commit_version(_kv(spark, [(3, None, "c")]), p, 2)


def test_maintenance_verbs_skip_constraint_rescan(spark, tmp_path):
    """OPTIMIZE/REBUCKET rewrite rows that passed when written —
    re-validating would be O(table) per maintenance pass. RESTORE
    reinstates a historical snapshot verbatim even when it predates a
    (now-recorded) constraint — Delta's posture; the history records
    the RESTORE either way."""
    from project2_bigdata_spark.sources.ingest import (
        merge_upsert_bucketed, optimize_version, read_version,
        rebucket_version, restore_version, set_check_constraints,
    )

    p = str(tmp_path / "t")
    merge_upsert_bucketed(
        spark, p, _kv(spark, [(k, -1, f"v{k}") for k in range(8)]),
        keys=["k"], order_cols=["ts"], n_buckets=4)
    # constraint added AFTER the data landed, deliberately without the
    # spark-validation pass: the base case is the caller's burden here
    set_check_constraints(p, {"ts_pos": "ts > 0"})
    assert optimize_version(spark, p) == 2
    assert rebucket_version(spark, p, 8) == 3
    assert restore_version(spark, p, 1) == 4
    assert read_version(spark, p, 4).count() == 8


def test_add_constraint_validates_existing_snapshot(spark, tmp_path):
    """ADVICE r11 item 2 (Delta's ADD CONSTRAINT): recording a
    constraint a standing table already violates raises — with
    examples — and records NOTHING, instead of leaving the table
    permanently violating underneath an O(batch) gate that would
    never look at the base again."""
    from project2_bigdata_spark.sources.ingest import (
        ConstraintViolation, _read_constraints, commit_version,
        set_check_constraints,
    )

    p = str(tmp_path / "t")
    assert commit_version(_kv(spark, [(1, 10, "a"), (2, -3, "b")]), p, 1)
    with pytest.raises(ConstraintViolation, match="existing snapshot"):
        set_check_constraints(p, {"ts_pos": "ts > 0"}, spark=spark)
    assert _read_constraints(p) == {}  # nothing recorded
    # a constraint the base satisfies records fine, and validation
    # is skipped entirely at bootstrap (no committed version)
    set_check_constraints(p, {"k_pos": "k > 0"}, spark=spark)
    assert _read_constraints(p) == {"k_pos": "k > 0"}
    p2 = str(tmp_path / "t2")
    set_check_constraints(p2, {"ts_pos": "ts > 0"}, spark=spark)
    assert _read_constraints(p2) == {"ts_pos": "ts > 0"}


def test_clone_carries_constraints(spark, tmp_path):
    """VERDICT r11 What's-wrong #1: CLONE copies table properties
    including CHECK constraints — the first violating merge into the
    clone raises exactly as it would against the source."""
    from project2_bigdata_spark.sources.ingest import (
        ConstraintViolation, _latest_committed, clone_table,
        merge_upsert_bucketed, set_check_constraints,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "fork")
    set_check_constraints(src, {"ts_pos": "ts > 0"})
    merge_upsert_bucketed(
        spark, src, _kv(spark, [(k, 10, f"v{k}") for k in range(8)]),
        keys=["k"], order_cols=["ts"], n_buckets=4)
    assert clone_table(spark, src, dst) == 1
    with pytest.raises(ConstraintViolation, match="ts_pos"):
        merge_upsert_bucketed(
            spark, dst, _kv(spark, [(1, -9, "bad")]),
            keys=["k"], order_cols=["ts"], n_buckets=None)
    assert _latest_committed(dst) == 1  # nothing committed to the clone


# ---------------------------------------------------------------------------
# ADVICE r11 item 4: standalone vacuum cadence


def test_vacuum_keep_without_optimize_every_bounds_chain(spark, sf_dir,
                                                         tmp_path):
    """vacuum_keep alone (no optimize cadence) must still bound the
    version chain — previously it silently never vacuumed."""
    from project2_bigdata_spark.sources.ingest import _versions
    from project2_bigdata_spark.streaming.upsert import (
        stream_upsert_to_dimension, user_state_stream,
    )

    p = str(tmp_path / "dim")
    stream_upsert_to_dimension(
        user_state_stream(spark, sf_dir), p,
        keys=["user_id"], order_cols=["last_ts", "last_event_id"],
        vacuum_keep=2,
    )
    assert len(_versions(p, committed_only=True)) <= 2


# ---------------------------------------------------------------------------
# ADVICE r11 item 5 + VERDICT r11 item 3: NaN guard, in/between ops,
# as-of and change-feed predicate threading


def test_where_nan_predicate_never_pruned(spark, tmp_path):
    """Spark treats NaN = NaN as true and NaN > every double, while
    parquet stats ignore NaN — so a NaN probe must never prune: the
    file holding the NaN rows stays in the scan and the rows return."""
    from project2_bigdata_spark.sources.ingest import (
        commit_version, read_version,
    )

    p = str(tmp_path / "t")
    rows = [(1, 1.0), (2, 2.0), (3, float("nan")), (4, 4.0)]
    df = spark.createDataFrame(rows, "k int, x double")
    assert commit_version(df.repartitionByRange(2, "k"), p, 1)
    got = read_version(spark, p, 1,
                       where=[("x", "=", float("nan"))]).collect()
    assert [r.k for r in got] == [3]
    # > NaN matches nothing but must not error or mis-prune either
    assert read_version(spark, p, 1,
                        where=[("x", ">", float("nan"))]).count() == 0


def test_where_in_between_prune_and_match(spark, tmp_path):
    """The r12 ops: results equal the plain filter, and both ops prune
    files from the committed stats (strict subset of the full scan)."""
    from project2_bigdata_spark.sources.ingest import (
        commit_version, read_version,
    )

    p = str(tmp_path / "t")
    df = spark.createDataFrame([(i, i % 7) for i in range(400)],
                               "k int, m int")
    assert commit_version(df.repartitionByRange(8, "k"), p, 1)
    n_all = len(read_version(spark, p, 1).inputFiles())

    got_in = read_version(spark, p, 1, where=[("k", "in", [3, 5, 397])])
    assert sorted(r.k for r in got_in.collect()) == [3, 5, 397]
    assert len(got_in.inputFiles()) < n_all

    got_bt = read_version(spark, p, 1, where=[("k", "between", (100, 149))])
    assert sorted(r.k for r in got_bt.collect()) == list(range(100, 150))
    assert len(got_bt.inputFiles()) < n_all

    # empty membership: empty relation, full schema, zero files read
    got_empty = read_version(spark, p, 1, where=[("k", "in", [])])
    assert got_empty.count() == 0
    assert got_empty.columns == ["k", "m"]

    # conjunction of the new ops with the old ones
    got_mix = read_version(
        spark, p, 1,
        where=[("k", "between", (0, 50)), ("m", "in", [0, 1]), ("k", ">", 10)])
    assert sorted(r.k for r in got_mix.collect()) == sorted(
        i for i in range(11, 51) if i % 7 in (0, 1))

    # malformed values fail loudly, not silently
    with pytest.raises(ValueError, match="between"):
        read_version(spark, p, 1, where=[("k", "between", 5)]).count()
    with pytest.raises(ValueError, match="'in'"):
        read_version(spark, p, 1, where=[("k", "in", 5)]).count()


def test_asof_read_prunes_with_where(spark, tmp_path):
    """Time travel composes with file skipping: the as-of snapshot is
    resolved by timestamp, then scanned through the same stats-pruned
    predicate path as a version-pinned read."""
    import time

    from project2_bigdata_spark.sources.ingest import (
        commit_version, read_version, read_version_as_of,
    )

    p = str(tmp_path / "t")
    v1 = spark.createDataFrame([(i, "old") for i in range(200)],
                               "k int, tag string")
    assert commit_version(v1.repartitionByRange(4, "k"), p, 1)
    t_between = time.time()
    time.sleep(0.05)
    v2 = spark.createDataFrame([(i, "new") for i in range(200)],
                               "k int, tag string")
    assert commit_version(v2.repartitionByRange(4, "k"), p, 2)

    asof = read_version_as_of(spark, p, t_between,
                              where=[("k", "between", (10, 19))])
    rows = asof.collect()
    assert sorted(r.k for r in rows) == list(range(10, 20))
    assert {r.tag for r in rows} == {"old"}  # really served v=1
    n_all = len(read_version(spark, p, 1).inputFiles())
    assert len(asof.inputFiles()) < n_all


def test_change_feed_where_filters_and_prunes(spark, tmp_path):
    """The feed of the FILTERED relation: rows outside the predicate
    never appear; a key moving across the predicate boundary appears
    as insert/delete of the filtered view; both snapshot scans prune
    files by stats."""
    from project2_bigdata_spark.sources.ingest import (
        commit_version, read_change_feed,
    )

    p = str(tmp_path / "t")
    v1 = spark.createDataFrame(
        [(k, k * 10) for k in range(100)], "k int, val int")
    v2 = spark.createDataFrame(
        # k=5 leaves the predicate window (val 50→500), k=7 changes
        # in-window (70→71), k=200 inserts in-window, others unchanged
        [(k, k * 10) for k in range(100) if k not in (5, 7)]
        + [(5, 500), (7, 71), (200, 42)], "k int, val int")
    assert commit_version(v1.repartitionByRange(4, "k"), p, 1)
    assert commit_version(v2.repartitionByRange(4, "k"), p, 2)
    feed = read_change_feed(spark, p, ["k"], from_version=1,
                            where=[("val", "between", (0, 99))])
    got = {r.k: (r.val, r._change_type) for r in feed.collect()}
    assert got == {
        5: (50, "delete"),        # left the filtered view (pre-image)
        7: (71, "update_postimage"),
        200: (42, "insert"),
    }


# ---------------------------------------------------------------------------
# VERDICT r11 item 4: predicate DML (delete_where / update_where)


def test_delete_where_equals_filter_and_hardlinks_untouched(spark, tmp_path):
    """DELETE WHERE == recompute-with-NOT-predicate, and the
    stats-pruned files the predicate cannot touch ride into the new
    version as HARDLINKS (same inode) — Delta's DELETE file pruning."""
    from project2_bigdata_spark.sources.ingest import (
        commit_version, delete_where, read_version, table_history,
    )

    p = str(tmp_path / "t")
    df = spark.createDataFrame([(i, i % 5) for i in range(400)],
                               "k int, m int")
    assert commit_version(df.repartitionByRange(8, "k"), p, 1)
    v = delete_where(spark, p, [("k", "between", (100, 149))])
    assert v == 2
    got = sorted(r.k for r in read_version(spark, p, 2).collect())
    assert got == [i for i in range(400) if not (100 <= i <= 149)]

    def inodes(version):
        return {os.path.relpath(f, f"{p}/v={version}"): os.stat(f).st_ino
                for f in glob.glob(f"{p}/v={version}/*.parquet")}

    i1, i2 = inodes(1), inodes(2)
    shared = {f for f in i2 if f in i1 and i2[f] == i1[f]}
    assert len(shared) >= 5  # most files untouched → linked
    assert len(set(i2) - set(i1)) >= 1  # the rewritten file(s)
    hist = {r.version: r.operation
            for r in table_history(spark, p).collect()}
    assert hist[2] == "DELETE"


def test_delete_where_cdf_shows_exact_rows_and_noop(spark, tmp_path):
    """The change feed emits exactly the deleted rows as pre-image
    delete entries; an unmatched predicate is a NO-OP returning the
    current version with nothing committed."""
    from project2_bigdata_spark.sources.ingest import (
        _versions, commit_version, delete_where, read_change_feed,
    )

    p = str(tmp_path / "t")
    df = spark.createDataFrame([(i, f"v{i}") for i in range(50)],
                               "k int, v string")
    assert commit_version(df.repartitionByRange(4, "k"), p, 1)
    assert delete_where(spark, p, [("k", "in", [3, 7, 11])]) == 2
    feed = read_change_feed(spark, p, ["k"], from_version=1)
    got = {(r.k, r._change_type) for r in feed.collect()}
    assert got == {(3, "delete"), (7, "delete"), (11, "delete")}
    # no file can match → no-op, version chain untouched
    assert delete_where(spark, p, [("k", ">", 10_000)]) == 2
    assert _versions(p, committed_only=True) == [1, 2]


def test_delete_where_null_predicate_rows_kept(spark, tmp_path):
    """SQL DELETE removes only where the predicate is TRUE: NULL
    (unknown) rows survive."""
    from project2_bigdata_spark.sources.ingest import (
        commit_version, delete_where, read_version,
    )

    p = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 5), (2, None), (3, 50)],
                               "k int, m int")
    assert commit_version(df, p, 1)
    delete_where(spark, p, [("m", ">", 10)])
    got = sorted(r.k for r in read_version(spark, p).collect())
    assert got == [1, 2]  # k=2 (NULL m) kept, k=3 deleted


def test_update_where_model_constraints_and_cdf(spark, tmp_path):
    """UPDATE WHERE == recompute with CASE; CHECK constraints gate the
    post-update rows (violating assignment raises, nothing commits);
    the feed shows exactly the updated keys as update_postimage."""
    from project2_bigdata_spark.sources.ingest import (
        ConstraintViolation, _latest_committed, commit_version,
        read_change_feed, read_version, set_check_constraints,
        table_history, update_where,
    )

    p = str(tmp_path / "t")
    set_check_constraints(p, {"m_pos": "m > 0"})
    df = spark.createDataFrame([(i, i + 1, f"v{i}") for i in range(100)],
                               "k int, m int, v string")
    assert commit_version(df.repartitionByRange(4, "k"), p, 1)
    v = update_where(spark, p, [("k", "between", (10, 14))],
                     set={"m": "m * 100", "v": "concat(v, '!')"})
    assert v == 2
    got = {r.k: (r.m, r.v) for r in read_version(spark, p, 2).collect()}
    for i in range(100):
        want = ((i + 1) * 100, f"v{i}!") if 10 <= i <= 14 else (i + 1, f"v{i}")
        assert got[i] == want, i
    feed = read_change_feed(spark, p, ["k"], from_version=1)
    assert {(r.k, r._change_type) for r in feed.collect()} == {
        (i, "update_postimage") for i in range(10, 15)}
    assert {r.version: r.operation for r in
            table_history(spark, p).collect()}[2] == "UPDATE"
    # a violating assignment is rejected atomically
    with pytest.raises(ConstraintViolation, match="m_pos"):
        update_where(spark, p, [("k", "=", 3)], set={"m": "-m"})
    assert _latest_committed(p) == 2
    # unknown column and empty set fail loudly
    with pytest.raises(ValueError, match="unknown column"):
        update_where(spark, p, [("k", "=", 3)], set={"nope": "1"})
    with pytest.raises(ValueError, match="at least one assignment"):
        update_where(spark, p, [("k", "=", 3)], set={})


def test_dml_on_bucketed_table_keeps_layout(spark, tmp_path):
    """DML over the bucketed COW layout: _bucket dirs and the layout
    contract survive, untouched bucket files stay hardlinked, a later
    inherit-mode merge still works, and bucket-key assignment refuses."""
    from project2_bigdata_spark.sources.ingest import (
        _read_layout, delete_where, merge_upsert_bucketed, read_version,
        update_where,
    )

    p = str(tmp_path / "t")
    merge_upsert_bucketed(
        spark, p, _kv(spark, [(k, 10, f"v{k}") for k in range(64)]),
        keys=["k"], order_cols=["ts"], n_buckets=8)
    v = update_where(spark, p, [("k", "in", [3])], set={"v": "'upd'"})
    assert v == 2
    assert _read_layout(p, 2, root_fallback=False) == {
        "n_buckets": 8, "bucket_keys": ["k"]}
    got = {r.k: r.v for r in read_version(spark, p, 2).collect()}
    assert got[3] == "upd" and got[60] == "v60" and len(got) == 64

    def inodes(version):
        return {os.path.relpath(f, f"{p}/v={version}"): os.stat(f).st_ino
                for f in glob.glob(f"{p}/v={version}/_bucket=*/*.parquet")}

    i1, i2 = inodes(1), inodes(2)
    # hash-bucketed files have WIDE k ranges, so stats prune fewer
    # files than a range-clustered layout would — but never zero
    assert len({f for f in i2 if f in i1 and i2[f] == i1[f]}) >= 3
    with pytest.raises(ValueError, match="bucket-layout"):
        update_where(spark, p, [("k", "=", 3)], set={"k": "k + 1"})
    assert delete_where(spark, p, [("k", "in", [60, 61])]) == 3
    # inherit-mode merge over the post-DML layout
    merge_upsert_bucketed(spark, p, _kv(spark, [(99, 20, "new")]),
                          keys=["k"], order_cols=["ts"], n_buckets=None)
    got = {r.k: r.v for r in read_version(spark, p, 4).collect()}
    assert 60 not in got and got[99] == "new" and len(got) == 63


# ---------------------------------------------------------------------------
# VERDICT r11 item 2: executor-side stats collection


def test_distributed_stats_byte_identical_to_driver_walk(spark, tmp_path):
    """The two collectors must agree exactly — same files, same
    columns, same encoded bounds — across every type class: ints,
    floats (incl. all-NaN, some-NaN, all-null files), strings, dates,
    and the skipped classes (bool/decimal/timestamp)."""
    from pyspark.sql import functions as F

    from project2_bigdata_spark.sources.ingest import (
        _collect_file_stats, commit_version,
    )

    p = str(tmp_path / "t")
    df = spark.range(0, 300).select(
        F.col("id").cast("int").alias("k"),
        F.when(F.col("id") % 90 == 7, float("nan"))
        .when(F.col("id") % 7 == 0, None)
        .otherwise(F.col("id").cast("double") / 3).alias("x"),
        F.concat(F.lit("s"), F.lpad(F.col("id").cast("string"), 4, "0"))
        .alias("s"),
        F.date_add(F.lit("2024-01-01").cast("date"),
                   F.col("id").cast("int")).alias("d"),
        (F.col("id") % 2 == 0).alias("b"),
        F.col("id").cast("decimal(18,2)").alias("dec"),
        F.timestamp_seconds(F.col("id") * 1000).alias("ts"),
    )
    assert commit_version(df.repartitionByRange(6, "k"), p, 1)
    vdir = f"{p}/v=1"
    driver = _collect_file_stats(vdir)
    dist = _collect_file_stats(vdir, spark=spark, distributed_min=1)
    assert driver == dist
    # sanity: the agreed output really covers the eligible columns
    some = next(iter(driver.values()))
    assert set(some) <= {"k", "x", "s", "d"}
    assert "k" in some and "s" in some and "d" in some


def test_distributed_stats_reuse_and_threshold(spark, tmp_path):
    """reuse entries short-circuit both paths identically, and below
    the threshold the driver walk runs (no Spark job needed)."""
    from project2_bigdata_spark.sources.ingest import (
        _collect_file_stats, commit_version,
    )

    p = str(tmp_path / "t")
    df = spark.createDataFrame([(i, f"v{i}") for i in range(40)],
                               "k int, v string")
    assert commit_version(df.repartitionByRange(4, "k"), p, 1)
    vdir = f"{p}/v=1"
    full = _collect_file_stats(vdir)
    rels = sorted(full)
    reuse = {rels[0]: {"k": {"min": -1, "max": -1}}}  # sentinel entry
    a = _collect_file_stats(vdir, reuse=reuse)
    b = _collect_file_stats(vdir, reuse=reuse, spark=spark,
                            distributed_min=1)
    assert a == b
    assert a[rels[0]] == {"k": {"min": -1, "max": -1}}  # inherited
    for r in rels[1:]:
        assert a[r] == full[r]


def test_stats_skipping_survives_distributed_collection(spark, tmp_path,
                                                        monkeypatch):
    """End-to-end: a commit whose stats were collected executor-side
    (threshold forced to 1) prunes and answers exactly like one whose
    stats came from the driver walk."""
    from project2_bigdata_spark.sources import ingest
    from project2_bigdata_spark.sources.ingest import (
        commit_version, read_version,
    )

    monkeypatch.setattr(ingest, "_STATS_DISTRIBUTED_MIN", 1)
    p = str(tmp_path / "t")
    df = spark.createDataFrame([(i, i % 3) for i in range(300)],
                               "k int, m int")
    assert commit_version(df.repartitionByRange(6, "k"), p, 1)
    got = read_version(spark, p, 1, where=[("k", "between", (50, 99))])
    assert sorted(r.k for r in got.collect()) == list(range(50, 100))
    assert len(got.inputFiles()) < len(read_version(spark, p, 1).inputFiles())


def test_nan_bearing_float_column_never_prunes_finite_probes(spark,
                                                             tmp_path):
    """Regression (r12, found by the distributed parity test): Spark's
    writer records max=NaN for NaN-bearing double columns; storing that
    bound verbatim made every ``val <= hi`` comparison False, pruning
    files for finite values they actually hold. The bound is now
    skipped at collection time (and guarded read-side for legacy
    stats), so the finite probe finds its rows."""
    from project2_bigdata_spark.sources.ingest import (
        commit_version, read_version,
    )

    p = str(tmp_path / "t")
    rows = [(i, float(i)) for i in range(100)] + [(100, float("nan"))]
    df = spark.createDataFrame(rows, "k int, x double")
    assert commit_version(df.repartitionByRange(2, "k"), p, 1)
    got = read_version(spark, p, 1, where=[("x", "=", 75.0)]).collect()
    assert [r.k for r in got] == [75]
    # legacy stats with literal NaN bounds: the read-side guard admits
    stats_f = f"{p}/v=1/_stats.json"
    with open(stats_f) as f:
        legacy = json.load(f)
    for cols in legacy.values():
        cols["x"] = {"min": 0.0, "max": float("nan")}
    with open(stats_f, "w") as f:
        json.dump(legacy, f)
    got = read_version(spark, p, 1, where=[("x", "=", 75.0)]).collect()
    assert [r.k for r in got] == [75]


# ---------------------------------------------------------------------------
# VERDICT r11 item 5: disjoint-writer commit rebase


def _bucket_of(spark, keys, n):
    """Engine-truth bucket assignment for a list of int keys."""
    from project2_bigdata_spark.sources.ingest import _bucket_expr

    rows = spark.createDataFrame([(k,) for k in keys], "k int").select(
        "k", _bucket_expr(["k"], n).alias("b")).collect()
    return {r.k: r.b for r in rows}


def test_disjoint_racing_merges_rebase_without_remerge(spark, tmp_path):
    """Two merges touching DISJOINT buckets: the loser of the version
    race rebases its already-staged commit by relinking (zero
    re-merge — the pre-commit hook fires exactly once) and the final
    state carries BOTH deltas."""
    from project2_bigdata_spark.sources.ingest import (
        merge_upsert_bucketed, read_version, table_history,
    )

    p = str(tmp_path / "t")
    merge_upsert_bucketed(
        spark, p, _kv(spark, [(k, 10, f"v{k}") for k in range(64)]),
        keys=["k"], order_cols=["ts"], n_buckets=8)
    buckets = _bucket_of(spark, list(range(64)), 8)
    keys_a = [k for k in range(64) if buckets[k] < 4][:5]
    keys_b = [k for k in range(64) if buckets[k] >= 4][:5]
    assert keys_a and keys_b
    attempts = []

    def hook(attempt, target):
        attempts.append((attempt, target))
        if len(attempts) == 1:
            # a disjoint writer wins the race mid-flight
            merge_upsert_bucketed(
                spark, p, _kv(spark, [(k, 20, "A") for k in keys_a]),
                keys=["k"], order_cols=["ts"], n_buckets=None)

    v = merge_upsert_bucketed(
        spark, p, _kv(spark, [(k, 20, "B") for k in keys_b]),
        keys=["k"], order_cols=["ts"], n_buckets=None,
        pre_commit_hook=hook)
    assert v == 3
    assert attempts == [(0, 2)]  # ONE merge attempt: rebase, not retry
    got = {r.k: r.v for r in read_version(spark, p, 3).collect()}
    for k in keys_a:
        assert got[k] == "A"
    for k in keys_b:
        assert got[k] == "B"
    assert len(got) == 64
    hist = {r.version: r.operation
            for r in table_history(spark, p).collect()}
    assert hist == {1: "MERGE", 2: "MERGE", 3: "MERGE"}

    # the rebased commit is all hardlinks: winner buckets share inodes
    # with v2, loser buckets with nothing new written after the race
    def inodes(version):
        return {os.path.relpath(f, f"{p}/v={version}"): os.stat(f).st_ino
                for f in glob.glob(f"{p}/v={version}/_bucket=*/*.parquet")}

    i2, i3 = inodes(2), inodes(3)
    winner_side = {f for f in i3
                   if int(f.split("=")[1].split("/")[0]) < 4}
    assert winner_side and all(
        f in i2 and i3[f] == i2[f] for f in winner_side)


def test_overlapping_racing_merges_fall_back_to_remerge(spark, tmp_path):
    """Same race but the winner touches an OVERLAPPING bucket: rebase
    must refuse (the winner changed rows the loser's merge read) and
    the full re-merge runs — hook fires twice, result still exact."""
    from project2_bigdata_spark.sources.ingest import (
        merge_upsert_bucketed, read_version,
    )

    p = str(tmp_path / "t")
    merge_upsert_bucketed(
        spark, p, _kv(spark, [(k, 10, f"v{k}") for k in range(64)]),
        keys=["k"], order_cols=["ts"], n_buckets=8)
    buckets = _bucket_of(spark, list(range(64)), 8)
    b0 = [k for k in range(64) if buckets[k] == 0]
    shared, mine = b0[0], b0[1]  # same bucket, different keys
    attempts = []

    def hook(attempt, target):
        attempts.append(attempt)
        if len(attempts) == 1:
            merge_upsert_bucketed(
                spark, p, _kv(spark, [(shared, 30, "WINNER")]),
                keys=["k"], order_cols=["ts"], n_buckets=None)

    v = merge_upsert_bucketed(
        spark, p, _kv(spark, [(mine, 20, "LOSER")]),
        keys=["k"], order_cols=["ts"], n_buckets=None,
        pre_commit_hook=hook)
    assert v == 3
    assert attempts == [0, 1]  # full retry, not rebase
    got = {r.k: r.v for r in read_version(spark, p, 3).collect()}
    assert got[shared] == "WINNER" and got[mine] == "LOSER"
    assert len(got) == 64


def test_racing_nonmerge_commit_blocks_rebase(spark, tmp_path):
    """A non-MERGE commit (OPTIMIZE) in the race window rewrites every
    bucket — rebase must refuse and the loser re-merges."""
    from project2_bigdata_spark.sources.ingest import (
        merge_upsert_bucketed, optimize_version, read_version,
    )

    p = str(tmp_path / "t")
    merge_upsert_bucketed(
        spark, p, _kv(spark, [(k, 10, f"v{k}") for k in range(64)]),
        keys=["k"], order_cols=["ts"], n_buckets=8)
    attempts = []

    def hook(attempt, target):
        attempts.append(attempt)
        if len(attempts) == 1:
            optimize_version(spark, p)

    v = merge_upsert_bucketed(
        spark, p, _kv(spark, [(3, 20, "upd")]),
        keys=["k"], order_cols=["ts"], n_buckets=None,
        pre_commit_hook=hook)
    assert v == 3 and attempts == [0, 1]
    got = {r.k: r.v for r in read_version(spark, p, 3).collect()}
    assert got[3] == "upd" and len(got) == 64


# ---------------------------------------------------------------------------
# r12: bucket pruning for point lookups on the bucketed layout


def test_bucket_point_lookup_opens_one_bucket(spark, tmp_path):
    """An equality probe on the bucket key opens exactly the one
    _bucket=K dir the deterministic bucket function maps it to —
    SelectedBucketsCount for the v=N layout — and the result equals
    the plain filter (the cast-to-recorded-type hash is exact)."""
    from project2_bigdata_spark.sources.ingest import (
        merge_upsert_bucketed, read_version,
    )

    p = str(tmp_path / "t")
    merge_upsert_bucketed(
        spark, p, _kv(spark, [(k, 10, f"v{k}") for k in range(256)]),
        keys=["k"], order_cols=["ts"], n_buckets=16)
    n_all = len(read_version(spark, p, 1).inputFiles())
    assert n_all >= 16
    for probe in (3, 77, 255):
        got = read_version(spark, p, 1, where=[("k", "=", probe)])
        rows = got.collect()
        assert [(r.k, r.v) for r in rows] == [(probe, f"v{probe}")]
        dirs = {f.split("/_bucket=")[1].split("/")[0]
                for f in got.inputFiles()}
        assert len(dirs) == 1  # exactly one bucket opened

    # in-list: at most one dir per probed value
    got = read_version(spark, p, 1, where=[("k", "in", [3, 77, 255])])
    assert sorted(r.k for r in got.collect()) == [3, 77, 255]
    dirs = {f.split("/_bucket=")[1].split("/")[0]
            for f in got.inputFiles()}
    assert 1 <= len(dirs) <= 3

    # unpinned key (range op): no bucket pruning, still exact
    got = read_version(spark, p, 1, where=[("k", "between", (10, 12))])
    assert sorted(r.k for r in got.collect()) == [10, 11, 12]

    # key + extra conjunct: bucket pruning still applies, result exact
    got = read_version(spark, p, 1,
                       where=[("k", "=", 77), ("ts", ">", 5)])
    assert [(r.k,) for r in got.collect()] == [(77,)]
    assert len({f.split("/_bucket=")[1].split("/")[0]
                for f in got.inputFiles()}) == 1

    # empty membership: empty relation, full schema
    got = read_version(spark, p, 1, where=[("k", "in", [])])
    assert got.count() == 0 and set(got.columns) >= {"k", "ts", "v"}


def test_bucket_point_lookup_exhaustive_parity(spark, tmp_path):
    """Every key of the dimension found through its pruned point
    lookup — a wrong bucket choice anywhere (e.g. a hash computed on
    the wrong physical type) would MISS a row here."""
    from project2_bigdata_spark.sources.ingest import (
        merge_upsert_bucketed, read_version,
    )

    p = str(tmp_path / "t")
    merge_upsert_bucketed(
        spark, p, _kv(spark, [(k, 10, f"v{k}") for k in range(64)]),
        keys=["k"], order_cols=["ts"], n_buckets=8)
    # one in-probe covering every key must return the full dimension
    got = read_version(spark, p, 1,
                       where=[("k", "in", list(range(64)))])
    assert sorted(r.k for r in got.collect()) == list(range(64))
    # spot equality probes across the space
    for k in range(0, 64, 7):
        assert [r.v for r in read_version(
            spark, p, 1, where=[("k", "=", k)]).collect()] == [f"v{k}"]


def test_bucket_point_lookup_string_keys_and_plain_tables(spark,
                                                          tmp_path):
    """String bucket keys prune exactly too, and plain (unbucketed)
    tables skip bucket pruning without error."""
    from project2_bigdata_spark.sources.ingest import (
        commit_version, merge_upsert_bucketed, read_version,
    )

    p = str(tmp_path / "t")
    rows = [(f"key_{i}", 10, f"v{i}") for i in range(64)]
    df = spark.createDataFrame(rows, "k string, ts int, v string")
    merge_upsert_bucketed(spark, p, df, keys=["k"], order_cols=["ts"],
                          n_buckets=8)
    got = read_version(spark, p, 1, where=[("k", "=", "key_33")])
    assert [r.v for r in got.collect()] == ["v33"]
    assert len({f.split("/_bucket=")[1].split("/")[0]
                for f in got.inputFiles()}) == 1

    p2 = str(tmp_path / "plain")
    assert commit_version(_kv(spark, [(1, 10, "a"), (2, 10, "b")]), p2, 1)
    got = read_version(spark, p2, 1, where=[("k", "=", 2)])
    assert [r.v for r in got.collect()] == ["b"]


def test_keyed_delete_on_bucketed_rewrites_one_bucket(spark, tmp_path):
    """The GDPR erasure shape: delete_where(key = X) against a
    bucketed dimension rewrites exactly the ONE bucket X hashes to —
    every other bucket's files ride as hardlinks — even though the
    hash-scattered key ranges make min/max stats admit nearly every
    file."""
    from project2_bigdata_spark.sources.ingest import (
        delete_where, merge_upsert_bucketed, read_version,
    )

    p = str(tmp_path / "t")
    merge_upsert_bucketed(
        spark, p, _kv(spark, [(k, 10, f"v{k}") for k in range(256)]),
        keys=["k"], order_cols=["ts"], n_buckets=16)
    assert delete_where(spark, p, [("k", "=", 77)]) == 2
    got = {r.k for r in read_version(spark, p, 2).collect()}
    assert 77 not in got and len(got) == 255

    def inodes(version):
        return {os.path.relpath(f, f"{p}/v={version}"): os.stat(f).st_ino
                for f in glob.glob(f"{p}/v={version}/_bucket=*/*.parquet")}

    i1, i2 = inodes(1), inodes(2)
    rewritten_dirs = {os.path.dirname(f) for f in set(i2) - set(i1)}
    linked = {f for f in i2 if f in i1 and i2[f] == i1[f]}
    assert len(rewritten_dirs) == 1  # exactly one bucket rewritten
    assert len({os.path.dirname(f) for f in linked}) == 15
