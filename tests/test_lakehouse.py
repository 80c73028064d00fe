"""Lakehouse commit pipeline: every ``v=N`` publish goes through one
stage → mark → publish seam (``_publish``) inside one optimistic-retry
loop (``_occ``). Covers the pinned-layout rule on the DML verbs, the
bucket-key guard of ``update_where``, the bucketed bootstrap race, and
``write_versioned`` on the shared seam.
"""

from __future__ import annotations

import os

import pytest


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k int, ts int, v string")


def _bucket_of(spark, keys, n):
    """Engine-truth bucket assignment for a list of int keys."""
    from project2_bigdata_spark.sources.ingest import _bucket_expr

    rows = spark.createDataFrame([(k,) for k in keys], "k int").select(
        "k", _bucket_expr(["k"], n).alias("b")).collect()
    return {r.k: r.b for r in rows}


def test_dml_on_plain_version_ignores_stale_root_layout(spark, tmp_path):
    """A plain version restored under a bucketed root hint: the DML
    verbs resolve the layout from the pinned base version's own marker
    (as optimize, rebucket and restore do), so they rewrite it plain
    instead of partitioning by a ``_bucket`` column it does not have."""
    from project2_bigdata_spark.sources.ingest import (
        _read_layout, _write_root_layout_hint, commit_version, delete_where,
        read_version, restore_version, update_where,
    )

    p = str(tmp_path / "t")
    assert commit_version(_kv(spark, [(1, 10, "a"), (2, 10, "b")]), p, 1)
    assert commit_version(_kv(spark, [(1, 20, "a2")]), p, 2)
    _write_root_layout_hint(p, {"n_buckets": 32, "bucket_keys": ["k"]})
    assert restore_version(spark, p, 1) == 3
    v = delete_where(spark, p, [("k", "=", 1)])
    assert v == 4
    df = read_version(spark, p, v)
    assert "_bucket" not in df.columns
    assert {r.k: r.v for r in df.collect()} == {2: "b"}
    assert _read_layout(p, v, root_fallback=False) is None
    # a plain version freezes no columns: its key may be updated
    v = update_where(spark, p, [("k", "=", 2)], set={"k": "k + 100"})
    assert {r.k: r.v for r in read_version(spark, p, v).collect()} == {
        102: "b"}


def test_update_where_bucket_key_guard_uses_version_layout(spark,
                                                           tmp_path):
    """The bucket-key guard reads the base version's recorded layout,
    not the advisory table-root hint: with the hint gone, assigning a
    bucket key must still refuse — a committed key change would leave
    the row in the wrong bucket, and bucket-pruned reads would miss
    it."""
    from project2_bigdata_spark.sources.ingest import (
        _versions, merge_upsert_bucketed, read_version, update_where,
    )

    p = str(tmp_path / "t")
    merge_upsert_bucketed(
        spark, p, _kv(spark, [(k, 10, f"v{k}") for k in range(8)]),
        keys=["k"], order_cols=["ts"], n_buckets=8)
    os.remove(f"{p}/_layout.json")
    with pytest.raises(ValueError, match="bucket-layout"):
        update_where(spark, p, [("k", "=", 3)], set={"k": "k + 100"})
    assert _versions(p, committed_only=False) == [1]
    got = read_version(spark, p, 1, where=[("k", "=", 3)]).collect()
    assert [(r.k, r.v) for r in got] == [(3, "v3")]


def test_bucketed_bootstrap_race_rebases_disjoint_writer(spark, tmp_path):
    """Two bucketed merges race to bootstrap ``v=1`` on disjoint
    buckets: the loser rebases its staged commit onto the winner (one
    merge attempt, no re-merge) and ``v=2`` holds both batches."""
    from project2_bigdata_spark.sources.ingest import (
        merge_upsert_bucketed, read_version, table_history,
    )

    p = str(tmp_path / "t")
    buckets = _bucket_of(spark, list(range(64)), 8)
    keys_a = [k for k in range(64) if buckets[k] < 4][:5]
    keys_b = [k for k in range(64) if buckets[k] >= 4][:5]
    attempts = []

    def hook(attempt, target):
        attempts.append((attempt, target))
        if len(attempts) == 1:
            merge_upsert_bucketed(
                spark, p, _kv(spark, [(k, 1, "A") for k in keys_a]),
                keys=["k"], order_cols=["ts"], n_buckets=8)

    v = merge_upsert_bucketed(
        spark, p, _kv(spark, [(k, 1, "B") for k in keys_b]),
        keys=["k"], order_cols=["ts"], n_buckets=8, pre_commit_hook=hook)
    assert v == 2
    assert attempts == [(0, 1)]
    got = {r.k: r.v for r in read_version(spark, p, 2).collect()}
    assert got == {**{k: "A" for k in keys_a}, **{k: "B" for k in keys_b}}
    assert {r.version: r.operation
            for r in table_history(spark, p).collect()} == {
        1: "MERGE", 2: "MERGE"}


def test_write_versioned_publishes_through_the_seam(spark, tmp_path):
    """write_versioned stages and renames like every other writer: a
    torn legacy directory on the successor name is quarantined rather
    than skipped, the commit carries its schema, stats and ``WRITE``
    markers, and no staging debris is left behind. It keeps the
    directory-mtime commit clock (no ``_commit_ts`` stamp)."""
    from project2_bigdata_spark.sources.ingest import (
        read_version, table_history, write_versioned,
    )

    p = str(tmp_path / "t")
    assert write_versioned(_kv(spark, [(1, 1, "a")]), p) == 1
    os.makedirs(f"{p}/v=2")  # torn debris: part file, no _SUCCESS
    with open(f"{p}/v=2/part-00000.parquet", "wb") as f:
        f.write(b"torn")
    assert write_versioned(_kv(spark, [(2, 2, "b")]), p) == 2
    assert [(r.k, r.v) for r in read_version(spark, p, 2).collect()] == [
        (2, "b")]
    names = os.listdir(p)
    assert any(n.startswith(".torn-v2-") for n in names)
    assert not any(n.startswith(".staged-") for n in names)
    for marker in ("_SUCCESS", "_schema.json", "_stats.json", "_op.json"):
        assert os.path.exists(f"{p}/v=2/{marker}"), marker
    assert not os.path.exists(f"{p}/v=2/_commit_ts")
    assert [r.operation for r in table_history(spark, p).collect()] == [
        "WRITE", "WRITE"]


def test_commit_marker_comes_from_the_seam(spark, tmp_path):
    """The staging write job leaves no ``_SUCCESS`` (nor its ``.crc``)
    of its own; the publish seam writes the one marker, so a committed
    ``v=N`` still carries ``_SUCCESS`` and readers still see it."""
    from project2_bigdata_spark.sources.ingest import (
        _stage, read_version, write_versioned,
    )

    df = _kv(spark, [(1, 1, "a"), (2, 2, "b")])
    staging = _stage(str(tmp_path / "s"), 1, df)
    names = os.listdir(staging)
    assert any(n.endswith(".parquet") for n in names), names
    assert "_SUCCESS" not in names and "._SUCCESS.crc" not in names, names

    p = str(tmp_path / "t")
    assert write_versioned(df, p) == 1
    assert write_versioned(df, p) == 2
    for v in (1, 2):
        assert os.path.exists(f"{p}/v={v}/_SUCCESS"), v
        assert sorted(r.k for r in read_version(spark, p, v).collect()) == [
            1, 2]
