"""S1/S4/S6 source-sink tests: extended-JSON file ingest with repair,
CSV report sink round-trip, overwrite semantics."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from project2_bigdata_spark.sources.ingest import (
    read_extended_json, write_report_csv,
)

DOCS = [
    # clean: $date wrapper, decimal prices
    '{"_id": {"$oid": "a1"}, "saleDate": {"$date": "2015-03-02T10:30:00Z"},'
    ' "items": [{"name": "pens", "price": {"$numberDecimal": "2.50"}, "quantity": 4},'
    '           {"name": "binder", "price": {"$numberDecimal": "13.40"}, "quantity": 1}],'
    ' "storeLocation": "Denver", "purchaseMethod": "Online", "couponUsed": true}',
    # dirty: bare ISO-string saleDate (the dashboard.py:57-67 case)
    '{"_id": {"$oid": "a2"}, "saleDate": "2015-03-03 08:00:00",'
    ' "items": [{"name": "laptop", "price": {"$numberDecimal": "600.00"}, "quantity": 2}],'
    ' "storeLocation": "Seattle", "purchaseMethod": "In store", "couponUsed": false}',
    # broken date → repair yields null (onError: None)
    '{"_id": {"$oid": "a3"}, "saleDate": "not-a-date", "items": [],'
    ' "storeLocation": "Austin", "purchaseMethod": "Phone", "couponUsed": false}',
]


def test_extended_json_ingest_repair(spark):
    d = tempfile.mkdtemp(prefix="ingest_", dir="/root/repo")
    try:
        with open(f"{d}/sales.json", "w") as f:
            f.write("\n".join(DOCS))
        df = read_extended_json(spark, f"{d}/sales.json")
        rows = {r.sale_id: r for r in df.collect()}
        assert set(rows) == {"a1", "a2", "a3"}
        assert str(rows["a1"].saleDate) == "2015-03-02 10:30:00"
        assert str(rows["a2"].saleDate) == "2015-03-03 08:00:00"
        assert rows["a3"].saleDate is None  # onError → None parity
        assert [i.name for i in rows["a1"].items] == ["pens", "binder"]
        # Decimal128 → DecimalType(18,2), not float (quirk-5 fix)
        assert str(rows["a1"].items[0].price) == "2.50"
        # ticket revenue via array fold, decimal-exact: 4*2.50 + 1*13.40
        rev = (
            df.filter(F.col("sale_id") == "a1")
            .select(F.expr(
                "aggregate(items, CAST(0 AS DECIMAL(28,2)),"
                " (a, x) -> CAST(a + x.price * x.quantity AS DECIMAL(28,2)))"
            ).alias("r"))
            .first().r
        )
        assert str(rev) == "23.40"
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_csv_report_sink_roundtrip(spark, sf_dir):
    from project2_bigdata_spark.operators.salesviews import sales_daily

    d = tempfile.mkdtemp(prefix="report_", dir="/root/repo")
    try:
        src = sales_daily(spark, sf_dir)
        write_report_csv(src, f"{d}/report")
        write_report_csv(src, f"{d}/report")  # S6: overwrite, not append
        back = spark.read.option("header", True).csv(f"{d}/report")
        assert back.count() == src.count()
        assert set(back.columns) == set(src.columns)
        a = src.agg(F.sum(F.col("total_revenue").cast("decimal(18,2)"))).first()[0]
        b = back.agg(F.sum(F.col("total_revenue").cast("decimal(18,2)"))).first()[0]
        assert a == b  # revenue checksum survives the sink round-trip
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_partitioned_sink_prunes(spark, sf_dir):
    """Partitioned layout: lang=*/ directories on disk; a partition
    filter reads ONLY its directory's files (planning-time pruning —
    the property that makes the layout work at 100 TB)."""
    import os

    from project2_bigdata_spark.sources.ingest import (
        read_pruned, write_partitioned_parquet,
    )

    d = tempfile.mkdtemp(prefix="part_", dir="/root/repo")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        write_partitioned_parquet(docs, f"{d}/docs", ["lang"])
        dirs = {e for e in os.listdir(f"{d}/docs") if e.startswith("lang=")}
        assert "lang=en" in dirs and len(dirs) >= 2

        pruned = read_pruned(spark, f"{d}/docs", lang="en")
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        # the lang predicate must land in PartitionFilters (planning-time
        # directory pruning), not in the data-filter clause
        assert "PartitionFilters: [" in plan
        assert "lang" in plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        want = docs.filter(F.col("lang") == "en").count()
        assert pruned.count() == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_orc_sink_source_roundtrip(spark, sf_dir):
    """ORC round-trip preserves values and supports partition pruning +
    predicate pushdown like parquet."""
    import shutil
    import tempfile

    from project2_bigdata_spark.catalog import table
    from project2_bigdata_spark.sources.ingest import read_orc, write_orc

    d = tempfile.mkdtemp(prefix="orc_", dir="/root/repo")
    try:
        docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
        write_orc(docs, f"{d}/docs", partition_cols=["lang"])
        back = read_orc(spark, f"{d}/docs")
        assert back.count() == docs.count()
        # values survive (checksum over ids + chars)
        a = docs.agg(F.sum("doc_id"), F.sum("n_chars")).first()
        b = back.agg(F.sum("doc_id"), F.sum("n_chars")).first()
        assert tuple(a) == tuple(b)
        # partition pruning reaches the scan
        plan = back.filter(F.col("lang") == "en")._jdf.queryExecution().executedPlan().toString()
        assert "lang" in plan
        pruned = read_orc(spark, f"{d}/docs").filter(F.col("lang") == "en")
        en = docs.filter(F.col("lang") == "en").count()
        assert pruned.count() == en
        # overwrite semantics (S6)
        write_orc(docs.limit(10), f"{d}/docs")
        assert read_orc(spark, f"{d}/docs").count() == 10
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_compaction_merges_small_files(spark, sf_dir):
    """Many tiny files → one near-target-size file; values unchanged."""
    import shutil
    import tempfile

    from project2_bigdata_spark.catalog import table
    from project2_bigdata_spark.sources.ingest import compact_small_files

    d = tempfile.mkdtemp(prefix="compact_", dir="/root/repo")
    try:
        docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
        docs.repartition(16).write.mode("overwrite").parquet(f"{d}/t")
        import glob
        before = len(glob.glob(f"{d}/t/*.parquet"))
        assert before >= 16
        checksum = docs.agg(F.sum("doc_id"), F.sum("n_chars")).first()
        n_after = compact_small_files(spark, f"{d}/t")
        assert n_after == 1  # tiny table → single 128MB-target file
        back = spark.read.parquet(f"{d}/t")
        assert tuple(back.agg(F.sum("doc_id"), F.sum("n_chars")).first()) == tuple(checksum)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_compaction_recovers_from_mid_rename_crash(spark, sf_dir):
    """A crash between compaction's two renames leaves the table only at
    .__compact_old__; the next compact_small_files call must rename it
    back and proceed (ADVICE r3 item 3) — no manual recovery."""
    import shutil
    import tempfile

    from project2_bigdata_spark.catalog import table
    from project2_bigdata_spark.sources.ingest import compact_small_files

    d = tempfile.mkdtemp(prefix="compact_crash_", dir="/root/repo")
    try:
        docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
        docs.repartition(4).write.mode("overwrite").parquet(f"{d}/t")
        checksum = tuple(docs.agg(F.sum("doc_id"), F.sum("n_chars")).first())
        # simulate the crash window: live → .old done, tmp → live not
        import os
        os.rename(f"{d}/t", f"{d}/t.__compact_old__")
        n_after = compact_small_files(spark, f"{d}/t")
        assert n_after == 1
        back = spark.read.parquet(f"{d}/t")
        assert tuple(back.agg(F.sum("doc_id"), F.sum("n_chars")).first()) == checksum
        assert not os.path.exists(f"{d}/t.__compact_old__")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_schema_evolution_merged_read(spark, sf_dir):
    """Two batches with different columns read as one relation."""
    import shutil
    import tempfile

    from project2_bigdata_spark.sources.ingest import read_merged_schema

    d = tempfile.mkdtemp(prefix="evolve_", dir="/root/repo")
    try:
        spark.range(5).select(F.col("id"), F.lit("a").alias("old_col")) \
            .write.parquet(f"{d}/t/batch=1")
        spark.range(5, 10).select(F.col("id"), F.lit(2.5).alias("new_col")) \
            .write.parquet(f"{d}/t/batch=2")
        df = read_merged_schema(spark, f"{d}/t")
        assert {"id", "old_col", "new_col", "batch"} <= set(df.columns)
        assert df.count() == 10
        # absent columns are null, not errors
        assert df.filter(F.col("new_col").isNull()).count() == 5
        assert df.filter(F.col("old_col").isNull()).count() == 5
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_permissive_ingest_quarantines_corrupt_lines(spark):
    """One malformed line must not kill the ingest: it lands in the
    quarantine relation verbatim; clean rows parse normally."""
    import shutil
    import tempfile

    from project2_bigdata_spark.sources.ingest import read_extended_json_permissive

    d = tempfile.mkdtemp(prefix="quarantine_", dir="/root/repo")
    try:
        with open(f"{d}/sales.json", "w") as f:
            f.write("\n".join(DOCS + ['{"_id": {"$oid": "bad"', "not json at all"]))
        clean, quarantine = read_extended_json_permissive(spark, f"{d}/sales.json")
        assert {r.sale_id for r in clean.collect()} == {"a1", "a2", "a3"}
        bad = [r.raw_line for r in quarantine.collect()]
        assert len(bad) == 2 and "not json at all" in bad
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_sorted_write_tightens_rowgroup_stats(spark):
    """Sort-on-write clustering: the sorted layout's per-row-group
    [min,max] key ranges are disjoint (skippable from footer stats);
    a shuffled layout of the same data overlaps almost everywhere."""
    import glob
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from project2_bigdata_spark.sources.ingest import write_sorted_parquet

    d = tempfile.mkdtemp(prefix="sorted_", dir="/root/repo")
    try:
        df = spark.range(300_000).select(
            F.col("id").alias("k"), (F.col("id") * 7 % 1000).alias("v")
        )
        # shuffled baseline: ordering by hash interleaves the key range
        shuffled = df.orderBy(F.expr("pmod(hash(k), 97)")).coalesce(1)

        def rg_ranges(path):
            f = glob.glob(f"{path}/*.parquet")[0]
            md = pq.ParquetFile(f).metadata
            return [
                (md.row_group(i).column(0).statistics.min,
                 md.row_group(i).column(0).statistics.max)
                for i in range(md.num_row_groups)
            ]

        opt = {"parquet.block.size": str(256 * 1024)}
        shuffled.write.mode("overwrite").options(**opt).parquet(f"{d}/messy")
        df.coalesce(1).sortWithinPartitions("k").write.mode("overwrite") \
            .options(**opt).parquet(f"{d}/sorted")
        # write_sorted_parquet is the same layout path
        write_sorted_parquet(df.coalesce(1), f"{d}/sorted2", ["k"])

        sorted_r = sorted(rg_ranges(f"{d}/sorted"))
        messy_r = sorted(rg_ranges(f"{d}/messy"))
        assert len(sorted_r) >= 2, "need multiple row groups to prove skipping"
        for (lo1, hi1), (lo2, hi2) in zip(sorted_r, sorted_r[1:]):
            assert hi1 <= lo2, f"overlapping sorted ranges {sorted_r}"
        # the messy layout overlaps: every row group spans ~the full key range
        overlaps = sum(
            1 for (lo1, hi1), (lo2, hi2) in zip(messy_r, messy_r[1:]) if hi1 > lo2
        )
        assert overlaps > 0, "hash layout unexpectedly clustered"
        back = spark.read.parquet(f"{d}/sorted2")
        assert back.count() == 300_000
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_versioned_snapshots_time_travel(spark, sf_dir):
    """Each write creates v=N; old versions stay readable and bit-
    identical after later writes (reproducible training-data lineage)."""
    import shutil
    import tempfile

    from project2_bigdata_spark.catalog import table
    from project2_bigdata_spark.sources.ingest import read_version, write_versioned

    d = tempfile.mkdtemp(prefix="versions_", dir="/root/repo")
    try:
        docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
        v1 = write_versioned(docs.filter(F.col("doc_id") < 100), f"{d}/t")
        v2 = write_versioned(docs, f"{d}/t")
        assert (v1, v2) == (1, 2)
        n1 = read_version(spark, f"{d}/t", 1).count()
        assert n1 == docs.filter(F.col("doc_id") < 100).count()
        assert read_version(spark, f"{d}/t").count() == docs.count()  # latest
        v3 = write_versioned(docs.limit(5), f"{d}/t")
        assert v3 == 3
        assert read_version(spark, f"{d}/t", 1).count() == n1  # unchanged
    finally:
        shutil.rmtree(d, ignore_errors=True)



def _jobs_started(spark, group: str, fn):
    """Run ``fn()`` under job group ``group``; return (result, the ids
    of the jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_read_version_uses_recorded_schema_without_jobs(spark, sf_dir,
                                                        tmp_path):
    """Every commit records its schema, so reading a NON-EMPTY version
    starts no schema-inference job. A version without the marker (a
    commit made before every commit recorded one) still reads, with an
    inferred schema, to identical rows."""
    import os

    from project2_bigdata_spark.catalog import table
    from project2_bigdata_spark.sources.ingest import (
        commit_version, read_version,
    )

    path = str(tmp_path / "t")
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    assert commit_version(docs.repartition(3), path, 1)
    marker = os.path.join(path, "v=1", "_schema.json")
    assert os.path.exists(marker)

    df, jobs = _jobs_started(spark, "read_version_marked",
                             lambda: read_version(spark, path, 1))
    assert jobs == [], f"read_version started jobs {jobs}"
    want = sorted(map(tuple, docs.collect()))
    marked = sorted(map(tuple, df.collect()))
    assert marked == want

    os.remove(marker)  # stands in for a commit without a marker
    legacy = read_version(spark, path, 1)
    assert legacy.columns == df.columns
    assert sorted(map(tuple, legacy.collect())) == marked


def test_merge_upsert_scd1_semantics_and_isolation(spark, tmp_path):
    """merge_upsert (VERDICT r7 item 8): matched keys UPDATE, unmatched
    delta keys INSERT, untouched base rows survive; the within-delta
    winner follows order_cols with a deterministic tiebreak; each merge
    lands a NEW version while pinned readers of the prior snapshot see
    bit-identical state (snapshot isolation)."""
    from project2_bigdata_spark.sources.ingest import (
        merge_upsert, read_version,
    )

    path = str(tmp_path / "dim")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, v string, ts long")
    v1 = merge_upsert(spark, path, base, keys=["k"], order_cols=["ts", "v"])
    assert v1 == 1  # bootstrap: delta IS the first snapshot

    delta = spark.createDataFrame(
        [
            (2, "b2", 21), (2, "b3", 25),   # update key 2: ts=25 wins
            (4, "d", 40),                    # insert key 4
            (5, "e1", 50), (5, "e0", 50),    # insert key 5: ts tie →
                                             # v desc tiebreak → e1
        ],
        "k long, v string, ts long")
    v2 = merge_upsert(spark, path, delta, keys=["k"], order_cols=["ts", "v"])
    assert v2 == 2

    got = {r.k: (r.v, r.ts) for r in read_version(spark, path, 2).collect()}
    assert got == {1: ("a", 10), 2: ("b3", 25), 3: ("c", 30),
                   4: ("d", 40), 5: ("e1", 50)}

    # snapshot isolation: v=1 is untouched by the merge
    pinned = {r.k: (r.v, r.ts) for r in read_version(spark, path, 1).collect()}
    assert pinned == {1: ("a", 10), 2: ("b", 20), 3: ("c", 30)}

    # a third delta merges against the LATEST version, not the first
    v3 = merge_upsert(
        spark, path,
        spark.createDataFrame([(4, "d2", 41)], "k long, v string, ts long"),
        keys=["k"], order_cols=["ts", "v"])
    assert v3 == 3
    got3 = {r.k: r.v for r in read_version(spark, path).collect()}
    assert got3 == {1: "a", 2: "b3", 3: "c", 4: "d2", 5: "e1"}


def test_vacuum_versions_retention(spark, tmp_path):
    """vacuum_versions drops everything outside the retention window,
    never the latest, and refuses keep<1; surviving pinned reads are
    untouched."""
    import pytest

    from project2_bigdata_spark.sources.ingest import (
        read_version, vacuum_versions, write_versioned,
    )

    path = str(tmp_path / "dim")
    import os as _os

    _os.makedirs(path)
    for i in range(4):
        write_versioned(
            spark.createDataFrame([(i,)], "v long"), path)
    assert vacuum_versions(path, keep=2) == [1, 2]
    assert {r.v for r in read_version(spark, path, 3).collect()} == {2}
    assert {r.v for r in read_version(spark, path).collect()} == {3}
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):  # PATH_NOT_FOUND
        spark.read.parquet(f"{path}/v=1").collect()
    assert vacuum_versions(path, keep=5) == []  # window wider than table
    with pytest.raises(ValueError):
        vacuum_versions(path, keep=0)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """The 100 TB read-path contract the partitioned sink exists for:
    when the fact is partitioned on the join key and the dimension side
    carries a selective filter, Spark must inject a runtime
    dynamicpruningexpression into the fact scan's PartitionFilters —
    only the dimension-selected partitions' files are ever listed/read.
    Static pruning (read_pruned) is already pinned; this pins the
    RUNTIME variant a star join needs when the partition values come
    from another table."""
    from pyspark.sql import functions as F

    from project2_bigdata_spark.catalog import table

    path = str(tmp_path / "orders_by_year")
    (table(spark, sf_dir, "orders")
     .withColumn("o_year", F.year("o_orderdate"))
     .write.partitionBy("o_year").parquet(path))
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [(y, "pick" if y == 1997 else "skip") for y in range(1995, 2002)],
        "d_year int, tag string")

    joined = fact.join(
        dim.where(F.col("tag") == "pick"),
        fact.o_year == dim.d_year,
    ).agg(F.count("*").alias("n"))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower(), plan

    # behavioral: identical to the statically-pruned count
    expected = fact.where(F.col("o_year") == 1997).count()
    assert joined.collect()[0].n == expected > 0


def test_merge_upsert_latest_wins_out_of_order_delta(spark, tmp_path):
    """resolve='latest_wins': a LATE (out-of-order) delta must not
    regress a newer base row, while still updating genuinely-newer keys
    and inserting unknown ones; 'delta_wins' on the same input shows
    the contrast (batch authoritative = regression by design)."""
    import pytest

    from project2_bigdata_spark.sources.ingest import (
        merge_upsert, read_version,
    )

    base = spark.createDataFrame(
        [(1, "new", 100), (2, "cur", 50)], "k long, v string, ts long")
    late_delta = spark.createDataFrame(
        [(1, "stale", 10),    # OLDER than base's k=1 → must lose
         (2, "newer", 60),    # newer → must win
         (3, "insert", 5)],   # unknown key → insert
        "k long, v string, ts long")

    p1 = str(tmp_path / "latest")
    merge_upsert(spark, p1, base, keys=["k"], order_cols=["ts"])
    merge_upsert(spark, p1, late_delta, keys=["k"], order_cols=["ts"],
                 resolve="latest_wins")
    got = {r.k: (r.v, r.ts) for r in read_version(spark, p1).collect()}
    assert got == {1: ("new", 100), 2: ("newer", 60), 3: ("insert", 5)}

    p2 = str(tmp_path / "deltaw")
    merge_upsert(spark, p2, base, keys=["k"], order_cols=["ts"])
    merge_upsert(spark, p2, late_delta, keys=["k"], order_cols=["ts"])
    got2 = {r.k: r.v for r in read_version(spark, p2).collect()}
    assert got2[1] == "stale"  # the documented delta-authoritative mode

    # exact order_cols tie → delta wins under latest_wins too
    tie = spark.createDataFrame([(2, "tie", 60)], "k long, v string, ts long")
    merge_upsert(spark, p1, tie, keys=["k"], order_cols=["ts"],
                 resolve="latest_wins")
    assert {r.k: r.v for r in read_version(spark, p1).collect()}[2] == "tie"

    with pytest.raises(ValueError, match="latest_wins needs order_cols"):
        merge_upsert(spark, p1, tie, keys=["k"], resolve="latest_wins")
    with pytest.raises(ValueError, match="delta_wins|latest_wins"):
        merge_upsert(spark, p1, tie, keys=["k"], order_cols=["ts"],
                     resolve="nope")
