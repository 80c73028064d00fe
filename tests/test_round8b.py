"""Round-8b additions: MMR diversified retrieval, cogrouped DTW,
Holt linear smoothing — Python recomputes (independent of both the
Spark plans and the DuckDB oracles) plus plan-shape pins.
"""

from __future__ import annotations

import numpy as np
import pytest

from project2_bigdata_spark.plans import REGISTRY


def _plan(spark, sf_dir, name):
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# MMR


def _r6(x: float) -> float:
    """Spark's F.round on doubles: HALF_UP over the shortest decimal
    repr (BigDecimal.valueOf). Python's builtin round() is half-even
    and disagrees exactly at .xxxxxx5 boundaries."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _mmr_python(emb: dict[int, np.ndarray], labels: dict[int, int],
                n_cand=20, k=5, lam=0.7, mu=0.3):
    """Greedy MMR recompute with the engine's 6dp round-before-rank
    discipline, straight from the embedding vectors."""
    q = emb[0]
    qn = float(np.sqrt(np.dot(q, q)))

    def cos(a, an, b, bn):
        return _r6(float(np.dot(a, b)) / (an * bn))

    norms = {i: float(np.sqrt(np.dot(v, v))) for i, v in emb.items()}
    rel = {i: cos(emb[i], norms[i], q, qn) for i in emb if i != 0}
    cand = sorted(rel, key=lambda i: (-rel[i], i))[:n_cand]
    selected, out = [], []
    for step in range(1, k + 1):
        best = None
        for i in cand:
            if i in selected:
                continue
            if not selected:
                score = rel[i]
            else:
                pen = max(cos(emb[i], norms[i], emb[s], norms[s])
                          for s in selected)
                score = _r6(lam * rel[i] - mu * pen)
            key = (-score, i)
            if best is None or key < best[0]:
                best = (key, i, score)
        selected.append(best[1])
        out.append((step, best[1], labels[best[1]], rel[best[1]], best[2]))
    return out


def test_mmr_matches_python_recompute(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "label", "embedding").collect()
    )
    emb = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    labels = {r.vec_id: r.label for r in rows}
    want = _mmr_python(emb, labels)
    got = [
        (r.step, r.vec_id, r.label, r.rel, r.mmr_score)
        for r in REGISTRY["mmr_diverse_topk"].fn(spark, sf_dir)
        .orderBy("step").collect()
    ]
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert g[3] == pytest.approx(w[3], abs=1e-9)
        assert g[4] == pytest.approx(w[4], abs=1e-9)


def test_mmr_plan_candidates_persisted_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "mmr_diverse_topk")
    # every greedy step re-reads the lineage-truncated candidate
    # relation (materialized once via truncate_lineage — localCheckpoint
    # here, reliable checkpoint with SPARK_GRAFT_CHECKPOINT_DIR), not
    # the corpus: the scan cost is paid once regardless of k
    assert ("ExistingRDD" in plan or "InMemoryTableScan" in plan), plan
    assert "CartesianProduct" not in plan, plan
    # the corpus parquet never appears in the greedy plan at all
    assert "embeddings" not in plan, plan


# ---------------------------------------------------------------------------
# DTW


def test_dtw_never_exceeds_l1(spark, sf_dir):
    """The diagonal (no-warp) path is one valid DTW alignment, so the
    optimal warp cost can never exceed pointwise L1 — a theorem, checked
    on every output row."""
    rows = REGISTRY["dtw_seasonal_similarity"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.dtw_cost <= r.l1_cost + 1e-6, r


def test_dtw_matches_python_recompute(spark, sf_dir):
    import pandas as pd

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").toPandas()
    li["y"] = li["l_shipdate"].dt.year
    li["m"] = li["l_shipdate"].dt.month
    li = li[li["y"].isin([1996, 1997])]
    li["rev"] = (li["l_extendedprice"] * (1 - li["l_discount"])).round(4)
    monthly = li.groupby(["l_partkey", "y", "m"])["rev"].sum().round(4)

    def series(pk, y):
        v = np.zeros(12)
        if (pk, y) in monthly.index.droplevel("m").unique():
            s = monthly.loc[pk, y]
            for m, val in s.items():
                v[m - 1] = val
        return v

    def dtw(a, b):
        dp = np.empty((12, 12))
        dp[0, 0] = abs(a[0] - b[0])
        for j in range(1, 12):
            dp[0, j] = dp[0, j - 1] + abs(a[0] - b[j])
        for i in range(1, 12):
            dp[i, 0] = dp[i - 1, 0] + abs(a[i] - b[0])
            for j in range(1, 12):
                dp[i, j] = abs(a[i] - b[j]) + min(
                    dp[i - 1, j], dp[i, j - 1], dp[i - 1, j - 1])
        return dp[-1, -1]

    got = {
        r.l_partkey: (r.dtw_cost, r.l1_cost)
        for r in REGISTRY["dtw_seasonal_similarity"].fn(spark, sf_dir).collect()
    }
    keys = sorted(li["l_partkey"].unique())
    assert set(got) == set(keys)
    for pk in keys[:50]:  # spot-check a prefix; values are approximate
        a, b = series(pk, 1996), series(pk, 1997)
        assert got[pk][0] == pytest.approx(dtw(a, b), rel=1e-6)
        assert got[pk][1] == pytest.approx(float(np.abs(a - b).sum()), rel=1e-6)


def test_dtw_plan_is_batched_map_in_pandas(spark, sf_dir):
    """The registered shape: ONE MapInPandas node (per-batch Python
    boundary), never a per-key cogroup call."""
    plan = _plan(spark, sf_dir, "dtw_seasonal_similarity")
    assert "MapInPandas" in plan, plan
    assert "FlatMapCoGroupsInPandas" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dtw_plan_is_cogrouped_pandas(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dtw_seasonal_cogrouped")
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dtw_batched_equals_cogrouped(spark, sf_dir):
    """Both Python boundaries run the same float64 cell order — outputs
    must be bit-identical, not approximately equal. The registered
    cogroup query runs the mod-16 key slice (r9), so compare on that
    slice AND pin that the slice is exactly the batched keys ≡ 0 mod
    16; the unsliced operator stays bit-equal too (spot asserted by
    calling it directly without key_mod)."""
    from project2_bigdata_spark.operators.timewarp import (
        dtw_seasonal_cogrouped,
    )
    from project2_bigdata_spark.plans.temporal import DTW_COGROUP_KEY_MOD

    a = {r.l_partkey: (r.dtw_cost, r.l1_cost)
         for r in REGISTRY["dtw_seasonal_similarity"].fn(spark, sf_dir).collect()}
    b = {r.l_partkey: (r.dtw_cost, r.l1_cost)
         for r in REGISTRY["dtw_seasonal_cogrouped"].fn(spark, sf_dir).collect()}
    assert b == {k: v for k, v in a.items() if k % DTW_COGROUP_KEY_MOD == 0}
    full = {r.l_partkey: (r.dtw_cost, r.l1_cost)
            for r in dtw_seasonal_cogrouped(spark, sf_dir).collect()}
    assert full == a


# ---------------------------------------------------------------------------
# Holt


def test_holt_matches_python_recompute(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").toPandas()
    li = li[li["l_shipdate"].dt.year == 1997].copy()
    li["day"] = li["l_shipdate"].dt.date
    li["rev"] = (li["l_extendedprice"] * (1 - li["l_discount"])).round(4)
    daily = li.groupby(["l_partkey", "day"])["rev"].sum().round(4)

    got = {
        r.l_partkey: r
        for r in REGISTRY["holt_linear_daily"].fn(spark, sf_dir).collect()
    }
    n_checked = 0
    for pk in sorted(daily.index.get_level_values(0).unique()):
        vals = [float(v) for _, v in sorted(daily.loc[pk].items())]
        if len(vals) < 2:
            assert pk not in got
            continue
        level, trend = vals[0], vals[1] - vals[0]
        for x in vals[1:]:
            nl = 0.3 * x + 0.7 * (level + trend)
            trend = 0.1 * (nl - level) + 0.9 * trend
            level = nl
        r = got[pk]
        assert r.n_days == len(vals)
        assert r.level == pytest.approx(level, rel=1e-9)
        assert r.trend == pytest.approx(trend, rel=1e-6, abs=1e-5)
        assert r.forecast_next == pytest.approx(level + trend, rel=1e-9)
        n_checked += 1
    assert n_checked == len(got)


def test_holt_plan_fold_not_window(spark, sf_dir):
    """The recurrence is an array fold, not a window-over-full-history:
    no Window operator, no Python worker."""
    plan = _plan(spark, sf_dir, "holt_linear_daily")
    assert "Window" not in plan, plan
    assert "InPandas" not in plan and "EvalPython" not in plan, plan


# ---------------------------------------------------------------------------
# ANN eval


def test_ann_eval_multiprobe_dominates_single_bucket(spark, sf_dir):
    """Multiprobe's candidate set is a superset of the single bucket's,
    and any candidate outranking a true-top-10 member is itself in the
    true top-10 — so per-query hits are monotone in the probe set."""
    rows = REGISTRY["ann_recall_ndcg"].fn(spark, sf_dir).collect()
    by = {(r.method, r.query_id): r for r in rows}
    qids = {q for m, q in by if m == "lsh"}
    assert qids
    for q in qids:
        if ("lsh_multiprobe", q) in by:
            assert by[("lsh_multiprobe", q)].n_hits >= by[("lsh", q)].n_hits
    for r in rows:
        assert 0.0 <= r.recall_at_10 <= 1.0
        assert r.ndcg_at_10 <= 1.0 + 1e-9


# ---------------------------------------------------------------------------
# Bucketed fact-fact join


def test_bucketed_join_rollup_no_exchange_on_fact_keys(spark, sf_dir):
    """The registered query's join must consume the bucketed layout:
    with broadcasting disabled (the 100 TB regime — neither fact side
    fits), the sort-merge join reads co-located buckets with NO
    Exchange on either join key."""
    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(spark, sf_dir, "bucketed_join_rollup")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan, plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan, plan
    assert "Bucketed: true" in plan, plan


# ---------------------------------------------------------------------------
# r8 self-review fixes


def test_choose_join_strategy_respects_join_type():
    """Spark cannot build-broadcast the right side of a full/right outer
    join (the hint is silently ignored) and salted_join raises for them
    — the cost model must fall through to plain instead of misreporting
    a plan that never runs."""
    from project2_bigdata_spark.operators.skew import choose_join_strategy

    # small dim, but full_outer: broadcast illegal -> plain
    assert choose_join_strategy(
        10**9, 500_000, top_share=0.01, parallelism=32,
        how="full_outer") == "plain"
    # skewed + cheap replication, but full_outer: salt illegal -> plain
    assert choose_join_strategy(
        10**9, 2_000_000, top_share=0.5, parallelism=32,
        how="full_outer") == "plain"
    # same stats, left join: both remedies stay available
    assert choose_join_strategy(
        10**9, 500_000, top_share=0.01, parallelism=32,
        how="left") == "broadcast"
    assert choose_join_strategy(
        10**9, 2_000_000, top_share=0.5, parallelism=32,
        how="left") == "salt"


def test_versioned_layout_ignores_torn_writes(spark, tmp_path):
    """A crash DURING a snapshot write leaves v=N without _SUCCESS: it
    must be invisible to readers and merge bases. Since r9's optimistic
    protocol, the next merge QUARANTINES the torn dir (rename-aside)
    and commits at exactly base+1 — never reads it, never skips the
    version number — and vacuum reclaims the quarantined debris."""
    import os

    from project2_bigdata_spark.sources.ingest import (
        merge_upsert, read_version, vacuum_versions, write_versioned,
    )

    p = str(tmp_path / "dim")
    df1 = spark.createDataFrame([(1, "a")], "k int, v string")
    assert write_versioned(df1, p) == 1
    # simulate the torn write: directory + part file, no _SUCCESS
    os.makedirs(f"{p}/v=2")
    with open(f"{p}/v=2/part-00000.parquet", "wb") as fh:
        fh.write(b"torn")
    # latest committed is still v1
    assert read_version(spark, p).collect() == [(1, "a")]
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        read_version(spark, p, version=2)
    # the merge base is v1; the torn squatter is quarantined aside and
    # the merge commits at exactly base+1 (the optimistic-CC invariant)
    v = merge_upsert(spark, p, spark.createDataFrame(
        [(2, "b")], "k int, v string"), keys=["k"])
    assert v == 2
    assert sorted(read_version(spark, p).collect()) == [(1, "a"), (2, "b")]
    assert any(n.startswith(".torn-v2-") for n in os.listdir(p))
    # vacuum keeps both committed snapshots and reclaims the quarantine
    assert vacuum_versions(p, keep=2) == []
    assert os.path.exists(f"{p}/v=1/_SUCCESS")
    assert os.path.exists(f"{p}/v=2/_SUCCESS")
    assert not any(n.startswith(".torn-") for n in os.listdir(p))


def test_merge_upsert_null_key_modes_agree(spark, tmp_path):
    """NULL-keyed rows must merge identically under delta_wins and
    latest_wins (null-safe key equality in both)."""
    from project2_bigdata_spark.sources.ingest import (
        merge_upsert, read_version, write_versioned,
    )

    rows = [(None, 1, "old"), (7, 1, "old")]
    delta = [(None, 2, "new"), (7, 2, "new")]
    out = {}
    for mode in ("delta_wins", "latest_wins"):
        p = str(tmp_path / mode)
        write_versioned(spark.createDataFrame(
            rows, "k int, ts int, v string"), p)
        merge_upsert(spark, p, spark.createDataFrame(
            delta, "k int, ts int, v string"),
            keys=["k"], order_cols=["ts"], resolve=mode)
        out[mode] = sorted(
            read_version(spark, p).collect(),
            key=lambda r: (r.k is None, r.k))
    assert out["delta_wins"] == out["latest_wins"]
    assert len(out["delta_wins"]) == 2
    assert all(r.v == "new" for r in out["delta_wins"])


def test_q12_shipmode_mixes_both_key_components(spark, sf_dir):
    """(l_orderkey*13 + l_linenumber) % 7 must not collapse to a
    function of line number alone — first lines must span several
    shipmodes (the *7 multiplier bug made every line-1 'SHIP')."""
    from pyspark.sql import functions as F

    from project2_bigdata_spark.catalog import table
    from project2_bigdata_spark.plans.partsupp import _SHIPMODE_EXPR

    li = table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    n = (li.select(F.expr(_SHIPMODE_EXPR).alias("m"))
         .distinct().count())
    assert n >= 5, f"shipmode is degenerate on first lines: {n} distinct"


def test_merge_latest_wins_out_of_order_batches(spark, tmp_path):
    """The streaming dimension default (latest_wins): applying CDC
    batches in REVERSED time order must still equal the recompute —
    the property a multi-file source needs (file order != event order)."""
    from project2_bigdata_spark.sources.ingest import (
        merge_upsert, read_version,
    )

    p = str(tmp_path / "ooo")
    newer = spark.createDataFrame([(1, 20, "new"), (2, 20, "new")],
                                  "k int, ts int, v string")
    older = spark.createDataFrame([(1, 10, "stale"), (3, 10, "old3")],
                                  "k int, ts int, v string")
    merge_upsert(spark, p, newer, keys=["k"], order_cols=["ts"],
                 resolve="latest_wins")
    merge_upsert(spark, p, older, keys=["k"], order_cols=["ts"],
                 resolve="latest_wins")
    got = {r.k: (r.ts, r.v) for r in read_version(spark, p).collect()}
    assert got == {1: (20, "new"), 2: (20, "new"), 3: (10, "old3")}


# ---------------------------------------------------------------------------
# File provenance


def test_driver_tables_are_single_files(sf_dir):
    """Premise of file_provenance_audit's oracle (the driver's DuckDB
    views carry no filename column, so the oracle pins the literal
    basename): every driver table is ONE regular parquet file."""
    import os

    from project2_bigdata_spark.catalog import TABLES

    # sibling scale dirs derived from the fixture, not hardcoded
    # absolute paths (ADVICE r8): skip scales absent on this checkout
    root = os.path.dirname(os.path.abspath(sf_dir))
    dirs = [sf_dir] + [
        os.path.join(root, d) for d in ("sf0.01", "sf0.1")
        if os.path.isdir(os.path.join(root, d))
    ]
    for sf in dirs:
        for t in TABLES:
            p = f"{sf}/{t}.parquet"
            assert os.path.isfile(p), f"{p} is not a single file"


def test_file_provenance_multi_file(spark, tmp_path):
    """On a real multi-file table the audit reports one row per part
    file with disjoint-union row counts."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "multi")
    spark.range(0, 3000, 1, 3).withColumn(
        "k", F.col("id") % 7).write.parquet(p)
    audit = (
        spark.read.parquet(p)
        .withColumn("file",
                    F.regexp_extract(F.input_file_name(), "[^/]+$", 0))
        .groupBy("file")
        .agg(F.count("*").alias("n_rows"), F.min("id").alias("lo"),
             F.max("id").alias("hi"))
        .collect()
    )
    assert len(audit) == 3
    assert sum(r.n_rows for r in audit) == 3000
    spans = sorted((r.lo, r.hi) for r in audit)
    for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 < lo2  # range-partitioned write => disjoint spans


# ---------------------------------------------------------------------------
# Python Data Source connector


def test_pyds_split_invariance(spark, sf_dir, tmp_path):
    """The byte-range split discipline: any partition count yields the
    same relation (every line owned by exactly one range)."""
    from pyspark.sql import functions as F

    from project2_bigdata_spark.catalog import table
    from project2_bigdata_spark.sources.ingest import extended_json_doc
    from project2_bigdata_spark.sources.pyds import read_jsonl_sales

    import glob

    out = str(tmp_path / "jsonl")
    (table(spark, sf_dir, "orders")
     .select(extended_json_doc().alias("value"))
     .coalesce(1).write.mode("overwrite").text(out))
    part = glob.glob(f"{out}/part-*")[0]

    def rows(n):
        return sorted(map(tuple, read_jsonl_sales(spark, part, n).collect()))

    one = rows(1)
    assert len(one) > 0
    assert rows(8) == one
    assert rows(37) == one  # more ranges than lines per range is fine


def test_pyds_partitions_cover_file_exactly(tmp_path):
    """partitions() plans disjoint byte ranges covering [0, size), and
    exactly the requested count for one file (no tail range when the
    size is not a multiple of it; one byte per range at most)."""
    from project2_bigdata_spark.sources.pyds import JsonlSaleReader

    p = tmp_path / "f.jsonl"
    p.write_bytes(b'{"x": 1}\n' * 100)
    size = p.stat().st_size
    for n in (1, 3, 8, 1000):
        parts = JsonlSaleReader(
            {"path": str(p), "num_partitions": str(n)}).partitions()
        assert len(parts) == min(n, size), n
        spans = sorted((q.start, q.end) for q in parts)
        assert spans[0][0] == 0 and spans[-1][1] == size
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert e1 == s2  # contiguous, disjoint


_DOC = ('{"_id": {"$oid": "%d"}, "saleDateRaw": "\\"2000-01-0%dT00:00:00Z\\"", '
        '"price": {"$numberDecimal": "1.50"}, "purchaseMethod": "Online"}')


def test_pyds_stream_window_partitions_own_each_line_once(tmp_path):
    """Split ownership inside a micro-batch window: the window splits
    into exactly the requested number of sub-ranges (only the last one
    ends at the window end), every line parses exactly once, and the
    window's first sub-range keeps its first line (the window start is
    a line boundary — only interior starts skip a partial line)."""
    from project2_bigdata_spark.sources.pyds import JsonlSaleStreamReader

    p = tmp_path / "s.jsonl"
    p.write_text("".join(_DOC % (i, (i % 8) + 1) + "\n" for i in range(1, 30)))
    size = p.stat().st_size
    for n in (1, 3, 7, 64):
        r = JsonlSaleStreamReader({"path": str(p), "num_partitions": str(n)})
        parts = r.partitions({"byte": 0}, {"byte": size})
        assert len(parts) == min(n, size), n
        assert [q.at_window_end for q in parts] == [False] * (
            len(parts) - 1) + [True]
        got = [v for part in parts for batch in r.read(part)
               for v in batch.column(0).to_pylist()]  # Arrow (r9)
        assert sorted(got, key=int) == [str(i) for i in range(1, 30)], n


def test_pyds_stream_reads_one_range_per_task_slot(spark, tmp_path, monkeypatch):
    """A replay of ``stream_jsonl_sales(spark, path)`` cuts each
    micro-batch into ``defaultParallelism`` byte ranges, so it runs one
    read task per task slot, and returns every row exactly once."""
    from pyspark import SparkContext

    from project2_bigdata_spark.sources.pyds import stream_jsonl_sales

    p = tmp_path / "slots.jsonl"
    p.write_text("".join(_DOC % (i, (i % 8) + 1) + "\n" for i in range(1, 30)))

    def replay(checkpoint: str):
        tasks, rows = [], []

        def batch(df, batch_id):
            got = [r.sale_id for r in df.collect()]
            if got:
                tasks.append(df.rdd.getNumPartitions())
                rows.extend(got)

        q = (stream_jsonl_sales(spark, str(p))
             .writeStream.foreachBatch(batch)
             .trigger(availableNow=True)
             .option("checkpointLocation", str(tmp_path / checkpoint)).start())
        q.awaitTermination()
        return tasks, sorted(rows, key=int)

    want = [str(i) for i in range(1, 30)]
    assert replay("ck") == ([spark.sparkContext.defaultParallelism], want)
    # another slot count gives another cut: derived, not a literal
    monkeypatch.setattr(SparkContext, "defaultParallelism",
                        property(lambda self: 3))
    assert replay("ck3") == ([3], want)


@pytest.mark.slow
def test_pyds_stream_growing_source_incremental_batch(spark, tmp_path):
    """The growing-source contract: a second AvailableNow run against
    the SAME checkpoint picks up exactly the bytes appended since the
    first run committed — nothing replayed, nothing missed."""
    from project2_bigdata_spark.sources.pyds import stream_jsonl_sales

    p = tmp_path / "grow.jsonl"
    p.write_text("".join(_DOC % (i, (i % 8) + 1) + "\n" for i in range(1, 6)))
    ck = str(tmp_path / "ck")
    batches = []

    def run_once():
        q = (stream_jsonl_sales(spark, str(p))
             .writeStream.foreachBatch(
                 lambda df, bid: batches.append(sorted(
                     r.sale_id for r in df.collect())))
             .trigger(availableNow=True)
             .option("checkpointLocation", ck).start())
        q.awaitTermination()

    run_once()
    with open(p, "a") as fh:
        fh.write("".join(_DOC % (i, (i % 8) + 1) + "\n" for i in range(6, 9)))
    run_once()
    non_empty = [b for b in batches if b]
    assert non_empty[0] == [str(i) for i in range(1, 6)]
    assert non_empty[1] == [str(i) for i in range(6, 9)]  # the delta only


def test_ann_mrr_bounds_and_ivf_dominance(spark, sf_dir):
    rows = {r.method: r for r in REGISTRY["ann_mrr"].fn(spark, sf_dir).collect()}
    assert set(rows) == {"lsh", "lsh_multiprobe", "ivf"}
    for r in rows.values():
        assert 0.0 <= r.mrr_at_10 <= 1.0 + 1e-9
    # the multiprobe candidate set contains the single-bucket set, and
    # extra candidates can only surface an EARLIER relevant hit
    assert rows["lsh_multiprobe"].mrr_at_10 >= rows["lsh"].mrr_at_10 - 1e-9


def test_holt_winters_matches_python_recompute(spark, sf_dir):
    import numpy as np
    import pandas as pd

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").toPandas()
    li = li[(li["l_shipdate"] >= "1997-01-01")
            & (li["l_shipdate"] < "1998-01-01")].copy()
    li["day"] = li["l_shipdate"].dt.date
    li["rev"] = (li["l_extendedprice"] * (1 - li["l_discount"])).round(4)
    daily = li.groupby(["l_partkey", "day"])["rev"].sum().round(4)
    days = pd.date_range("1997-01-01", "1997-12-31").date

    got = {r.l_partkey: r
           for r in REGISTRY["holt_winters_daily"].fn(spark, sf_dir).collect()}
    pks = sorted(daily.index.get_level_values(0).unique())
    assert set(got) == set(pks)
    for pk in pks[:40]:
        s = daily.loc[pk]
        v = np.array([float(s.get(d, 0.0)) for d in days])
        m1 = sum(v[0:7]) / 7.0
        m2 = sum(v[7:14]) / 7.0
        lv, tr = m1, (m2 - m1) / 7.0
        sea = [v[i] - m1 for i in range(7)]
        for k in range(7, 365):
            x = v[k]
            ln = 0.2 * (x - sea[0]) + 0.8 * (lv + tr)
            tr = 0.1 * (ln - lv) + 0.9 * tr
            sea = sea[1:] + [0.3 * (x - ln) + 0.7 * sea[0]]
            lv = ln
        r = got[pk]
        assert r.level == pytest.approx(lv, rel=1e-6, abs=1e-4)
        assert r.trend == pytest.approx(tr, rel=1e-6, abs=1e-4)
        assert r.season_next == pytest.approx(sea[0], rel=1e-6, abs=1e-4)
        assert r.forecast_next == pytest.approx(
            lv + tr + sea[0], rel=1e-6, abs=1e-4)
