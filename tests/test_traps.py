"""Semantic-trap micro-fixtures (FIXTURES.md §D, SURVEY.md §5.2(3)).

Tiny hand-written inputs for the places where Spark's defaults silently
diverge from the reference's (pandas/Mongo) semantics.
"""

from __future__ import annotations

import pytest

import datetime

from pyspark.sql import Row, functions as F

from project2_bigdata_spark.functions.datetime_utils import (
    is_weekend, pandas_weekday, week_start,
)
from project2_bigdata_spark.operators.pairs import pairs_of


def test_weekday_pandas_parity(spark):
    # 2013-01-01 is a Tuesday → pandas dayofweek 1, weekend 0;
    # 2013-01-05 is a Saturday → 5, weekend 1; Sunday → 6, weekend 1.
    df = spark.createDataFrame(
        [(datetime.date(2013, 1, 1),), (datetime.date(2013, 1, 5),),
         (datetime.date(2013, 1, 6),), (datetime.date(2013, 1, 7),)],
        "d date",
    ).select(
        pandas_weekday("d").alias("dow"), is_weekend("d").alias("we")
    )
    assert [tuple(r) for r in df.collect()] == [(1, 0), (5, 1), (6, 1), (0, 0)]


def test_inner_explode_drops_empty_arrays(spark):
    df = spark.createDataFrame(
        [Row(sale_id=1, items=["a", "b"]), Row(sale_id=2, items=[])],
    )
    out = df.select("sale_id", F.explode("items").alias("x"))
    assert [r.sale_id for r in out.collect()] == [1, 1]


def test_pair_multiplicity_and_self_pairs(spark):
    # [notepad, notepad, pens] → (notepad,notepad)×1, (notepad,pens)×2
    df = spark.createDataFrame([Row(item_names=["notepad", "notepad", "pens"])])
    pairs = (
        pairs_of(df).groupBy("product_1", "product_2").count()
    )
    got = {(r.product_1, r.product_2): r["count"] for r in pairs.collect()}
    assert got == {("notepad", "notepad"): 1, ("notepad", "pens"): 2}


def test_argmax_tiebreak_first_by_name(spark):
    from pyspark.sql.window import Window

    df = spark.createDataFrame(
        [("d1", "zeta", 10.0), ("d1", "alpha", 10.0), ("d1", "mid", 5.0)],
        "date string, product string, rev double",
    )
    w = Window.partitionBy("date").orderBy(F.desc("rev"), "product")
    top = df.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    assert top.collect()[0].product == "alpha"


def test_week_start_monday_boundary(spark):
    # Sunday 2013-01-06 and Monday 2013-01-07 → different Monday-start weeks
    df = spark.createDataFrame(
        [(datetime.date(2013, 1, 6),), (datetime.date(2013, 1, 7),)], "d date"
    ).select(week_start("d").alias("w"))
    w1, w2 = [r.w for r in df.collect()]
    assert w1 == datetime.date(2012, 12, 31)
    assert w2 == datetime.date(2013, 1, 7)


def test_dsum_partition_order_invariance(spark):
    from project2_bigdata_spark.functions.money import dsum

    vals = [(float(f"{i}.{i % 100:02d}"),) for i in range(1, 2001)]
    df = spark.createDataFrame(vals, "x double")
    a = df.repartition(1).agg(dsum("x", "s")).collect()[0].s
    b = df.repartition(16).agg(dsum("x", "s")).collect()[0].s
    assert a == b  # bit-identical, not approximately equal


def test_dsum_decimal_path_partition_invariance(spark):
    """``dsum(..., dec=...)`` — the path for inputs that are not exactly
    2dp (4dp products, moment sums) — is exact: the same double at any
    partitioning, equal to the decimal sum through the one
    decimal→double conversion, and null for an all-null group."""
    from project2_bigdata_spark.functions.money import dec_to_double, dsum

    rows = [("ab"[i % 2], float(f"{i}.{i % 100:02d}"), (i % 9) / 100)
            for i in range(1, 3001)]
    rows += [("c", None, 0.05), ("c", None, 0.01)]
    df = spark.createDataFrame(rows, "k string, x double, y double")
    expr = F.col("x") * F.col("y")  # 4dp
    got = [
        {r.k: r.s for r in df.repartition(n).groupBy("k")
         .agg(dsum(expr, "s", dec="decimal(28,4)")).collect()}
        for n in (1, 16)
    ]
    ref = {r.k: r.s for r in df.groupBy("k").agg(
        dec_to_double(F.sum(expr.cast("decimal(28,4)"))).alias("s"))
        .collect()}
    assert got[0] == got[1] == ref  # bit-identical, not approximately equal
    assert ref["c"] is None and ref["a"] is not None


def test_approx_count_distinct_within_bounds(spark, sf_dir):
    """approx_distinct_customers is theta-backed since r7 (exact-mode
    regime ⇒ hash-parity oracle). This test keeps the two approximate
    claims pinned: (a) the theta estimate EQUALS exact at test scale
    (every per-priority set is below the 4096-entry capacity), and
    (b) the HLL++ estimation-mode twin lands within ±5% of exact."""
    from pyspark.sql import functions as F

    from project2_bigdata_spark.catalog import table
    from project2_bigdata_spark.plans import REGISTRY

    theta = {
        r.priority: r.approx_customers
        for r in REGISTRY["approx_distinct_customers"].fn(spark, sf_dir).collect()
    }
    rows = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.countDistinct("o_custkey").alias("n"),
             F.approx_count_distinct("o_custkey", 0.02).alias("hll"))
        .collect()
    )
    exact = {r.priority: r.n for r in rows}
    hll = {r.priority: r.hll for r in rows}
    assert set(theta) == set(exact)
    for k, n in exact.items():
        # exact-mode premise guard (ADVICE r6): a testdata bump past
        # sketch capacity must fail HERE with a clear message, not as
        # an opaque driver hash mismatch
        assert n < 4096, (
            f"priority {k}: {n} distinct customers >= theta capacity "
            "4096 — approx_distinct_customers' exact-mode oracle "
            "premise no longer holds at this scale")
        assert theta[k] == n, (k, theta[k], n)
        assert abs(hll[k] - n) / n <= 0.05, (k, hll[k], n)


@pytest.mark.slow
def test_profile_hll_tracks_exact_profile(spark, sf_dir):
    """profile_orders_columns_hll's RAW HLL estimates are engine-
    specific, so its registered output exposes them only as a sanity
    bound (hash-checked by the hybrid oracle since r5); this test keeps
    the tolerance coverage — identical shape/rows/non-null counts/
    min-max reprs vs the exact twin, every distinct estimate within
    ±5% of the exact count (via the raw frame), and the registered
    sanity verdict all-true."""
    from project2_bigdata_spark.plans import REGISTRY
    from project2_bigdata_spark.plans.ops import _profile_hll_frame

    hll = {r.column_name: r for r in
           _profile_hll_frame(spark, sf_dir).collect()}
    exact = {r.column_name: r for r in
             REGISTRY["profile_orders_columns"].fn(spark, sf_dir).collect()}
    assert set(hll) == set(exact)
    for col, h in hll.items():
        e = exact[col]
        assert (h.n_rows, h.n_nonnull, h.min_repr, h.max_repr) == (
            e.n_rows, e.n_nonnull, e.min_repr, e.max_repr), col
        assert abs(h.n_distinct_approx - e.n_distinct) / max(e.n_distinct, 1) <= 0.05, (
            col, h.n_distinct_approx, e.n_distinct)
    sane = [r.approx_distinct_sane for r in
            REGISTRY["profile_orders_columns_hll"].fn(spark, sf_dir).collect()]
    assert sane and all(sane)


def test_theta_sketch_set_algebra_identities(spark, sf_dir):
    """theta_distinct_union_segments: in the exact regime (every set
    below the 4096-entry nominal capacity — the driver's correctness
    scale) the sketch estimates must satisfy the set identities exactly:
    hot = hot_only + intersection, std = std_only + intersection,
    union = hot + std − intersection, and inclusion bounds. Above
    capacity the same identities hold only to sketch error — this pins
    the exact-mode premise the oracle relies on."""
    from project2_bigdata_spark.plans import REGISTRY

    rows = {r.segment: r for r in
            REGISTRY["theta_distinct_union_segments"].fn(spark, sf_dir)
            .collect()}
    assert set(rows) == {"hot", "std", "union", "intersection",
                         "hot_only", "std_only"}
    d = {k: r.distinct_customers for k, r in rows.items()}
    assert d["hot"] == d["hot_only"] + d["intersection"]
    assert d["std"] == d["std_only"] + d["intersection"]
    assert d["union"] == d["hot"] + d["std"] - d["intersection"]
    assert max(d["hot"], d["std"]) <= d["union"] <= d["hot"] + d["std"]
    assert 0 <= d["intersection"] <= min(d["hot"], d["std"])
    # segment rows carry exact order counts; algebra rows don't
    assert rows["hot"].n_orders > 0 and rows["std"].n_orders > 0
    assert rows["union"].n_orders is None


def test_theta_retention_identities(spark, sf_dir):
    """theta_retention_weekly: exact-regime sketch algebra must satisfy
    the cohort identities per week — active = returning + churned,
    active_next = returning + new_next, returning <= min(active,
    active_next), and the integer permille definition."""
    from project2_bigdata_spark.plans import REGISTRY

    rows = REGISTRY["theta_retention_weekly"].fn(spark, sf_dir).collect()
    assert len(rows) > 10  # consecutive weeks exist in the corpus
    for r in rows:
        assert r.active == r.returning + r.churned, r
        assert r.active_next == r.returning + r.new_next, r
        assert 0 <= r.returning <= min(r.active, r.active_next), r
        assert r.retention_permille == 1000 * r.returning // r.active, r


def test_random_split_w5(spark, sf_dir):
    """W5: randomSplit([0.7,0.2,0.1], seed=42) — reference uses sklearn
    train_test_split(seed 42); RNGs differ, so assert structure not rows
    (SURVEY.md §2.8): partition sizes near the ratios, no loss, no
    overlap, and determinism under the same seed."""
    from project2_bigdata_spark.catalog import table

    d = table(spark, sf_dir, "orders").select("o_orderkey")
    a, b, c = d.randomSplit([0.7, 0.2, 0.1], seed=42)
    n, na, nb, nc = d.count(), a.count(), b.count(), c.count()
    assert na + nb + nc == n          # no loss, no duplication
    assert abs(na / n - 0.7) < 0.05
    assert abs(nb / n - 0.2) < 0.05
    assert abs(nc / n - 0.1) < 0.05
    assert a.intersect(b).count() == 0
    a2, _, _ = d.randomSplit([0.7, 0.2, 0.1], seed=42)
    assert a.exceptAll(a2).count() == 0  # same seed → same split


def test_salted_join_equivalence(spark, sf_dir):
    """salted_join must produce exactly the plain join's rows — salting
    changes the shuffle distribution, never the relation."""
    from pyspark.sql import functions as F

    from project2_bigdata_spark.catalog import table
    from project2_bigdata_spark.operators.skew import salted_join

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    plain = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_linenumber", "o_orderpriority"
    )
    salted = salted_join(
        li, o, "l_orderkey", "o_orderkey",
        salt_cols=["l_orderkey", "l_linenumber"], n_salts=8,
    ).select("l_orderkey", "l_linenumber", "o_orderpriority")
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0

    import pytest

    with pytest.raises(ValueError, match="inner.*left"):
        salted_join(li, o, "l_orderkey", "o_orderkey",
                    salt_cols=["l_orderkey"], how="full_outer")


def test_adaptive_join_cost_model_branches():
    """choose_join_strategy (the pure cost model behind adaptive_join)
    must pick each branch exactly per SCALE.md §Joins: broadcast for a
    budget-fitting dim, salt only when the hot key exceeds skew_factor x
    the average partition share AND replication is cheaper than the hot
    partition, plain otherwise."""
    from project2_bigdata_spark.operators.skew import choose_join_strategy

    # (1) dim fits the broadcast budget — regardless of skew
    assert choose_join_strategy(
        10**9, 500_000, top_share=0.9, parallelism=32) == "broadcast"
    # (2) un-broadcastable dim + hot key past 4/32 share + cheap
    #     replication → salt
    assert choose_join_strategy(
        10**9, 2_000_000, top_share=0.5, parallelism=32) == "salt"
    # (3a) same sizes, uniform keys → plain (AQE handles mild skew)
    assert choose_join_strategy(
        10**9, 2_000_000, top_share=0.01, parallelism=32) == "plain"
    # (3b) hot key but replication NOT worth it (|right|*n_salts >=
    #      |left|): salting would cost more than the hot partition
    assert choose_join_strategy(
        10_000_000, 2_000_000, top_share=0.5, parallelism=32) == "plain"


def test_adaptive_join_every_branch_same_relation(spark, sf_dir):
    """adaptive_join must return the identical relation under every
    strategy (the branch changes the shuffle distribution, never the
    rows) and must dispatch on the gathered stats: force each branch by
    moving the thresholds and compare against the plain join."""
    from pyspark.sql import functions as F

    from project2_bigdata_spark.catalog import table
    from project2_bigdata_spark.operators.skew import adaptive_join

    e = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    plain = e.join(c, e.user_id == c.c_custkey).select(
        "event_id", "c_mktsegment")

    got = {}
    # broadcast: the dim fits any sane budget at test scale
    df, got["b"] = adaptive_join(e, c, "user_id", "c_custkey",
                                 salt_cols=["event_id"])
    assert got["b"] == "broadcast"
    assert "BroadcastHashJoin" in df._jdf.queryExecution().executedPlan().toString()
    assert df.select("event_id", "c_mktsegment").exceptAll(plain).count() == 0
    assert plain.exceptAll(df.select("event_id", "c_mktsegment")).count() == 0

    # salt: zero broadcast budget + every key "hot" + a dim small enough
    # that replication passes the |right| x n_salts < |left| bound (the
    # bound itself is pinned by the cost-model unit test above)
    csmall = c.where(F.col("c_custkey") < 50)
    plain_small = e.join(csmall, e.user_id == csmall.c_custkey).select(
        "event_id", "c_mktsegment")
    df, got["s"] = adaptive_join(e, csmall, "user_id", "c_custkey",
                                 salt_cols=["event_id"],
                                 broadcast_rows=0, skew_factor=0)
    assert got["s"] == "salt"
    assert df.select("event_id", "c_mktsegment").exceptAll(plain_small).count() == 0
    assert plain_small.exceptAll(df.select("event_id", "c_mktsegment")).count() == 0

    # plain: zero budget, impossible skew bar
    df, got["p"] = adaptive_join(e, c, "user_id", "c_custkey",
                                 salt_cols=["event_id"],
                                 broadcast_rows=0, skew_factor=10**9)
    assert got["p"] == "plain"
    assert df.select("event_id", "c_mktsegment").exceptAll(plain).count() == 0
    assert plain.exceptAll(df.select("event_id", "c_mktsegment")).count() == 0


def test_bucketed_asof_equals_plain(spark, sf_dir):
    """The bucketed (skew-hardened) as-of join is the same relation as
    the single-window form — tiny 6h buckets force heavy use of the
    cross-bucket carry path."""
    from project2_bigdata_spark.operators.asof import (
        asof_join_events_orders, asof_join_events_orders_bucketed,
    )

    plain = asof_join_events_orders(spark, sf_dir)
    bucketed = asof_join_events_orders_bucketed(spark, sf_dir, bucket_hours=6)
    assert bucketed.count() == plain.count()
    assert bucketed.exceptAll(plain).count() == 0
    assert plain.exceptAll(bucketed).count() == 0


def test_catalog_normalizes_timestamps(spark, sf_dir):
    """The driver regenerates testdata between rounds and has already
    switched timestamp physical types once (TIMESTAMP(NANOS) -> 
    TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
    TIMESTAMP_NTZ). Every engine path assumes TimestampType (LTZ) --
    epoch casts are illegal on NTZ -- so catalog.table must normalize
    whatever arrives at the scan boundary."""
    from pyspark.sql import types as T

    from project2_bigdata_spark.catalog import table

    for name, col in [
        ("events", "ts"), ("orders", "o_orderdate"), ("lineitem", "l_shipdate"),
    ]:
        dt = table(spark, sf_dir, name).schema[col].dataType
        assert isinstance(dt, T.TimestampType), (name, col, dt)
        assert not isinstance(dt, T.TimestampNTZType), (name, col, dt)


def test_truncate_lineage_reliable_checkpoint_path(spark, tmp_path, monkeypatch):
    """truncate_lineage switches from localCheckpoint (executor-pinned,
    dies with an executor) to a reliable checkpoint() into
    SPARK_GRAFT_CHECKPOINT_DIR when that env var is set — the 100 TB
    fixpoint-loop contract. Values must be identical either way."""
    from pyspark.sql import functions as F

    from project2_bigdata_spark.session import truncate_lineage

    df = spark.range(0, 100).select("id", (F.col("id") * 2).alias("v"))
    expected = sorted((r.id, r.v) for r in df.collect())

    # default path: no env var → localCheckpoint, nothing written to disk
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    local = truncate_lineage(df, eager=True)
    assert sorted((r.id, r.v) for r in local.collect()) == expected

    # reliable path: env var set → checkpoint files land in the dir
    ckdir = str(tmp_path / "ck")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckdir)
    reliable = truncate_lineage(df, eager=True)
    assert sorted((r.id, r.v) for r in reliable.collect()) == expected
    import glob

    assert glob.glob(f"{ckdir}/**/rdd-*", recursive=True), (
        "no reliable checkpoint files written"
    )


def test_truncate_lineage_reliable_single_compute(spark, tmp_path, monkeypatch):
    """On the reliable-checkpoint branch the subtree must run ONCE for
    checkpoint + first consumption combined (persist → checkpoint →
    unpersist wrap, both eager modes — ADVICE r3 item 2). Without the
    wrap, checkpoint()'s separate writing job recomputes the plan and an
    expensive upstream runs twice."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from project2_bigdata_spark.session import truncate_lineage

    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ck1"))
    acc = spark.sparkContext.accumulator(0)

    @F.udf(LongType())
    def counted(x):
        acc.add(1)
        return x * 2

    n = 64
    df = spark.range(0, n, 1, 4).select("id", counted(F.col("id")).alias("v"))
    for eager in (True, False):
        acc.value = 0
        out = truncate_lineage(df, eager=eager)
        assert out.count() == n
        assert out.count() == n  # second consume: still from checkpoint
        assert acc.value == n, (
            f"subtree ran {acc.value / n:.1f}x (eager={eager}); "
            "expected exactly once"
        )


def test_table_parallel_guard_never_fires_on_large_inputs(spark, sf_dir, monkeypatch):
    """table_parallel's spread is a SMALL-single-split-input escape hatch:
    on a large (multi-split) input it must add NO repartition — at real
    scale the exchange would shuffle the whole corpus for nothing."""
    from project2_bigdata_spark import catalog

    monkeypatch.setattr(catalog, "_SMALL_INPUT_BYTES", 1)  # nothing is small
    big = catalog.table_parallel(spark, sf_dir, "documents")
    assert "Repartition" not in big._jdf.queryExecution().logical().toString()

    monkeypatch.setattr(catalog, "_SMALL_INPUT_BYTES", 1 << 40)  # all small
    small = catalog.table_parallel(spark, sf_dir, "documents")
    assert "Repartition" in small._jdf.queryExecution().logical().toString()


def test_winnowing_drops_short_docs_like_explode(spark, monkeypatch):
    """winnowing uses explode_outer + not-null (so Catalyst cannot push an
    inferred size(fps)>0 filter below the exchange with the fingerprint
    expression inlined — see operators/corpus.py). Semantics must equal
    plain explode: docs too short for any gram produce NO rows, not a
    null-fingerprint row."""
    from unittest import mock

    import project2_bigdata_spark.operators.corpus as corpus_mod
    from project2_bigdata_spark.operators.corpus import winnowing_fingerprints

    rows_df = spark.createDataFrame(
        [(0, "too short"),                      # < k words → no grams
         (1, "one two three four five six")],   # exactly one window run
        "doc_id long, text string",
    )
    with mock.patch.object(corpus_mod, "table_parallel", lambda s, sf, t: rows_df):
        out = winnowing_fingerprints(spark, "unused").collect()
    assert all(r.fingerprint is not None for r in out)
    assert {r.doc_id for r in out} == {1}, "short doc must yield zero rows"


def test_char_entropy_line_terminator_only_docs(spark):
    """A doc whose text is ONLY line terminators extracts zero chars:
    it must be DROPPED (matching the oracle, where unnest of an empty
    list yields no rows) — not crash. Before the size(cs)>0 guard,
    sequence(1, 0) ran DESCENDING ([1, 0]) and the ends-filter hit
    element_at(empty, 1) → ANSI INVALID_ARRAY_INDEX_IN_ELEMENT_AT.
    Also pins the [^\\n] char class shared with the oracle: Java's '.'
    excludes \\r while DuckDB/RE2's '.' does not, so '.' would diverge
    on any doc containing \\r."""
    import math
    from unittest import mock

    import duckdb

    import project2_bigdata_spark.plans.datapipe as dp
    from project2_bigdata_spark.plans import REGISTRY

    rows = [
        (1, "hello world", "en"),
        (2, "\n\n", "en"),          # line terminators only → dropped
        (3, "a\nb", "en"),          # entropy over {a, b}: ln 2
        (4, "", "en"),              # empty → dropped by length > 0
        (5, "x\ry", "en"),          # \r IS a char under [^\n]: {x, \r, y}
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    with mock.patch.object(dp, "table_parallel", lambda s, sf, t: docs):
        out = {r.doc_id: r for r in REGISTRY["char_entropy"].fn(spark, "unused").collect()}

    assert set(out) == {1, 3, 5}
    assert out[3].n_chars == 2 and out[3].n_distinct_chars == 2
    assert math.isclose(out[3].char_entropy_nats, math.log(2), abs_tol=1e-6)
    assert out[5].n_chars == 3 and out[5].n_distinct_chars == 3

    con = duckdb.connect()
    con.register("documents", __import__("pandas").DataFrame(
        rows, columns=["doc_id", "text", "lang"]))
    oracle = {int(r[0]): r for r in con.execute(REGISTRY["char_entropy"].oracle).fetchall()}
    con.close()
    assert set(oracle) == set(out)
    for k in out:
        assert (out[k].n_chars, out[k].n_distinct_chars) == (oracle[k][1], oracle[k][2])
        assert out[k].char_entropy_nats == oracle[k][3], (k, out[k], oracle[k])


def test_truncate_lineage_repoints_on_dir_change(spark, tmp_path, monkeypatch):
    """Changing SPARK_GRAFT_CHECKPOINT_DIR mid-session must re-point the
    checkpoint dir even when the NEW dir is a path-prefix of the old one
    (naive substring matching treats /ck as already-set while files keep
    landing in /ck2)."""
    import glob

    from project2_bigdata_spark.session import truncate_lineage

    df = spark.range(0, 10)
    old = str(tmp_path / "ck2")
    new = str(tmp_path / "ck")  # prefix of old

    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", old)
    truncate_lineage(df, eager=True).collect()
    assert glob.glob(f"{old}/**/rdd-*", recursive=True)

    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", new)
    truncate_lineage(df, eager=True).collect()
    assert glob.glob(f"{new}/**/rdd-*", recursive=True), (
        "checkpoints still landing in the old dir after env change"
    )


def test_fuzzy_match_block_cap(spark):
    """Blocks over MAX_FUZZY_BLOCK are excluded from the quadratic
    Levenshtein stage on BOTH engines (block size grows linearly with
    catalog SF — the 20x scale-stress run measured the uncapped
    in-block quadratic as the suite's only super-linear stage)."""
    from unittest import mock

    import duckdb
    import pandas as pd

    import project2_bigdata_spark.plans.analytics as an
    from project2_bigdata_spark.plans import REGISTRY

    # hot block: brand B1 / initial 'a' with cap+1 members; cool block:
    # brand B2 / initial 'b' with 3 members
    cap = an.MAX_FUZZY_BLOCK
    rows = [(i, f"aname {i:04d}", "B1") for i in range(cap + 1)]
    rows += [(10_000 + i, f"bname {i}", "B2") for i in range(3)]
    pdf = pd.DataFrame(rows, columns=["p_partkey", "p_name", "p_brand"])
    part = spark.createDataFrame(pdf)

    with mock.patch.object(an, "table", lambda s, sf, t: part):
        out = REGISTRY["fuzzy_match_parts"].fn(spark, "unused").collect()
    assert out, "cool block must still produce matches"
    assert all(r.key_a >= 10_000 for r in out), "hot block must be excluded"

    con = duckdb.connect()
    con.register("part", pdf)
    oracle = con.execute(REGISTRY["fuzzy_match_parts"].oracle).fetchall()
    con.close()
    assert sorted((r.key_a, r.key_b, r.dist) for r in out) == sorted(
        (r[0], r[2], r[4]) for r in oracle
    )


def test_shingle_cache_survives_session_swap(spark, sf_dir):
    """_SHINGLE_CACHE is keyed by (applicationId, sf_dir): an entry left
    by a previous (possibly stopped) session must be discarded and
    rebuilt, not handed back — and a dead frame must be dropped without
    an unpersist call propagating (the liveness probe skips unpersist
    entirely for a frame whose context is gone)."""
    import project2_bigdata_spark.operators.dedup as dd

    class DeadFrame:
        # no sparkSession attribute → liveness probe says "dead"
        def unpersist(self):
            raise RuntimeError("SparkContext has been shut down")

    old = dd._SHINGLE_CACHE
    try:
        dd._SHINGLE_CACHE = ("app-from-a-previous-life", sf_dir, DeadFrame())
        out = dd.minhash_band_pairs(spark, sf_dir)
        assert out.count() >= 0
        assert dd._SHINGLE_CACHE[0] == spark.sparkContext.applicationId
    finally:
        if dd._SHINGLE_CACHE is not None:
            try:
                dd._SHINGLE_CACHE[2].unpersist()
            except Exception:
                pass
        dd._SHINGLE_CACHE = old


def test_embedding_bucket_cap(spark):
    """LSH buckets over MAX_EMB_BUCKET are excluded from the pairwise
    stages on BOTH engines — with a fixed plane count, bucket count is
    fixed, so uncapped bucket joins grow as corpus^2/2^planes (the 100x
    scale-stress measured ~300x wall for 100x data before the cap)."""
    from unittest import mock

    import duckdb
    import pandas as pd

    import project2_bigdata_spark.operators.similarity as sim

    cap = sim.MAX_EMB_BUCKET
    hot = [1.0] + [0.0] * 63           # one shared bucket, cap+1 members
    cool_a = [-1.0] + [0.0] * 63       # distinct bucket, 2 close members
    cool_b = [-1.0, 0.01] + [0.0] * 62
    rows = [(i, hot, "h") for i in range(cap + 1)]
    rows += [(10_000, cool_a, "c"), (10_001, cool_b, "c")]
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    emb = spark.createDataFrame(pdf)

    with mock.patch.object(sim, "table_parallel", lambda s, sf, t: emb):
        pairs = sim.embedding_near_dup(spark, "unused").collect()
        knn = sim.knn_join_topk(spark, "unused").collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(10_000, 10_001)}
    assert {r.src for r in knn} == {10_000, 10_001}

    con = duckdb.connect()
    con.register("embeddings", pdf)
    o_pairs = con.execute(sim.oracle_embedding_near_dup()).fetchall()
    o_knn = con.execute(sim.oracle_knn_join_topk()).fetchall()
    con.close()
    assert sorted((r.id_a, r.id_b, r.cos_sim) for r in pairs) == sorted(
        (r[0], r[1], r[4]) for r in o_pairs)
    assert sorted((r.src, r.dst, r.cos_sim) for r in knn) == sorted(
        (r[0], r[1], r[2]) for r in o_knn)


def test_input_bytes_handles_directory_tables(spark, tmp_path):
    """os.path.getsize on a directory returns the inode size (~KB),
    which would make the small-input guard fire on arbitrarily large
    directory-shaped tables. _input_bytes must sum the data files and
    skip _SUCCESS/hidden metadata."""
    import os

    from project2_bigdata_spark import catalog

    p = str(tmp_path / "t.parquet")
    spark.range(0, 1000).repartition(4).write.parquet(p)
    inode = os.path.getsize(p)
    real = catalog._input_bytes(p)
    data = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(p) for f in fs
        if not f.startswith((".", "_"))
    )
    assert real == data and real > inode
    # unreadable path counts as not-small: never add an exchange on
    # uncertain evidence
    assert catalog._input_bytes(str(tmp_path / "missing")) >= catalog._SMALL_INPUT_BYTES


def test_approx_percentile_tracks_exact_thresholds(spark, sf_dir):
    """length_quantile_buckets computes exact percentile_disc thresholds
    from a value-domain histogram — right when the domain is bounded
    (integer n_chars). At 100 TB with a CONTINUOUS range key the
    documented swap is approx_percentile (Greenwald-Khanna: rank error
    ≤ n/accuracy). Pin the swap's guarantee: each approximate quartile
    threshold must sit within the GK rank-error band of the exact
    quantile position, so equi-depth bucketing built on it deviates by
    at most that band."""
    from pyspark.sql import functions as F

    from project2_bigdata_spark.catalog import table

    ACC = 10_000  # rank error <= n/ACC
    docs = table(spark, sf_dir, "documents").select("n_chars")
    n = docs.count()
    approx = docs.agg(
        F.percentile_approx("n_chars", [0.25, 0.50, 0.75], ACC).alias("t")
    ).collect()[0].t
    eps = 1.0 / ACC + 1.0 / n  # GK band + discrete-atom slack
    for q, t in zip((0.25, 0.50, 0.75), approx):
        rank_at_t = docs.filter(F.col("n_chars") <= t).count() / n
        rank_below_t = docs.filter(F.col("n_chars") < t).count() / n
        # the exact quantile position q must fall inside the value t's
        # cumulative span, widened by the GK error band
        assert rank_below_t - eps <= q <= rank_at_t + eps, (
            q, t, rank_below_t, rank_at_t)


def test_env_knobs_are_the_deployment_allowlist():
    """The engine has ONE configuration posture: the only environment
    variables it, its tools, bench.py and the worker start-up hook
    (``sitecustomize.py``) read are deployment settings
    (where data, scratch and checkpoints live; how many cores and how
    much heap). An env var that switches an engine path — a bench-only
    fast path, or an experiment arm whose A/B is settled — makes the
    bench measure a different program than the one a driver runs, so
    a new one fails here. Static scan: no Spark needed."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent
    files = [root / "bench.py", root / "sitecustomize.py"]
    for sub in ("project2_bigdata_spark", "tools"):
        files += sorted((root / sub).rglob("*.py"))
    found = set()
    for f in files:
        found |= set(re.findall(r"SPARK_GRAFT_([A-Z_]+)", f.read_text()))
    assert found == {"CHECKPOINT_DIR", "CPUS", "DRIVER_MEM", "SCRATCH_DIR",
                     "SF_DIR"}, sorted(found)


def test_temp_views_only_in_register_views():
    """A query that publishes a fixed-name temp view mutates the shared
    session catalog: two concurrent queries on one session overwrite each
    other's view. Queries pass DataFrames to ``spark.sql`` as arguments
    (``spark.sql("... FROM {base}", base=df)``) instead; the only named
    views are the SQL view layer of ``catalog.register_views``. Static
    scan: no Spark needed."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = root / "project2_bigdata_spark"
    creators = {"createTempView", "createOrReplaceTempView",
                "createGlobalTempView", "createOrReplaceGlobalTempView",
                "registerTempTable"}
    found = set()

    def scan(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                scan(child, f"{scope}.{child.name}")
                continue
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in creators):
                found.add(scope)
            scan(child, scope)

    for f in sorted(pkg.rglob("*.py")):
        scan(ast.parse(f.read_text()),
             ".".join(f.relative_to(pkg).with_suffix("").parts))
    assert found == {"catalog.register_views"}, sorted(found)


def test_one_lakehouse_publish_seam():
    """Every lakehouse write publishes through ONE seam and retries
    through ONE optimistic loop: copies of the rename-publish, the
    retry loop or the hardlink fallback drift apart (two DML verbs once
    missed the pinned-layout rule the maintenance verbs follow). Static
    scan of ``sources/ingest.py``, per top-level function: exactly one
    renames a staging dir into a ``v=`` name, exactly one loops over
    ``range(max_retries + 1)``, and exactly one calls ``os.link``. No
    Spark needed."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    tree = ast.parse(
        (root / "project2_bigdata_spark/sources/ingest.py").read_text())

    def is_os(node, attr):
        return (isinstance(node, ast.Attribute) and node.attr == attr
                and isinstance(node.value, ast.Name)
                and node.value.id == "os")

    publishers, loopers, linkers = set(), set(), set()
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if (isinstance(node, ast.Call) and is_os(node.func, "rename")
                    and len(node.args) == 2
                    and ("stag" in ast.unparse(node.args[0])
                         or "v=" in ast.unparse(node.args[1]))):
                publishers.add(fn.name)
            if (isinstance(node, ast.For)
                    and ast.unparse(node.iter) == "range(max_retries + 1)"):
                loopers.add(fn.name)
            if is_os(node, "link"):
                linkers.add(fn.name)
    assert len(publishers) == 1, sorted(publishers)
    assert len(loopers) == 1, sorted(loopers)
    assert len(linkers) == 1, sorted(linkers)


def test_money_formulas_live_in_money_py():
    """One way to sum money: the exact-sum policy (BIGINT cents or
    decimal, then one correctly rounded step to double) is spelled
    only in ``functions/money.py``. A copy elsewhere drifts from it, as
    the five hand-copied ``dsum`` bodies and local re-derivations once
    did. Static scan of the package, money.py excluded: no inline
    ``.cast("string").cast("double")`` chain, no private name imported
    from money.py, and money.py's public surface is exactly the one sum
    entry point, its oracle twin and the helpers the multi-stage cent
    sums need. No Spark needed."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = root / "project2_bigdata_spark"
    money = pkg / "functions" / "money.py"

    def cast_to(node, typ):
        return (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "cast" and len(node.args) == 1
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value == typ)

    round_trips, private = [], []
    for f in sorted(pkg.rglob("*.py")):
        if f == money:
            continue
        rel = f.relative_to(pkg).as_posix()
        for node in ast.walk(ast.parse(f.read_text())):
            if cast_to(node, "double") and cast_to(node.func.value, "string"):
                round_trips.append(f"{rel}:{node.lineno}")
            if (isinstance(node, ast.ImportFrom)
                    and (node.module or "").split(".")[-1] == "money"):
                private += [f"{rel}:{node.lineno} {a.name}"
                            for a in node.names if a.name.startswith("_")]
    assert round_trips == [], round_trips
    assert private == [], private

    public = set()
    for node in ast.parse(money.read_text()).body:
        if isinstance(node, ast.FunctionDef):
            public.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [
                node.target]
            public |= {t.id for t in targets if isinstance(t, ast.Name)}
    public = {n for n in public if not n.startswith("_")}
    assert public == {"DEC", "safe_div", "dsum", "cents", "cents_to_double",
                      "dec_to_double", "oracle_dsum"}, sorted(public)


def test_round_loops_live_in_fixpoint():
    """One fixpoint driver: a round loop that materializes its state or
    reads a driver-side value each round lives only in
    ``operators/fixpoint.py`` (``iterate``). Hand-written copies drift
    apart: one ran a separate probe job per round, and one stopped at
    its round cap without saying so. Static scan of the package: no
    ``for``/``while`` body outside fixpoint.py calls ``truncate_lineage``
    or ``.first()``. No Spark needed."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = root / "project2_bigdata_spark"

    def round_call(node):
        return isinstance(node, ast.Call) and (
            (isinstance(node.func, ast.Name)
             and node.func.id == "truncate_lineage")
            or (isinstance(node.func, ast.Attribute)
                and node.func.attr in ("truncate_lineage", "first")))

    loops = []
    for f in sorted(pkg.rglob("*.py")):
        rel = f.relative_to(pkg).as_posix()
        if rel == "operators/fixpoint.py":
            continue
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, (ast.For, ast.While)) and any(
                    round_call(n) for stmt in node.body
                    for n in ast.walk(stmt)):
                loops.append(f"{rel}:{node.lineno}")
    assert loops == [], loops
