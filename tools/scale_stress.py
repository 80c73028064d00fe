"""Scale-stress harness: amplify the testdata K× and re-run headline queries.

The driver's parquet tops out at sf0.1 (~17 MB) — enough for correctness,
far too small to surface super-linear stages or memory cliffs. This tool
builds an FK-preserving K× amplification of sf0.1 (key-offset copies, so
every join keeps exactly its original fan-out) and times registered
queries against it, optionally under a deliberately small heap to prove
the shuffles spill instead of OOM-ing.

PERF-ONLY data: values are replicas, not a valid correctness corpus
(oracle checks still run against the driver's own parquet). Documents /
embeddings are amplified as EXACT duplicates on purpose — a scaled crawl
has proportionally more dups, and dup-heavy blocks are the worst case the
dedup caps (MAX_JACCARD_BLOCK / MAX_BUCKET) exist for.

Usage:
  python tools/scale_stress.py amplify K [dst_dir]
  python tools/scale_stress.py run K "q1,q2,..." [--timeout SEC]
  python tools/scale_stress.py skew K [--timeout SEC]
  python tools/scale_stress.py sketch_bands K
  (run uses dst_dir from the same K; SPARK_GRAFT_DRIVER_MEM / CPUS apply)

``sketch_bands`` (VERDICT r7 item 2) measures AND asserts the
estimation-regime error bands for the theta and KLL sketches at K x
scale — the regime the driver-scale exact-mode oracles deliberately
avoid: per-day theta distinct-user estimates within 3 x rsd of exact
(rsd = 1.5625% at lg_k=12), KLL decile estimates within the documented
0.8% rank band (Datasketches formula gives 0.04% at k=16384).

``skew`` (VERDICT r6 item 6) synthesizes a ZIPF-SKEWED duplicate corpus
— one giant near-dup family plus a long tail, the shape a real crawl
has — and measures how the dedup cap discipline (MAX_BUCKET,
MAX_JACCARD_BLOCK) behaves under it: cap-exclusion rate, near-dup
recall over cap-eligible families, and wall time. The uniform K×
amplification above duplicates every doc equally; this mode is the
opposite extreme.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1"

#: key columns to offset per copy, per table. Offsets use the table's
#: own key range (max+1), so copy i's keys are disjoint from copy j's
#: and every FK edge lands on exactly one parent row — per-key join
#: fan-out is IDENTICAL to sf0.1, cardinality is K x.
KEYED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
#: tiny fixed dims — constant across scale factors, copied as-is.
COPY = ["region", "nation"]

#: shared key spaces: a FK must shift by its PARENT's offset.
_KEYSPACE = {
    "o_custkey": ("customer", "c_custkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "l_partkey": ("part", "p_partkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
    # events.user_id shares the customer key space (sf0.1: user_id
    # 0..1499 ⊂ c_custkey 0..14999; every event joins a customer) —
    # shift by the CUSTOMER base so events↔orders/customer fan-out is
    # preserved for copies i>0 (ADVICE r3 item 1).
    "user_id": ("customer", "c_custkey"),
}


def dst_dir(k: int) -> str:
    return f"/tmp/sparkgraft_sfx{k}"


def amplify(spark, k: int, dst: str | None = None,
            tables: list[str] | None = None) -> str:
    """``dst``/``tables`` let callers (the CI sketch-band test) build a
    partial amplification of just the tables they need into their own
    directory; default is the full corpus at :func:`dst_dir`."""
    from pyspark.sql import functions as F

    out = dst or dst_dir(k)
    os.makedirs(out, exist_ok=True)
    # one offset base per key space, from the PK's own range
    base: dict[tuple[str, str], int] = {}
    for t, keys in KEYED.items():
        pk = keys[0]
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        base[(t, pk)] = df.agg(F.max(pk)).first()[0] + 1
    for t in COPY:
        if tables is not None and t not in tables:
            continue
        spark.read.parquet(f"{SRC}/{t}.parquet").write.mode(
            "overwrite").parquet(f"{out}/{t}.parquet")
    for t, keys in KEYED.items():
        if tables is not None and t not in tables:
            continue
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        df = df.withColumn("__i", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
        for c in keys:
            parent = _KEYSPACE.get(c, (t, keys[0]))
            df = df.withColumn(
                c, F.col(c) + F.col("__i") * F.lit(base[parent]))
        (df.drop("__i")
         .repartition(max(k // 4, spark.sparkContext.defaultParallelism))
         .write.mode("overwrite").parquet(f"{out}/{t}.parquet"))
    return out


#: doc_id layout for the skew corpus: member j of base family b gets
#: id (b << FAM_SHIFT) | j, so family membership is recoverable as
#: doc_id >> FAM_SHIFT without a join. 2^20 bounds family size at ~1M.
FAM_SHIFT = 20

#: Zipf exponent for family sizes (size_rank_i ∝ 1/i^s): s ≈ 1.1
#: matches the heavy-one-giant-family shape of real crawl duplicates.
ZIPF_S = 1.1


def skew_dir(k: int) -> str:
    return f"/tmp/sparkgraft_skew{k}"


def synth_skew(spark, k: int) -> str:
    """Synthesize a Zipf-skewed near-dup corpus of ~K x |documents| docs.

    Base docs come from sf0.1 (real text); the base ranked r (by
    doc_id) spawns a family of max(1, C / r^ZIPF_S) members where C is
    normalized so the total is ~K x 5000 — rank 1 is the giant family.
    Member j's text is the base text plus a 3-word member-unique tail
    (" v{j} k{j%97} zz"), so every same-family pair has exact shingle
    Jaccard S/(S+6) for S distinct base shingles: a TRUE near-dup when
    the base is long enough (S >= 24 ⇒ J >= 0.8), with per-family
    ground truth recoverable analytically (no quadratic truth scan).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    out = skew_dir(k)
    os.makedirs(out, exist_ok=True)
    d = spark.read.parquet(f"{SRC}/documents.parquet")
    n_base = d.count()
    target = k * n_base
    c = target / sum(1 / (i ** ZIPF_S) for i in range(1, n_base + 1))
    fam = (
        d.withColumn("rank", F.row_number().over(Window.orderBy("doc_id")))
        .withColumn(
            "fam_size",
            # clamp at 2^FAM_SHIFT (ADVICE r7): member j packs into the
            # low FAM_SHIFT bits of doc_id — an over-cap rank-1 family
            # at very large K would overflow j into the family bits and
            # silently corrupt doc_id >> FAM_SHIFT ground-truth recovery
            F.least(
                F.greatest(
                    F.lit(1),
                    F.floor(F.lit(c) / F.pow(F.col("rank"), F.lit(ZIPF_S))),
                ),
                F.lit(1 << FAM_SHIFT),
            ).cast("int"),
        )
    )
    members = fam.withColumn(
        "j", F.explode(F.sequence(F.lit(0), F.col("fam_size") - 1))
    ).repartition(spark.sparkContext.defaultParallelism * 4)
    tail = F.concat(
        F.lit(" v"), F.col("j").cast("string"),
        F.lit(" k"), (F.col("j") % 97).cast("string"),
        F.lit(" zz"),
    )
    docs = members.select(
        (F.shiftleft(F.col("doc_id"), FAM_SHIFT) + F.col("j")).alias("doc_id"),
        F.when(F.col("j") == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), tail)).alias("text"),
        "lang", "source",
    ).withColumn("n_chars", F.length("text"))
    docs.write.mode("overwrite").parquet(f"{out}/documents.parquet")

    # Embeddings with the same Zipf family structure (for the
    # MAX_EMB_BUCKET cap): member j = the base vector with ONE dim
    # scaled by 1.001 per member — cosine vs any family sibling stays
    # ~1.0 (a true near-dup family) and no hyperplane sign flips, so
    # the whole family collapses into one LSH bucket: the adversarial
    # hot-bucket case the cap exists for.
    ev = spark.read.parquet(f"{SRC}/embeddings.parquet")
    n_vec = ev.count()
    cv = (k * n_vec) / sum(1 / (i ** ZIPF_S) for i in range(1, n_vec + 1))
    efam = (
        ev.withColumn("rank", F.row_number().over(Window.orderBy("vec_id")))
        .withColumn(
            "fam_size",
            F.least(  # same 2^FAM_SHIFT id-packing clamp as documents
                F.greatest(
                    F.lit(1),
                    F.floor(F.lit(cv) / F.pow(F.col("rank"), F.lit(ZIPF_S))),
                ),
                F.lit(1 << FAM_SHIFT),
            ).cast("int"),
        )
        .withColumn("j", F.explode(F.sequence(F.lit(0), F.col("fam_size") - 1)))
        .repartition(spark.sparkContext.defaultParallelism * 4)
    )
    emb = efam.select(
        (F.shiftleft(F.col("vec_id"), FAM_SHIFT) + F.col("j")).alias("vec_id"),
        "label",
        F.expr(
            "transform(embedding, (x, i) -> IF(j > 0 AND i = CAST(j % 64 AS INT), "
            "CAST(x * CAST(1.001 AS DOUBLE) AS FLOAT), x))"
        ).alias("embedding"),
    )
    emb.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    return out


import contextlib


@contextlib.contextmanager
def _deadline(spark, label: str, timeout_s: int):
    """Job-group + Timer cancellation around one timed action — the same
    pattern run() uses, factored out so skew mode's documented --timeout
    actually binds (ADVICE r7: skew_metrics accepted timeout_s but never
    used it, so a hung query ran unbounded)."""
    sc = spark.sparkContext
    sc.setJobGroup(label, label, interruptOnCancel=True)
    timer = threading.Timer(timeout_s, lambda: sc.cancelJobGroup(label))
    timer.start()
    try:
        yield
    finally:
        timer.cancel()
        sc.setJobGroup("", "")


def skew_metrics(spark, k: int, timeout_s: int) -> dict:
    """Measure the cap discipline against the skewed corpus:

    - minhash: share of (doc, band) index entries dropped by MAX_BUCKET,
      share of docs with ALL bands dropped (cap-excluded from candidate
      generation entirely), near-dup coverage (docs of truly-near-dup
      families of size >= 2 that appear in >= 1 output pair), and wall.
    - blocked jaccard: share of docs in (lang, n_words) blocks over
      MAX_JACCARD_BLOCK (routed to the MinHash tier by design), wall.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from project2_bigdata_spark.operators.dedup import (
        _SHINGLES, _capped_bands, _shingled_cached,
        MAX_JACCARD_BLOCK, N_BANDS,
    )
    from project2_bigdata_spark.plans import REGISTRY

    sf = skew_dir(k)
    out: dict[str, object] = {"k": k, "dir": sf}

    docs = _shingled_cached(spark, sf)
    n_docs = docs.count()
    out["n_docs"] = n_docs

    # ---- MAX_BUCKET exclusion on the LSH band index -------------------
    capped = _capped_bands(docs)
    surv_entries, surv_docs = capped.agg(
        F.count("*"), F.countDistinct("doc_id")).first()
    out["minhash_band_entries_total"] = n_docs * N_BANDS
    out["minhash_band_entries_surviving"] = surv_entries
    out["minhash_cap_excluded_entry_share"] = round(
        1 - surv_entries / (n_docs * N_BANDS), 4)
    out["minhash_docs_fully_cap_excluded"] = n_docs - surv_docs
    out["minhash_docs_fully_cap_excluded_share"] = round(
        1 - surv_docs / n_docs, 4)

    # ---- near-dup coverage over the analytically-true families --------
    # family = doc_id >> FAM_SHIFT; a family is a TRUE near-dup family
    # when the base doc has S >= 24 distinct shingles (J = S/(S+6) >=
    # 0.8 for every same-family pair) and size >= 2.
    base = spark.read.parquet(f"{SRC}/documents.parquet").withColumn(
        "words", F.split("text", " ")
    ).withColumn("n_shingles", F.size(F.expr(_SHINGLES)))
    true_fams = base.filter(F.col("n_shingles") >= 24).select(
        F.col("doc_id").alias("fam"))
    eligible = (
        docs.select("doc_id")
        .withColumn("fam", F.shiftright("doc_id", FAM_SHIFT))
        .join(F.broadcast(true_fams), "fam")
        .withColumn("fn", F.count("*").over(Window.partitionBy("fam")))
        .filter(F.col("fn") >= 2)
        .select("doc_id", "fam")
    )
    t0 = time.perf_counter()
    pairs = REGISTRY["minhash_near_dup"].fn(spark, sf)
    with _deadline(spark, "skew-minhash", timeout_s):
        pairs.write.mode("overwrite").format("noop").save()
    out["minhash_near_dup_wall_sec"] = round(time.perf_counter() - t0, 1)
    covered = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    n_eligible = eligible.count()
    n_covered = eligible.join(covered, "doc_id").count()
    out["near_dup_eligible_docs"] = n_eligible
    out["near_dup_covered_docs"] = n_covered
    out["near_dup_recall"] = round(n_covered / max(n_eligible, 1), 4)

    # recall within the cap's design envelope: eligible docs that KEPT
    # at least one band entry (the cap's contract is "bounded work on
    # what it keeps", not "find pairs for docs it routed away")
    kept = eligible.join(capped.select("doc_id").distinct(), "doc_id")
    n_kept = kept.count()
    n_kept_cov = kept.join(covered, "doc_id").count()
    out["near_dup_recall_within_cap"] = round(n_kept_cov / max(n_kept, 1), 4)

    # ---- recall recovery: linear hot-bucket representative pass -------
    # the production composition (minhash_hot_bucket_dedup's doc): the
    # quadratic pair join handles under-cap buckets, the O(bucket)
    # representative pass handles the cap-excluded hot families.
    from project2_bigdata_spark.operators.dedup import (
        minhash_hot_bucket_matches,
    )

    t0 = time.perf_counter()
    hot = minhash_hot_bucket_matches(spark, sf, threshold=0.8)
    hot_docs = hot.select("doc_id").unionByName(
        hot.select(F.col("canonical_doc_id").alias("doc_id"))).distinct()
    with _deadline(spark, "skew-hot-pass", timeout_s):
        n_hot_docs = hot_docs.count()
    out["hot_pass_wall_sec"] = round(time.perf_counter() - t0, 1)
    out["hot_pass_docs_matched"] = n_hot_docs
    n_comb = eligible.join(
        covered.unionByName(hot_docs).distinct(), "doc_id").count()
    out["near_dup_recall_combined"] = round(n_comb / max(n_eligible, 1), 4)

    # ---- MAX_JACCARD_BLOCK routing on the (lang, n_words) blocks ------
    blocks = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "lang", F.size(F.split("text", " ")).alias("n_words"))
        .withColumn("bn", F.count("*").over(Window.partitionBy("lang", "n_words")))
    )
    out["jaccard_block_routed_share"] = round(
        blocks.filter(F.col("bn") > MAX_JACCARD_BLOCK).count() / n_docs, 4)
    t0 = time.perf_counter()
    with _deadline(spark, "skew-blocked-jaccard", timeout_s):
        REGISTRY["dedup_blocked_jaccard"].fn(spark, sf).write.mode(
            "overwrite").format("noop").save()
    out["blocked_jaccard_wall_sec"] = round(time.perf_counter() - t0, 1)

    # ---- MAX_EMB_BUCKET exclusion on the hyperplane LSH buckets --------
    from project2_bigdata_spark.operators.similarity import (
        MAX_EMB_BUCKET, _bucket_expr,
    )

    ev = spark.read.parquet(f"{sf}/embeddings.parquet")
    n_vecs = ev.count()
    out["n_vecs"] = n_vecs
    buckets = ev.withColumn("bucket", _bucket_expr()).withColumn(
        "bn", F.count("*").over(Window.partitionBy("bucket")))
    out["emb_bucket_cap_excluded_share"] = round(
        buckets.filter(F.col("bn") > MAX_EMB_BUCKET).count() / n_vecs, 4)
    t0 = time.perf_counter()
    with _deadline(spark, "skew-emb-cosine", timeout_s):
        REGISTRY["dedup_embedding_cosine"].fn(spark, sf).write.mode(
            "overwrite").format("noop").save()
    out["dedup_embedding_cosine_wall_sec"] = round(time.perf_counter() - t0, 1)
    return out


#: Documented estimation-regime error bounds, asserted by sketch_bands
#: (VERDICT r7 item 2 — the bounds SCALE.md/COVERAGE.md cite, now
#: measured against exact recomputation instead of taken on faith).
#: theta: rsd = 1/sqrt(2^lg_k) = 1.5625% at the default lg_k=12; the
#: per-day assertion allows 3 sigma. KLL: the Datasketches double-sided
#: normalized rank-error formula 2.296/k^0.9 gives 0.04% at k=16384 —
#: assert the far-coarser 0.8% band SCALE.md documents, and report the
#: measured value alongside.
THETA_RSD = 1.0 / (2 ** 12) ** 0.5
KLL_RANK_BAND = 0.008


def sketch_bands(spark, k: int, sf: str | None = None,
                 theta_lg_k: int | None = None) -> dict:
    """Estimation-regime accuracy audit for the theta and KLL sketches
    at K x scale (requires ``amplify K`` to have run): the driver-scale
    oracles deliberately pin the EXACT regime for hash parity, so this
    mode is where the 100 TB behavior — bounded error, not exactness —
    gets measured and ASSERTED. Uses the same sketch parameters as the
    registered queries (theta default lg_k=12; KLL k=16384 from
    stream_kll_value_quantiles). Raises AssertionError if any band is
    violated, so a sketch-parameter regression fails the harness —
    AND, since r9, fails ``pytest tests/`` too: tests/
    test_sketch_bands.py runs this function at K=10 against a partial
    events-only amplification (VERDICT r8 missing-item 3).
    ``theta_lg_k`` exists for that test's negative control: passing a
    deliberately lowered lg_k must trip the band assertions while the
    documented THETA_RSD constant stays fixed."""
    from pyspark.sql import functions as F

    from project2_bigdata_spark.catalog import table
    from project2_bigdata_spark.streaming.windows import _STREAM_KLL_K

    sf = sf or dst_dir(k)
    ev = table(spark, sf, "events")
    out: dict[str, object] = {"k": k, "dir": sf}

    theta_agg = (F.theta_sketch_agg("user_id") if theta_lg_k is None
                 else F.theta_sketch_agg("user_id", F.lit(theta_lg_k)))
    # ---- theta per-day distinct users: estimate vs exact --------------
    per_day = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.round(F.theta_sketch_estimate(theta_agg))
            .cast("bigint").alias("est"),
            F.countDistinct("user_id").alias("exact"),
        )
        .where(F.col("exact") > 0)
        .select(
            "exact",
            (F.abs(F.col("est") - F.col("exact")) / F.col("exact"))
            .alias("relerr"),
        )
    )
    n_days, min_exact, max_exact, mean_err, max_err = per_day.agg(
        F.count("*"), F.min("exact"), F.max("exact"),
        F.mean("relerr"), F.max("relerr")).first()
    out["theta_days"] = n_days
    out["theta_day_distinct_range"] = [int(min_exact), int(max_exact)]
    out["theta_estimation_regime"] = bool(max_exact > 4096)
    out["theta_rsd_documented"] = round(THETA_RSD, 6)
    out["theta_mean_relerr"] = round(float(mean_err), 6)
    out["theta_max_relerr"] = round(float(max_err), 6)
    assert max_exact > 4096, (
        f"theta never left the exact regime at K={k} "
        f"(max per-day distinct {max_exact} <= 4096) — band not exercised")
    assert max_err <= 3 * THETA_RSD, (
        f"theta per-day relative error {max_err:.4f} exceeds 3*rsd "
        f"{3 * THETA_RSD:.4f}")
    # mean bound is 2*rsd, NOT rsd: per-day errors are CORRELATED on
    # this corpus — every day samples (nearly) the same user set, so
    # the same hash draw drives every day's estimate and the cross-day
    # mean behaves like ONE estimate, not an averaged-down one (r9:
    # the 1*rsd bound held at K=100 only by draw and tripped at K=10
    # with mean 1.9%; a genuine parameter regression like lg_k=5 sits
    # at ~17.7% rsd and still fails this bound by an order of
    # magnitude)
    assert mean_err <= 2 * THETA_RSD, (
        f"theta mean relative error {mean_err:.4f} exceeds 2*rsd "
        f"{2 * THETA_RSD:.4f}")

    # ---- KLL deciles over `value`: estimated quantile's EXACT rank ----
    probes = [i / 10 for i in range(1, 10)]
    est = ev.agg(
        F.kll_sketch_agg_double("value", F.lit(_STREAM_KLL_K)).alias("sk"),
        F.count("value").alias("n"),
    ).select(
        "n",
        *[F.kll_sketch_get_quantile_double("sk", F.lit(q)).alias(f"q{i}")
          for i, q in enumerate(probes, start=1)],
    ).first()
    n = est["n"]
    out["kll_n"] = int(n)
    out["kll_estimation_regime"] = bool(n > _STREAM_KLL_K)
    assert n > _STREAM_KLL_K, (
        f"KLL never left the exact regime at K={k} (n={n} <= k="
        f"{_STREAM_KLL_K}) — band not exercised")
    # one pass computes every estimate's exact rank: rank(v) = share of
    # values <= v (the definition the sketch's rank error binds on)
    ranks = ev.agg(*[
        (F.sum(F.when(F.col("value") <= F.lit(float(est[f"q{i}"])), 1)
               .otherwise(0)) / F.lit(float(n))).alias(f"r{i}")
        for i in range(1, 10)
    ]).first()
    errs = [abs(float(ranks[f"r{i}"]) - q)
            for i, q in enumerate(probes, start=1)]
    out["kll_k"] = _STREAM_KLL_K
    out["kll_rank_band_documented"] = KLL_RANK_BAND
    out["kll_datasketches_eps"] = round(2.296 / _STREAM_KLL_K ** 0.9, 6)
    out["kll_max_rank_err"] = round(max(errs), 6)
    out["kll_rank_errs"] = [round(e, 6) for e in errs]
    assert max(errs) <= KLL_RANK_BAND, (
        f"KLL decile rank error {max(errs):.5f} exceeds the documented "
        f"{KLL_RANK_BAND} band")
    return out


def pyds_pushdown(spark, k: int, timeout_s: int) -> dict:
    """Measure filter pushdown through the Python DataSource on a K x
    orders export (VERDICT r8 item 7): one selective scan
    (purchase_method = '1-URGENT' AND total_price > 1000, ~20%
    selectivity) timed WITH pushdown (bytes-level prefilter skips
    json.loads for non-candidate lines; predicate applied before the
    Python→JVM boundary) and WITHOUT (disable_pushdown option — every
    line parses, crosses to the JVM, and filters there), plus the
    full-scan baseline. Requires ``amplify K``. Asserts both selective
    variants return the same count."""
    import glob

    from pyspark.sql import functions as F

    from project2_bigdata_spark.catalog import table
    from project2_bigdata_spark.sources.ingest import extended_json_doc
    from project2_bigdata_spark.sources.pyds import read_jsonl_sales

    sf = dst_dir(k)
    out: dict[str, object] = {"k": k, "dir": sf}
    exp = f"/tmp/sparkgraft_pyds_export_{k}"
    (table(spark, sf, "orders")
     .select(extended_json_doc().alias("value"))
     .coalesce(1).write.mode("overwrite").text(exp))
    part = glob.glob(f"{exp}/part-*")[0]
    out["export_bytes"] = os.path.getsize(part)
    npart = spark.sparkContext.defaultParallelism * 2

    pred = (F.col("purchase_method") == "1-URGENT") & (
        F.col("total_price") > 1000.0)
    # point lookup: one existing key — the prefilter's best case
    # (json.loads + Arrow transfer skipped for ~every line)
    some_key = str(table(spark, sf, "orders")
                   .agg(F.max("o_orderkey")).first()[0])
    point = F.col("sale_id") == some_key

    def _no_push(flt):
        return (spark.read.format("p2bd_jsonl")
                .option("path", part).option("num_partitions", str(npart))
                .option("disable_pushdown", "true").load().filter(flt))

    variants = {
        "full_scan": lambda: read_jsonl_sales(spark, part, npart),
        "selective_pushdown": lambda: read_jsonl_sales(
            spark, part, npart).filter(pred),
        "selective_no_pushdown": lambda: _no_push(pred),
        "point_pushdown": lambda: read_jsonl_sales(
            spark, part, npart).filter(point),
        "point_no_pushdown": lambda: _no_push(point),
    }
    counts: dict[str, int] = {}
    for name, build in variants.items():
        t0 = time.perf_counter()
        with _deadline(spark, f"pyds-{name}", timeout_s):
            counts[name] = build().count()
        out[f"{name}_wall_sec"] = round(time.perf_counter() - t0, 1)
        out[f"{name}_rows"] = counts[name]
        print(f"  {name}: {out[f'{name}_wall_sec']}s "
              f"({counts[name]} rows)", file=sys.stderr, flush=True)
    assert counts["selective_pushdown"] == counts["selective_no_pushdown"]
    assert counts["point_pushdown"] == counts["point_no_pushdown"] == 1
    out["pushdown_speedup"] = round(
        out["selective_no_pushdown_wall_sec"]
        / max(out["selective_pushdown_wall_sec"], 1e-9), 2)
    out["point_speedup"] = round(
        out["point_no_pushdown_wall_sec"]
        / max(out["point_pushdown_wall_sec"], 1e-9), 2)

    # streaming replay (r10, VERDICT r9 item 7): the eq_filters
    # options-level predicate — an AvailableNow drain of the same
    # export, filtered inside the stream reader vs unfiltered
    import shutil
    import uuid

    from project2_bigdata_spark.sources.pyds import stream_jsonl_sales

    def _stream_count(eq) -> int:
        ck = f"/tmp/sparkgraft_pyds_stream_ck_{uuid.uuid4().hex}"
        got: list[int] = []
        q = (stream_jsonl_sales(spark, part, npart, eq=eq)
             .writeStream
             .foreachBatch(lambda df, b: got.append(df.count()))
             .trigger(availableNow=True)
             .option("checkpointLocation", ck).start())
        q.awaitTermination()
        shutil.rmtree(ck, ignore_errors=True)
        return sum(got)

    for name, eq in (
        ("stream_full", None),
        ("stream_point_eq", {"sale_id": some_key}),
        ("stream_selective_eq", {"purchase_method": "1-URGENT"}),
    ):
        t0 = time.perf_counter()
        with _deadline(spark, f"pyds-{name}", timeout_s):
            n = _stream_count(eq)
        out[f"{name}_wall_sec"] = round(time.perf_counter() - t0, 1)
        out[f"{name}_rows"] = n
        print(f"  {name}: {out[f'{name}_wall_sec']}s ({n} rows)",
              file=sys.stderr, flush=True)
    assert out["stream_point_eq_rows"] == 1
    assert out["stream_full_rows"] == counts["full_scan"]
    out["stream_point_speedup"] = round(
        out["stream_full_wall_sec"]
        / max(out["stream_point_eq_wall_sec"], 1e-9), 2)
    return out


def merge_cow(spark, k: int, timeout_s: int) -> dict:
    """Measure the r10 bucket-level copy-on-write merge against the
    full-snapshot merge on a K x orders dimension: bootstrap both
    layouts from all orders, then apply the SAME ~1%-of-keys delta to
    each and compare (a) wall, (b) bytes actually rewritten (v=2 files
    not hardlinked from v=1). Requires ``amplify K``. Asserts both
    paths produce the same merged state on the touched keys."""
    import glob

    from pyspark.sql import functions as F

    from project2_bigdata_spark.catalog import table
    from project2_bigdata_spark.sources.ingest import (
        merge_upsert, merge_upsert_bucketed, read_version,
    )

    sf = dst_dir(k)
    out: dict[str, object] = {"k": k, "dir": sf}

    # key on o_orderkey: the dimension is the full 15M-row relation
    # (no per-key collapse), so the full-snapshot rewrite moves
    # hundreds of MB per merge — the shape where copy-on-write's wall
    # win shows up, not just its I/O win
    def state_rows(df):
        return df.select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderdate").alias("ts"),
            F.col("o_totalprice").alias("v"),
            F.col("o_orderpriority").alias("prio"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_custkey").alias("custkey"),
        )

    orders = table(spark, sf, "orders")
    full = state_rows(orders)
    # the CDC micro-batch shape: ~50 keys per merge against the full
    # dimension — uniform hashing touches <= 50 of n_buckets buckets,
    # so copy-on-write carries the rest as hardlinks (a large uniform
    # key fraction would touch every bucket and degrade to the full
    # rewrite, by design)
    batch_keys = [r[0] for r in orders.select("o_orderkey")
                  .orderBy("o_orderkey").limit(50).collect()]
    delta = state_rows(
        orders.where(F.col("o_orderkey").isin(batch_keys))
    ).withColumn("v", F.col("v") + 1)
    n_buckets = 256
    keys, oc = ["k"], ["ts"]
    out["delta_keys"] = len(batch_keys)
    out["n_buckets"] = n_buckets

    pb = f"/tmp/sparkgraft_cow_bucketed_{k}"
    pf = f"/tmp/sparkgraft_cow_full_{k}"
    import shutil
    for p in (pb, pf):
        shutil.rmtree(p, ignore_errors=True)

    t0 = time.perf_counter()
    with _deadline(spark, "cow-bootstrap-bucketed", timeout_s):
        merge_upsert_bucketed(spark, pb, full, keys, oc,
                              n_buckets=n_buckets)
    out["bootstrap_bucketed_sec"] = round(time.perf_counter() - t0, 1)
    t0 = time.perf_counter()
    with _deadline(spark, "cow-bootstrap-full", timeout_s):
        merge_upsert(spark, pf, full, keys, oc)
    out["bootstrap_full_sec"] = round(time.perf_counter() - t0, 1)

    t0 = time.perf_counter()
    with _deadline(spark, "cow-delta-bucketed", timeout_s):
        merge_upsert_bucketed(spark, pb, delta, keys, oc,
                              n_buckets=n_buckets)
    out["delta_bucketed_sec"] = round(time.perf_counter() - t0, 1)
    t0 = time.perf_counter()
    with _deadline(spark, "cow-delta-full", timeout_s):
        merge_upsert(spark, pf, delta, keys, oc)
    out["delta_full_sec"] = round(time.perf_counter() - t0, 1)

    # bytes rewritten vs shared: hardlinked files keep v=1's inode
    i1 = {os.stat(f).st_ino for f in
          glob.glob(f"{pb}/v=1/_bucket=*/*.parquet")}
    rewritten = linked = 0
    for f in glob.glob(f"{pb}/v=2/_bucket=*/*.parquet"):
        st = os.stat(f)
        if st.st_ino in i1:
            linked += st.st_size
        else:
            rewritten += st.st_size
    full_v2 = sum(os.path.getsize(f) for f in
                  glob.glob(f"{pf}/v=2/*.parquet"))
    out["bucketed_v2_rewritten_bytes"] = rewritten
    out["bucketed_v2_hardlinked_bytes"] = linked
    out["full_v2_written_bytes"] = full_v2
    out["write_amplification_ratio"] = round(
        full_v2 / max(rewritten, 1), 1)

    # parity on the merged state (touched keys + a count check);
    # decimal sum — float sums differ in the last ulp by partition
    # order (the repo-wide money rule)
    def _probe(p):
        return (read_version(spark, p, 2)
                .where(F.col("k").isin(batch_keys))
                .agg(F.count("*"),
                     F.sum(F.col("v").cast("decimal(28,2)"))).first())

    a, b = _probe(pb), _probe(pf)
    assert (a[0], a[1]) == (b[0], b[1]), (a, b)
    out["merge_speedup"] = round(
        out["delta_full_sec"] / max(out["delta_bucketed_sec"], 1e-9), 2)
    for p in (pb, pf):
        shutil.rmtree(p, ignore_errors=True)
    return out


def lakehouse_r11(spark, k: int, timeout_s: int) -> dict:
    """K x measurements for the round-11 lakehouse additions: (a) the
    evolving bucketed merge (schema evolution must not break the COW
    hardlink bound or the commit cost), (b) REBUCKET (expected O(table)
    — it is the migration, not the steady state), (c) file-level stats
    skipping (scan-side win of a selective predicate vs the full-scan
    filter), (d) OPTIMIZE ZORDER (cost of the clustering shuffle + the
    pruning it buys on BOTH columns), (e) latest-version resolution
    (pointer vs directory listing on a many-version chain). Requires
    ``amplify K``."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from project2_bigdata_spark.catalog import table
    from project2_bigdata_spark.sources.ingest import (
        _latest_committed, _versions, commit_version, merge_upsert_bucketed,
        optimize_version, read_change_feed, read_version, rebucket_version,
    )

    sf = dst_dir(k)
    out: dict[str, object] = {"k": k, "dir": sf}

    def state_rows(df):
        return df.select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderdate").alias("ts"),
            F.col("o_totalprice").alias("v"),
            F.col("o_orderpriority").alias("prio"),
        )

    orders = table(spark, sf, "orders")
    full = state_rows(orders)
    batch_keys = [r[0] for r in orders.select("o_orderkey")
                  .orderBy("o_orderkey").limit(50).collect()]
    delta = state_rows(
        orders.where(F.col("o_orderkey").isin(batch_keys))
    ).withColumn("v", F.col("v") + 1) \
     .withColumn("extra", F.lit("evolved"))  # the WIDER CDC batch
    n_buckets, keys, oc = 256, ["k"], ["ts"]

    pb = f"/tmp/sparkgraft_r11_evolve_{k}"
    shutil.rmtree(pb, ignore_errors=True)
    t0 = time.perf_counter()
    with _deadline(spark, "r11-bootstrap", timeout_s):
        merge_upsert_bucketed(spark, pb, full, keys, oc,
                              n_buckets=n_buckets)
    out["bootstrap_sec"] = round(time.perf_counter() - t0, 1)

    # (a) evolving COW merge: hardlink bound must survive evolution
    t0 = time.perf_counter()
    with _deadline(spark, "r11-evolve-merge", timeout_s):
        merge_upsert_bucketed(spark, pb, delta, keys, oc,
                              n_buckets=n_buckets, schema_evolution=True)
    out["evolving_merge_sec"] = round(time.perf_counter() - t0, 1)
    i1 = {os.stat(f).st_ino for f in
          glob.glob(f"{pb}/v=1/_bucket=*/*.parquet")}
    rewritten = linked = 0
    for f in glob.glob(f"{pb}/v=2/_bucket=*/*.parquet"):
        st = os.stat(f)
        if st.st_ino in i1:
            linked += st.st_size
        else:
            rewritten += st.st_size
    out["evolve_rewritten_bytes"] = rewritten
    out["evolve_hardlinked_bytes"] = linked
    out["evolve_hardlinked_pct"] = round(
        100 * linked / max(linked + rewritten, 1), 1)
    # mixed-schema read cost: full count over marker-schema read
    t0 = time.perf_counter()
    n_mixed = read_version(spark, pb, 2).count()
    out["mixed_schema_read_sec"] = round(time.perf_counter() - t0, 1)
    out["rows"] = n_mixed

    # (b) REBUCKET 256 -> 512: O(table) rewrite + change-free feed
    t0 = time.perf_counter()
    with _deadline(spark, "r11-rebucket", timeout_s):
        assert rebucket_version(spark, pb, 512) == 3
    out["rebucket_sec"] = round(time.perf_counter() - t0, 1)
    assert read_change_feed(spark, pb, keys, from_version=2,
                            to_version=3).count() == 0
    # a post-rebucket inherit merge stays bucket-bounded
    t0 = time.perf_counter()
    with _deadline(spark, "r11-post-rebucket-merge", timeout_s):
        merge_upsert_bucketed(
            spark, pb, delta.withColumn("v", F.col("v") + 1),
            keys, oc, n_buckets=None, schema_evolution=True)
    out["post_rebucket_merge_sec"] = round(time.perf_counter() - t0, 1)

    # (c) stats skipping: selective predicate vs full-scan filter
    ps = f"/tmp/sparkgraft_r11_skip_{k}"
    shutil.rmtree(ps, ignore_errors=True)
    proj = orders.select("o_orderkey", "o_custkey", "o_totalprice")
    t0 = time.perf_counter()
    with _deadline(spark, "r11-skip-commit", timeout_s):
        assert commit_version(proj.repartitionByRange(64, "o_orderkey"),
                              ps, 1)
    out["skip_commit_sec"] = round(time.perf_counter() - t0, 1)
    hi = orders.agg(F.max("o_orderkey")).first()[0]
    lo_pred = [("o_orderkey", "<", int(hi * 0.01))]
    t0 = time.perf_counter()
    n_pruned_rows = read_version(spark, ps, 1, where=lo_pred).count()
    out["skip_pruned_scan_sec"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    n_full_rows = (read_version(spark, ps, 1)
                   .filter(F.col("o_orderkey") < int(hi * 0.01)).count())
    out["skip_fullscan_filter_sec"] = round(time.perf_counter() - t0, 2)
    assert n_pruned_rows == n_full_rows
    out["skip_files_scanned"] = len(
        read_version(spark, ps, 1, where=lo_pred).inputFiles())
    out["skip_files_total"] = len(read_version(spark, ps, 1).inputFiles())

    # (d) OPTIMIZE ZORDER on a hash-shuffled copy: shuffle cost + the
    # file pruning it buys on each clustered column
    pz = f"/tmp/sparkgraft_r11_zorder_{k}"
    shutil.rmtree(pz, ignore_errors=True)
    with _deadline(spark, "r11-zorder-commit", timeout_s):
        assert commit_version(proj.repartition(64), pz, 1)
    t0 = time.perf_counter()
    with _deadline(spark, "r11-zorder-optimize", timeout_s):
        assert optimize_version(spark, pz, target_file_mb=8,
                                zorder_by=["o_custkey", "o_orderkey"]) == 2
    out["zorder_optimize_sec"] = round(time.perf_counter() - t0, 1)
    chi = orders.agg(F.max("o_custkey")).first()[0]
    n_all = len(read_version(spark, pz, 2).inputFiles())
    out["zorder_files_total"] = n_all
    out["zorder_files_custkey_pred"] = len(read_version(
        spark, pz, 2,
        where=[("o_custkey", "<", int(chi * 0.02))]).inputFiles())
    out["zorder_files_orderkey_pred"] = len(read_version(
        spark, pz, 2,
        where=[("o_orderkey", "<", int(hi * 0.02))]).inputFiles())

    # (e) latest-version resolution: pointer vs listing on a long chain
    pv = f"/tmp/sparkgraft_r11_chain_{k}"
    shutil.rmtree(pv, ignore_errors=True)
    tiny = spark.range(1).select(F.col("id").alias("k"))
    n_chain = 120
    for i in range(1, n_chain + 1):
        assert commit_version(tiny, pv, i)
    reps = 2000
    t0 = time.perf_counter()
    for _ in range(reps):
        assert _latest_committed(pv) == n_chain
    out["resolve_pointer_us"] = round(
        (time.perf_counter() - t0) / reps * 1e6, 1)
    t0 = time.perf_counter()
    for _ in range(reps):
        assert _versions(pv, committed_only=True)[-1] == n_chain
    out["resolve_listing_us"] = round(
        (time.perf_counter() - t0) / reps * 1e6, 1)
    out["chain_len"] = n_chain

    for p in (pb, ps, pz, pv):
        shutil.rmtree(p, ignore_errors=True)
    return out


def lakehouse_r12(spark, k: int, timeout_s: int) -> dict:
    """K x measurements for the round-12 additions: (a) predicate DML
    (delete_where / update_where) — wall + the bytes the stats pruning
    saved (hardlinked vs rewritten); (b) executor-side commit stats —
    driver footer walk vs distributed collection as the file count
    grows 10x (the commit-cost-flat claim); (c) disjoint-writer
    contention — the loser's post-race cost with REBASE (relink)
    versus the forced full re-merge an overlapping winner causes.
    Requires ``amplify K``."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from project2_bigdata_spark.catalog import table
    from project2_bigdata_spark.sources.ingest import (
        _collect_file_stats, commit_version, delete_where,
        merge_upsert_bucketed, read_version, update_where,
    )

    sf = dst_dir(k)
    out: dict[str, object] = {"k": k, "dir": sf}
    orders = table(spark, sf, "orders")
    proj = orders.select("o_orderkey", "o_custkey", "o_totalprice",
                         "o_orderpriority")
    hi = orders.agg(F.max("o_orderkey")).first()[0]

    # (a) predicate DML on a 64-file range-clustered snapshot: a 1%
    # range delete should rewrite ~1 file and hardlink the rest
    pd_ = f"/tmp/sparkgraft_r12_dml_{k}"
    shutil.rmtree(pd_, ignore_errors=True)
    with _deadline(spark, "r12-dml-commit", timeout_s):
        assert commit_version(proj.repartitionByRange(64, "o_orderkey"),
                              pd_, 1)
    t0 = time.perf_counter()
    with _deadline(spark, "r12-delete", timeout_s):
        assert delete_where(
            spark, pd_,
            [("o_orderkey", "between", (0, int(hi * 0.01)))]) == 2
    out["delete_sec"] = round(time.perf_counter() - t0, 2)
    i1 = {os.stat(f).st_ino for f in glob.glob(f"{pd_}/v=1/*.parquet")}
    rew = lnk = 0
    for f in glob.glob(f"{pd_}/v=2/*.parquet"):
        st = os.stat(f)
        if st.st_ino in i1:
            lnk += st.st_size
        else:
            rew += st.st_size
    out["delete_rewritten_bytes"] = rew
    out["delete_hardlinked_bytes"] = lnk
    out["delete_hardlinked_pct"] = round(100 * lnk / max(lnk + rew, 1), 1)
    t0 = time.perf_counter()
    with _deadline(spark, "r12-update", timeout_s):
        assert update_where(
            spark, pd_,
            [("o_orderkey", "between",
              (int(hi * 0.50), int(hi * 0.51)))],
            set={"o_totalprice": "o_totalprice * 2"}) == 3
    out["update_sec"] = round(time.perf_counter() - t0, 2)
    i2 = {os.stat(f).st_ino for f in glob.glob(f"{pd_}/v=2/*.parquet")}
    rew = lnk = 0
    for f in glob.glob(f"{pd_}/v=3/*.parquet"):
        st = os.stat(f)
        if st.st_ino in i2:
            lnk += st.st_size
        else:
            rew += st.st_size
    out["update_rewritten_bytes"] = rew
    out["update_hardlinked_bytes"] = lnk
    out["update_hardlinked_pct"] = round(100 * lnk / max(lnk + rew, 1), 1)
    shutil.rmtree(pd_, ignore_errors=True)

    # (b) commit-stats collection: driver walk vs distributed as the
    # staged file count grows 10x — the distributed path must stay
    # ~flat (one job, one narrow row per file) while the driver walk
    # grows linearly with #files
    for n_files in (64, 640):
        pstat = f"/tmp/sparkgraft_r12_stats_{k}_{n_files}"
        shutil.rmtree(pstat, ignore_errors=True)
        with _deadline(spark, f"r12-stats-commit-{n_files}", timeout_s):
            assert commit_version(proj.repartition(n_files), pstat, 1)
        vdir = f"{pstat}/v=1"
        _collect_file_stats(vdir)  # warm the page cache for both
        t0 = time.perf_counter()
        a = _collect_file_stats(vdir)
        out[f"stats_driver_sec_{n_files}f"] = round(
            time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        b = _collect_file_stats(vdir, spark=spark, distributed_min=1)
        out[f"stats_distributed_sec_{n_files}f"] = round(
            time.perf_counter() - t0, 3)
        assert a == b, "collector parity"
        shutil.rmtree(pstat, ignore_errors=True)

    # (c) contention: disjoint REBASE vs overlapping full re-merge —
    # the loser's wall time after losing the rename race
    def state_rows(df):
        return df.select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderdate").alias("ts"),
            F.col("o_totalprice").alias("v"),
        )

    full = state_rows(orders)
    keys, oc, n_buckets = ["k"], ["ts"], 256
    from project2_bigdata_spark.sources.ingest import _bucket_expr
    some = orders.select("o_orderkey").orderBy("o_orderkey") \
        .limit(4000).withColumn("_b", _bucket_expr(["o_orderkey"],
                                                   n_buckets))
    keys_lo = [r[0] for r in
               some.where(F.col("_b") < 128).limit(25).collect()]
    keys_hi = [r[0] for r in
               some.where(F.col("_b") >= 128).limit(25).collect()]
    for label, winner_keys in (("rebase", keys_lo),
                               ("remerge", keys_lo[:1] + keys_hi[:24])):
        pc = f"/tmp/sparkgraft_r12_race_{k}_{label}"
        shutil.rmtree(pc, ignore_errors=True)
        with _deadline(spark, f"r12-race-bootstrap-{label}", timeout_s):
            merge_upsert_bucketed(spark, pc, full, keys, oc,
                                  n_buckets=n_buckets)
        # loser always merges keys_hi[25:] … reuse keys_hi; winner is
        # disjoint (rebase) or overlaps one bucket (remerge)
        loser_delta = state_rows(
            orders.where(F.col("o_orderkey").isin(keys_hi))
        ).withColumn("v", F.col("v") + 1)
        winner_delta = state_rows(
            orders.where(F.col("o_orderkey").isin(winner_keys))
        ).withColumn("v", F.col("v") + 2)
        race_t = {}

        def hook(attempt, target, _w=winner_delta, _r=race_t):
            if attempt == 0 and not _r:
                _r["winner"] = True
                merge_upsert_bucketed(spark, pc, _w, keys, oc,
                                      n_buckets=None)
                _r["t_after_winner"] = time.perf_counter()

        t0 = time.perf_counter()
        with _deadline(spark, f"r12-race-{label}", timeout_s):
            merge_upsert_bucketed(spark, pc, loser_delta, keys, oc,
                                  n_buckets=None, pre_commit_hook=hook)
        # post-race cost: from the winner's commit landing to the
        # loser's successful publish (rebase = relink; remerge = full)
        out[f"race_{label}_loser_post_sec"] = round(
            time.perf_counter() - race_t["t_after_winner"], 2)
        out[f"race_{label}_total_sec"] = round(
            time.perf_counter() - t0, 2)
        shutil.rmtree(pc, ignore_errors=True)
    out["race_rebase_speedup"] = round(
        out["race_remerge_loser_post_sec"]
        / max(out["race_rebase_loser_post_sec"], 1e-9), 1)
    return out


def run(spark, k: int, names: list[str], timeout_s: int) -> dict:
    from project2_bigdata_spark.plans import REGISTRY

    sf = dst_dir(k)
    sc = spark.sparkContext
    results: dict[str, object] = {}
    for name in names:
        q = REGISTRY[name]
        sc.setJobGroup(name, name, interruptOnCancel=True)
        timer = threading.Timer(timeout_s, lambda n=name: sc.cancelJobGroup(n))
        timer.start()
        t0 = time.perf_counter()
        try:
            q.fn(spark, sf).write.mode("overwrite").format("noop").save()
            results[name] = round(time.perf_counter() - t0, 2)
        except Exception as e:  # noqa: BLE001
            elapsed = round(time.perf_counter() - t0, 2)
            kind = "TIMEOUT" if elapsed >= timeout_s * 0.95 else "FAIL"
            results[name] = f"{kind} after {elapsed}s: {repr(e)[:120]}"
        finally:
            timer.cancel()
            sc.setJobGroup("", "")
        print(f"  {name}: {results[name]}", file=sys.stderr, flush=True)
    return results


def main() -> int:
    from project2_bigdata_spark.session import get_session

    mode, k = sys.argv[1], int(sys.argv[2])
    spark = get_session(f"scale-stress-x{k}")
    spark.sparkContext.setLogLevel("ERROR")
    if mode == "amplify":
        t0 = time.perf_counter()
        out = amplify(spark, k)
        du = sum(os.path.getsize(os.path.join(r, f))
                 for r, _, fs in os.walk(out) for f in fs)
        print(json.dumps({"dst": out, "k": k, "bytes": du,
                          "sec": round(time.perf_counter() - t0, 1)}))
    elif mode == "sketch_bands":
        print(json.dumps(sketch_bands(spark, k)))
    elif mode == "pyds_pushdown":
        rest = sys.argv[3:]
        if rest and rest[0] == "--timeout":
            rest = rest[1:]
        print(json.dumps(pyds_pushdown(
            spark, k, int(rest[0]) if rest else 1200)))
    elif mode == "merge_cow":
        rest = sys.argv[3:]
        if rest and rest[0] == "--timeout":
            rest = rest[1:]
        print(json.dumps(merge_cow(
            spark, k, int(rest[0]) if rest else 1200)))
    elif mode == "lakehouse_r11":
        rest = sys.argv[3:]
        if rest and rest[0] == "--timeout":
            rest = rest[1:]
        print(json.dumps(lakehouse_r11(
            spark, k, int(rest[0]) if rest else 1800)))
    elif mode == "lakehouse_r12":
        rest = sys.argv[3:]
        if rest and rest[0] == "--timeout":
            rest = rest[1:]
        print(json.dumps(lakehouse_r12(
            spark, k, int(rest[0]) if rest else 1800)))
    elif mode == "bench10":
        # cross-query bench (VERDICT r8 item 8): the headline block
        # back-to-back at K x, catching cache-pressure/executor-churn
        # interactions the per-query protocol can't see. Requires
        # ``amplify K`` (run with k=10 for the sf1-equivalent row).
        from bench import HEADLINE
        from project2_bigdata_spark.plans import REGISTRY as _REG

        rest = sys.argv[3:]
        if rest and rest[0] == "--timeout":
            rest = rest[1:]
        timeout_s = int(rest[0]) if rest else 900
        names = [n for n in HEADLINE if n in _REG]
        t0 = time.perf_counter()
        res = run(spark, k, names, timeout_s)
        print(json.dumps({
            "k": k, "mode": "bench10",
            "heap": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            "cpus": spark.sparkContext.defaultParallelism,
            "block_total_sec": round(time.perf_counter() - t0, 1),
            "queries": res,
        }))
    elif mode == "skew":
        rest = sys.argv[3:]
        if rest and rest[0] == "--timeout":
            rest = rest[1:]
        timeout_s = int(rest[0]) if rest else 1200
        t0 = time.perf_counter()
        synth_skew(spark, k)
        synth_sec = round(time.perf_counter() - t0, 1)
        res = skew_metrics(spark, k, timeout_s)
        res["synth_sec"] = synth_sec
        print(json.dumps(res))
    else:
        names = sys.argv[3].split(",")
        # timeout: positional, or --timeout SEC (both documented forms)
        rest = sys.argv[4:]
        if rest and rest[0] == "--timeout":
            rest = rest[1:]
        timeout_s = int(rest[0]) if rest else 600
        res = run(spark, k, names, timeout_s)
        print(json.dumps({
            "k": k,
            "heap": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            "cpus": spark.sparkContext.defaultParallelism,
            "queries": res,
        }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
