"""Benchmark harness: run headline queries and print ONE JSON line.

Usage: python bench.py
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default all cores).

Runs at the same posture as a driver's session (``get_session`` +
``tune``): it sets no environment variable and has no warm-up.

Each query is executed fully (noop sink — JVM-side, no driver collect)
and timed; output: {"metric": "headline_total", "value": <sec>,
"unit": "sec", "queries": {name: sec}, "sf": <sf>}.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from project2_bigdata_spark.plans import REGISTRY  # noqa: E402
from project2_bigdata_spark.session import get_session  # noqa: E402

# Stable headline set (only names present in REGISTRY are run, so this
# list can reference queries from any phase).
HEADLINE = [
    "sales_daily",            # G1 core: join + group + exact sums
    "kpi_global",             # global scalar KPIs (multi-distinct)
    "customer_rollup",        # G6 per-customer join + agg
    "ticket_totals",          # G4 orderkey rollup
    "volatility_cv",          # two-level agg + moments
    "monthly_rollup",         # time-bucket reagg
    "events_hourly",          # hourly grain
    "pair_counts",            # A8 pair mining (self-join)
    "top_pairs_per_product",  # A9 window top-k
    "lag_features",           # W1 lag stack
    "dedup_exact",            # exact dedup on documents
    "minhash_near_dup",       # MinHash near-dup candidates
    "similarity_topk",        # brute-force cosine top-k
    "text_quality",           # doc quality scoring
    # round-1 additions: temporal, streaming, ingest, text/ANN surface
    "asof_join",              # as-of join via union + last-value window
    "sessionize",             # gap sessionization (batch)
    "stream_tumbling_hourly", # streaming tumbling window (bounded replay)
    "ingest_extended_json_repair",  # extended-JSON serialize→repair round trip
    "tfidf_top_terms",        # TF-IDF ranking
    "ann_lsh_topk",           # LSH-bucketed ANN
]

# Secondary set: families not in the headline metric (kept separate so
# "value" stays comparable round-over-round) but timed every run so
# regressions there are visible too.
SECONDARY = [
    "cube_status_priority",    # CUBE grouping sets
    "pivot_priority_by_status",  # pivot
    "funnel_view_click_purchase",  # ordered funnel
    "weekly_retention",        # cohort retention
    "dedup_embedding_cosine",  # hyperplane-LSH embedding dedup
    "dedup_blocked_jaccard",   # capped blocked Jaccard
    "simhash_buckets",         # vectorized simhash (watch the UDF cost)
    "asof_join_bucketed",      # skew-hardened as-of
    "ml_train_per_product",    # per-product grid search
    # round-2 curation surface
    "pii_redact",              # 3-regex scrub scan
    "span_dedup_crossdoc",     # C4-style span dedup
    "temperature_sample",      # mixture rebalancing
    "embedding_quantize",      # int8 vector compression
    "snapshot_diff",           # CDC conditional agg
    "corpus_pipeline_e2e",     # composed quality→dedup→sample→chunk
    "knn_join_topk",           # LSH-bucketed KNN self-join
    "ivf_ann_topk",            # IVF 2-probe ANN
    # round-2 analytics surface
    "gap_fill_forward",        # calendar spine + forward fill
    "fuzzy_match_parts",       # blocked Levenshtein linkage
    "bm25_scores",             # BM25 ranking scan
    "stream_typed_state_profile",  # typed-state streaming profile
    "kmeans_lloyd_2iter",      # iterative clustering (2 Lloyd rounds)
    "pagerank_2iter",          # iterative graph ranking (2 rounds)
    "bigram_logprob_score",    # bigram-LM quality scan (shuffle join)
    "contrastive_negatives",   # deterministic negative sampling
    "dedup_keep_best",         # CC fixpoint + survivorship window
    "bpe_tokenize_docs",       # BPE loop + broadcast-encode tokenize
    "char_entropy",            # row-local entropy decimal fold
    "split_divergence",        # split KL drift gate (vocab fold)
    "split_leakage",           # cross-split exact-twin audit
    "scd2_priority_history",   # SCD2 validity-interval build
    "attribution_window_join", # bucketized batch interval join
    "triangle_count",          # degree-ordered wedge closing
    "pmi_cooccurrence",        # windowed word-pair PMI
    "weighted_sample_aes",     # A-ES weighted per-source sample
    "multitouch_attribution",  # band join + credit allocation
    "mad_outliers",            # robust MAD outlier days
    "chisq_priority_segment",  # contingency-table chi-square
    "matryoshka_energy",       # prefix-energy embedding audit
    "kcore_2round",            # self-calibrating k-core peel
    "session_path_transitions",  # in-session Markov matrix
    "trimmed_mean_revenue",    # rank-trimmed robust mean
    "inverted_index",          # posting-list index build
    "rfm_scores",              # two-phase global_ntile (3 range sorts)
    "winnowing_fingerprints",  # spread + explode_outer (was the 96s trap)
    "dq_checks",               # per-table conditional-count rule folds
    "revenue_anomalies",       # materialized daily frame (was 2x fact join)
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    spark = get_session("p2bd-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # No warm-up: the bench runs exactly what a driver's session runs,
    # cold start included. Rep 1 of each query carries it and stays on
    # record (``queries_runs[name][0]``, ``first_rep_outliers``); the
    # per-query MIN is the steady-state cost.
    # Repetitions: BENCH_HISTORY shows ~2x per-query swings under host
    # load on this shared VM (pair_counts 2.17-3.84s across identical
    # code); single-run timings made round-over-round deltas noise.
    # Each query runs N times back-to-back; "queries" reports the MIN
    # (least-contended observation — the engine's actual cost), medians
    # and raw runs ride along for dispersion.
    # Secondary at 3 reps (was 2): min-of-2 could not separate host noise
    # from real sub-second regressions (VERDICT r3 item 1) — with
    # median-of-3 riding along, a >30% delta is attributable.
    reps_headline = 3
    reps_secondary = 3

    def run_set(names: list[str], reps: int):
        import statistics

        mins: dict[str, float] = {}
        medians: dict[str, float] = {}
        runs: dict[str, list[float]] = {}
        for name in names:
            if name not in REGISTRY:
                continue
            q = REGISTRY[name]
            ts = []
            for _ in range(reps):
                t0 = time.perf_counter()
                df = q.fn(spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                ts.append(round(time.perf_counter() - t0, 3))
            mins[name] = min(ts)
            medians[name] = round(statistics.median(ts), 3)
            runs[name] = ts
        return mins, medians, runs

    # Machine-speed calibration: a fixed synthetic JVM workload (no I/O,
    # no Python) timed best-of-2, split across the session's own cores.
    # Host load varies between rounds on a shared VM; dividing query
    # times by (calibration / its historical value) separates engine
    # regressions from machine noise.
    def _calibrate() -> float:
        from pyspark.sql import functions as _Fc

        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            (spark.range(0, 50_000_000, 1,
                         spark.sparkContext.defaultParallelism)
             .select((_Fc.col("id") % 97).alias("k"), _Fc.col("id").alias("v"))
             .groupBy("k").agg(_Fc.sum("v"), _Fc.count("*"))
             .write.mode("overwrite").format("noop").save())
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    # Contention guard (VERDICT r7 item 5): r7's driver-captured headline
    # (23.54s) was a contended run — two clean same-HEAD runs read
    # 19.00/19.04s — because one calibration probe BEFORE the headline
    # block cannot see load that arrives DURING it. Calibrate before AND
    # after; if the probes disagree by >20%, the headline numbers are
    # suspect: re-run the headline set once and keep the per-query min
    # across both passes (the least-contended observation of each).
    import statistics

    calibration_pre = _calibrate()
    timings, timings_median, timings_runs = run_set(HEADLINE, reps_headline)
    calibration_post = _calibrate()
    contended = (max(calibration_pre, calibration_post)
                 > 1.2 * min(calibration_pre, calibration_post))
    if contended:
        t2, _, r2 = run_set(HEADLINE, reps_headline)
        for k in t2:
            timings_runs[k] = timings_runs.get(k, []) + r2[k]
            timings[k] = min(timings.get(k, t2[k]), t2[k])
            timings_median[k] = round(statistics.median(timings_runs[k]), 3)
        calibration_post = _calibrate()
    calibration = min(calibration_pre, calibration_post)
    secondary, secondary_median, secondary_runs = run_set(
        SECONDARY, reps_secondary)

    # Tertiary sweep: every registered query not already timed above, so
    # no query ships with zero perf evidence. Best-of-2 (was single-run):
    # VERDICT r6 — the committed BENCH_r06.json recorded ml_rf_grid at
    # 29.4s purely because a single tertiary run caught a noisy host
    # moment (the round's three other runs read 10.1-11.4s). One repeat
    # is the cheapest protocol that discards one bad observation per
    # query.
    reps_tertiary = 2
    covered = set(HEADLINE) | set(SECONDARY)
    rest = [n for n in REGISTRY if n not in covered]
    tertiary, _, tertiary_runs = run_set(rest, reps_tertiary)

    # One more probe AFTER the secondary+tertiary blocks: the headline
    # guard cannot see load arriving during those blocks (r8: the
    # tertiary best-of-2 captured stream_interval_join_outer at 6.1 s
    # under contention vs 2.9 s quiet — both reps inside the same noisy
    # window). Recording the post-tail probe doesn't re-run anything,
    # but lets the next round's reader tell a contended tail from a
    # regression before chasing ghosts.
    calibration_tail = _calibrate()

    # Testdata fingerprint: the driver regenerates the parquet corpora
    # between rounds (observed: round 2 switched timestamp physical
    # types and file contents). Timings across different data
    # generations are not comparable, so stamp each history record with
    # a fingerprint of the input files. Sizes alone could collide across
    # a value-changing regen (same row counts, fixed-width columns, same
    # compression), so fold in a first/last-4KB content sample of each
    # file — the parquet footer carries schema + column stats, so any
    # value-changing regen perturbs it. mtime deliberately NOT included:
    # it would mark byte-identical regens (same generator, same seed) as
    # incomparable and discard valid history.
    import hashlib

    h = hashlib.md5()
    for f in sorted(os.listdir(sf_dir)):
        if not f.endswith(".parquet"):
            continue
        p = os.path.join(sf_dir, f)
        st = os.stat(p)
        h.update(f.encode())
        h.update(str(st.st_size).encode())
        with open(p, "rb") as fh:
            h.update(fh.read(4096))
            if st.st_size > 4096:
                fh.seek(-4096, os.SEEK_END)
                h.update(fh.read(4096))
    data_fp = h.hexdigest()[:12]

    # First-rep audit (r12, VERDICT r11 What's-wrong #3): name every
    # query whose first rep ran >2x its min, so the per-query min
    # stays the engine's cost and the rep1 tail is attributable at a
    # glance instead of muddying round-over-round tertiary sums.
    first_rep_outliers = {
        name: runs
        for name, runs in {**timings_runs, **secondary_runs,
                           **tertiary_runs}.items()
        if len(runs) >= 2 and min(runs) > 0 and runs[0] > 2 * min(runs)
    }

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": timings_median,
        "queries_runs": timings_runs,
        "runs_per_query": reps_headline,
        "secondary": secondary,
        "secondary_median": secondary_median,
        "secondary_runs": secondary_runs,
        "runs_per_secondary": reps_secondary,
        "secondary_total": round(sum(secondary.values()), 3),
        "tertiary": tertiary,
        "tertiary_runs": tertiary_runs,
        "runs_per_tertiary": reps_tertiary,
        "tertiary_total": round(sum(tertiary.values()), 3),
        "calibration_50m_agg": calibration,
        "calibration_pre": calibration_pre,
        "calibration_post": calibration_post,
        "calibration_tail": calibration_tail,
        "contention_rerun": contended,
        "first_rep_outliers": first_rep_outliers,
        "data_fingerprint": data_fp,
        "sf": sf,
    }
    print(json.dumps(result))
    _append_history(result)
    spark.stop()

    # FINAL stdout line: a compact self-contained summary. The driver
    # records only the last ~2KB of stdout in BENCH_r{N}.json and
    # parses its last line as JSON; the full record above is far larger
    # than that window, so r3/r4 artifacts landed with "parsed": null
    # (VERDICT r4 What's-missing #2). Keep this line < ~1.2KB: headline
    # per-query mins + the three totals + provenance. Full detail
    # (medians, raw runs, secondary/tertiary per-query) persists in
    # BENCH_HISTORY.jsonl.
    compact = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "secondary_total": result["secondary_total"],
        "tertiary_total": result["tertiary_total"],
        "n_queries_timed": len(timings) + len(secondary) + len(tertiary),
        "calibration_50m_agg": calibration,
        "cal_pre_post": [calibration_pre, calibration_post],
        "contention_rerun": contended,
        # named first-rep line (r12): worst 3 rep1-vs-min offenders so
        # the compact record carries the cold-start audit too
        "first_rep_outliers": dict(sorted(
            first_rep_outliers.items(),
            key=lambda kv: -(kv[1][0] / min(kv[1])))[:3]),
        "data_fingerprint": data_fp,
    }
    # Enforce the <~1.2KB budget that keeps the line inside the driver's
    # ~2KB stdout tail (ADVICE r5) with HARD truncation, not assert:
    # `assert` is stripped under python -O, and a firing assert would
    # leave the earlier oversized full-record line as the last stdout
    # line — reproducing the exact "parsed: null" failure this code
    # exists to prevent (ADVICE r6). Shed fields progressively; the
    # final fallback is a minimal {metric,value,unit} line that always
    # fits. Full detail persists in BENCH_HISTORY.jsonl regardless.
    line = json.dumps(compact)
    if len(line) >= 1200:
        compact["queries"] = {"_dropped": "oversized; see BENCH_HISTORY.jsonl"}
        line = json.dumps(compact)
    if len(line) >= 1200:
        compact.pop("calibration_50m_agg", None)
        compact.pop("data_fingerprint", None)
        compact.pop("first_rep_outliers", None)
        line = json.dumps(compact)
    if len(line) >= 1200:
        line = json.dumps({"metric": "headline_total", "value": total,
                           "unit": "sec", "sf": sf})
    print(line, flush=True)


def _append_history(result: dict) -> None:
    """Keep a round-keyed timing history (BENCH_HISTORY.jsonl) so later
    rounds can diff per-query regressions directly. Round = 1 + highest
    driver-recorded BENCH_r{N}.json (this run precedes that record)."""
    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        int(m.group(1))
        for f in os.listdir(here)
        if (m := re.match(r"BENCH_r(\d+)\.json$", f))
    ]
    entry = {"round": max(rounds, default=0) + 1, "ts": int(time.time()), **result}
    with open(os.path.join(here, "BENCH_HISTORY.jsonl"), "a") as fh:
        fh.write(json.dumps(entry) + "\n")


if __name__ == "__main__":
    main()
