"""Deduplication operators for the documents table.

Four strategies with different scale/recall trade-offs:

- exact:  hash-groupBy on a fingerprint — one shuffle, linear.
- blocked Jaccard: candidate pairs restricted to a blocking key
  (lang, n_words), verified with exact word-set Jaccard — SQL-expressible,
  so oracle-CONFIRMED.
- MinHash + LSH banding: 16 minhashes (xxhash64-seeded), 4 bands × 4 rows;
  docs sharing any band bucket become candidates, then exact-Jaccard
  verified. Scales to 100 TB: candidate generation is an equi-join on
  (band_idx, band_hash), never an all-pairs product.
- SimHash: 64-bit signature via a vectorized (Arrow) pandas UDF; ham-
  ming buckets via the top bits. Demonstrates the vectorized-UDF path.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..catalog import table, table_parallel
from .textstats import fingerprint

N_MINHASH = 16
N_BANDS = 4
ROWS_PER_BAND = N_MINHASH // N_BANDS


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fingerprint → canonical (min doc_id) + copy count. Groups with
    n_copies > 1 are exact duplicates; output keeps all groups so the
    relation doubles as a canonical-id mapping."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.col("doc_id"), fingerprint(F.col("text")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_copies"))
    )


def _with_word_sets(df: DataFrame) -> DataFrame:
    return (
        df.withColumn("words", F.split("text", " "))
        .withColumn("word_set", F.array_distinct("words"))
        .withColumn("n_words", F.size("words").cast("bigint"))
        .withColumn("set_size", F.size("word_set").cast("bigint"))
    )


#: distinct word-3-gram shingles; guarded so short docs yield [] (Spark's
#: sequence(1, n) with n<1 would generate a DESCENDING sequence).
_SHINGLES = """
CASE WHEN size(words) >= 3 THEN
  array_distinct(transform(sequence(1, size(words) - 2),
                           i -> concat_ws(' ', slice(words, i, 3))))
ELSE array() END
"""


def _with_shingles(df: DataFrame) -> DataFrame:
    """3-gram shingle sets — the standard near-dup feature (richer than
    word sets, so unrelated docs don't collide even with a tiny vocab)."""
    return (
        df.withColumn("words", F.split("text", " "))
        .withColumn("shingles", F.expr(_SHINGLES))
        .withColumn("n_shingles", F.size("shingles").cast("bigint"))
        .filter(F.col("n_shingles") > 0)
    )


#: Blocks larger than this are excluded from the pairwise verify: the
#: (lang, n_words) self-join is quadratic *within* a block, so one hot
#: block (e.g. (en, 120) over a 100 TB corpus) would dominate the stage.
#: Docs in oversized blocks aren't lost at the pipeline level — the
#: MinHash-LSH path (minhash_band_pairs) covers them with sub-quadratic
#: candidate generation; this operator stays the exact/bounded tier.
MAX_JACCARD_BLOCK = 500


def blocked_jaccard_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8,
    max_block: int = MAX_JACCARD_BLOCK,
) -> DataFrame:
    """Near-dup pairs via blocking on (lang, n_words) + exact word-set
    Jaccard over the documents table. See ``blocked_jaccard_pairs_df``."""
    return blocked_jaccard_pairs_df(
        table(spark, sf_dir, "documents"), threshold=threshold, max_block=max_block
    )


def blocked_jaccard_pairs_df(
    documents: DataFrame, threshold: float = 0.8,
    max_block: int = MAX_JACCARD_BLOCK,
) -> DataFrame:
    """Near-dup pairs via blocking on (lang, n_words) + exact word-set
    Jaccard. The self-join shuffles on the blocking key only, and blocks
    larger than ``max_block`` are dropped (window count, one extra pass
    over the same shuffle partitioning), so per-block pair count — and
    with it total work — is bounded by max_block² regardless of skew."""
    from pyspark.sql.window import Window

    d = _with_word_sets(documents).select(
        "doc_id", "lang", "n_words", "word_set", "set_size"
    )
    block_n = F.count("*").over(Window.partitionBy("lang", "n_words"))
    d = d.withColumn("_bn", block_n).filter(F.col("_bn") <= max_block).drop("_bn")
    a, b = d.alias("a"), d.alias("b")
    common = F.size(F.array_intersect(F.col("a.word_set"), F.col("b.word_set"))).cast("bigint")
    union = F.col("a.set_size") + F.col("b.set_size") - common
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.n_words") == F.col("b.n_words"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (common / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


#: Universal-hash parameters (a_i, b_i) for the 16 minhash functions —
#: odd multipliers, fixed (deterministic across runs/partitions).
_MH_PARAMS = [(2 * i * i + 3 * i + 101, 7919 * (i + 1)) for i in range(N_MINHASH)]
_MH_PRIME = 4294967311  # first prime > 2^32


def _with_hashed_shingles(df: DataFrame) -> DataFrame:
    """Shingles hashed ONCE to int64 (``hs``). All downstream minhash and
    Jaccard math runs on integers: one hash per shingle total, instead
    of one per (shingle × hash function).

    The hash is the first 13 hex chars of md5 parsed as an integer
    (52 bits, always positive) — engine-portable, so the DuckDB oracle
    (:func:`oracle_minhash_near_dup`) reproduces every signature bit.
    xxhash64 would be ~2× cheaper per shingle but is Spark-specific and
    would make the flagship near-dup path unverifiable."""
    return _with_shingles(df).withColumn(
        "hs",
        F.expr(
            "transform(shingles,"
            " s -> cast(conv(substr(md5(s), 1, 13), 16, 10) as bigint))"
        ),
    )


def _minhash_signature(df: DataFrame) -> DataFrame:
    """16 minhashes via universal hashing over the pre-hashed shingles:
    min_i((a_i * (h & 0xffffffff) + b_i) mod p). Pure integer ops, no
    overflow under ANSI mode (a_i < 2^20, masked h < 2^32 → product
    < 2^52), deterministic and partition-independent."""
    mh = F.array(*[
        F.array_min(
            F.expr(f"transform(hs, h -> ({a}L * (h & 4294967295L) + {b}L) % {_MH_PRIME}L)")
        )
        for a, b in _MH_PARAMS
    ])
    return df.withColumn("minhashes", mh)


#: LSH buckets larger than this are skipped: a band value shared by this
#: many docs carries no dedup signal (stopword-like shingles) and is what
#: turns LSH quadratic under skew. The cap bounds per-bucket pair count.
MAX_BUCKET = 100

#: Previous call's persisted shingle relation (released on next call so
#: at most one copy is cached per process). Keyed by (applicationId,
#: sf_dir) — a VALUE key, not the SparkSession object, so the cache
#: never pins a stopped session's gateway objects alive through the key
#: itself (ADVICE r3 item 4); a liveness probe below drops the entry
#: (and its frame → session reference chain) as soon as any call finds
#: the owning context stopped, letting the JVM side be collected.
_SHINGLE_CACHE: tuple[str, str, DataFrame] | None = None


def _shingle_cache_alive() -> bool:
    """True iff the cached frame's owning SparkContext is still running."""
    if _SHINGLE_CACHE is None:
        return False
    try:
        jsc = _SHINGLE_CACHE[2].sparkSession.sparkContext._jsc
        return jsc is not None and not jsc.sc().isStopped()
    except Exception:
        return False


def _shingled_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted shingle index (doc_id, hs, set_size) — see
    :func:`minhash_band_pairs` for the cache rationale. Shared by the
    full self-dedup and the incremental (batch-vs-corpus) variant so
    both hit the same warm index."""
    global _SHINGLE_CACHE
    key = (spark.sparkContext.applicationId, sf_dir)
    if _SHINGLE_CACHE is not None and (
        _SHINGLE_CACHE[:2] != key or not _shingle_cache_alive()
    ):
        if _shingle_cache_alive():  # stale key but live context: release
            try:
                _SHINGLE_CACHE[2].unpersist()
            except Exception:
                pass
        _SHINGLE_CACHE = None  # drops the frame → dead session refs too
    if _SHINGLE_CACHE is None:
        from pyspark import StorageLevel

        docs = _with_hashed_shingles(table_parallel(spark, sf_dir, "documents")).select(
            "doc_id", "hs", F.col("n_shingles").alias("set_size"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        _SHINGLE_CACHE = (*key, docs)
    return _SHINGLE_CACHE[2]


def minhash_band_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """MinHash-LSH candidate pairs over 3-gram shingles, verified by
    exact Jaccard on the hashed shingle sets (64-bit collisions are
    negligible, and integer array_intersect beats string compare).

    Plan shape (scale-critical): signature build is row-local; candidates
    come from an equi-join on (band_idx, band_hash) with a bucket-size
    cap; the verify join fetches hashed shingle sets by doc_id. No stage
    is quadratic in corpus size.

    The shingled relation feeds three consumers (signature build + both
    sides of the verify join), so it is persisted as a reusable shingle
    index — without it Spark recomputes the shingling 3× per run (and
    from scratch on every run). MEMORY_AND_DISK spills instead of
    OOMing, which is what a 100 TB run wants for a 3×-reused expensive
    intermediate. The index is keyed by sf_dir and dropped when the
    corpus path changes; repeat runs over the same immutable snapshot
    (the dedup norm) hit the warm index.
    """
    docs = _shingled_cached(spark, sf_dir)
    bands = _capped_bands(docs)

    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return _verify_pairs(docs, cand, "doc_a", "doc_b", threshold)


def minhash_accuracy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-candidate-pair MinHash estimator audit: the signature-level
    Jaccard estimate (fraction of the N_MINHASH positions that agree —
    the textbook unbiased estimator) side by side with the EXACT
    hashed-shingle Jaccard, plus the absolute error. The relation an
    engineer reads to size N_MINHASH/N_BANDS before a 100 TB dedup run
    (expected |err| ≈ sqrt(J(1-J)/K) ≈ 0.12 at K=16, J≈0.5).

    Fully deterministic cross-engine: the estimate is k/16 (exact
    binary), the exact Jaccard an integer ratio, and the error their
    IEEE difference — so the DuckDB oracle hash-CONFIRMS the whole
    audit, not a tolerance band. Scale shape identical to
    minhash_band_pairs (capped band equi-join, per-doc fetch joins on
    the persisted shingle index); signatures are row-local arrays.
    """
    docs = _shingled_cached(spark, sf_dir)
    sig = _minhash_signature(docs)
    bands = _capped_bands(docs)
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # one fetch relation per side carrying BOTH the signature and the
    # shingle set — two per-doc joins total, not four
    sa = sig.select(F.col("doc_id").alias("doc_a"),
                    F.col("minhashes").alias("mh_a"),
                    F.col("hs").alias("set_a"),
                    F.col("set_size").alias("size_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"),
                    F.col("minhashes").alias("mh_b"),
                    F.col("hs").alias("set_b"),
                    F.col("set_size").alias("size_b"))
    est = F.expr(
        f"size(filter(zip_with(mh_a, mh_b, (x, y) -> x = y), v -> v)) "
        f"/ cast({N_MINHASH} as double)"
    )
    common = F.size(F.array_intersect("set_a", "set_b")).cast("bigint")
    jacc = common / (F.col("size_a") + F.col("size_b") - common)
    return (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .select(
            "doc_a", "doc_b",
            est.alias("est_jaccard"),
            jacc.alias("jaccard"),
            (F.greatest(est, jacc) - F.least(est, jacc)).alias("abs_err"),
        )
    )


def oracle_minhash_accuracy() -> str:
    """Exact DuckDB mirror of :func:`minhash_accuracy_audit` — same
    signatures, same band candidates, same k/16 estimator, same integer
    exact Jaccard, same IEEE error difference."""
    return _oracle_minhash_cte() + f"""
    , cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM capped x JOIN capped y
        ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
       AND x.doc_id < y.doc_id
    ), audited AS (
      SELECT c.doc_a, c.doc_b,
             len(list_filter(range(1, {N_MINHASH} + 1),
                 i -> ma.mh[i] = mb.mh[i])) / CAST({N_MINHASH} AS DOUBLE)
               AS est_jaccard,
             len(list_filter(a.hs, v -> list_contains(b.hs, v)))
               / CAST(a.set_size + b.set_size
                      - len(list_filter(a.hs, v -> list_contains(b.hs, v)))
                      AS DOUBLE) AS jaccard
      FROM cand c
      JOIN mh ma ON c.doc_a = ma.doc_id
      JOIN mh mb ON c.doc_b = mb.doc_id
      JOIN hx a ON c.doc_a = a.doc_id
      JOIN hx b ON c.doc_b = b.doc_id
    )
    SELECT doc_a, doc_b, est_jaccard, jaccard,
           greatest(est_jaccard, jaccard) - least(est_jaccard, jaccard)
             AS abs_err
    FROM audited
    """


def _band_table(docs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash, _bn) band table with per-bucket
    occupancy — the shared LSH index shape; consumers split it at a
    cap (``_capped_bands`` keeps <= cap for the pair join,
    ``minhash_hot_bucket_matches`` takes > cap for the linear
    representative pass).

    The per-bucket count is ``count(*) OVER (PARTITION BY band_idx,
    band_hash)``: ONE exchange on the band key that ReuseExchange then
    feeds to the pair join and the hot pass's representative window.
    A groupBy + rejoin shape (map-side count, skew-splittable join)
    was MEASURED slower on the K=100 Zipf skew corpus (SCALE.md
    §Band-occupancy: minhash_near_dup 10.9 s window vs 14.8 s groupby,
    results bit-identical) — it pays a second exchange and an extra
    join, while the window's task-local sort of a giant family stays
    cheap because a hot bucket's rows are identical-signature
    agreeers."""
    sig = _minhash_signature(docs)
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    # band key = the band's minhash values joined as a
                    # string — portable across engines (the oracle builds
                    # the same key), and the equi-join only needs equality
                    F.concat_ws("_", *[
                        F.element_at("minhashes", b * ROWS_PER_BAND + j + 1)
                        .cast("string")
                        for j in range(ROWS_PER_BAND)
                    ]).alias("band_hash"),
                )
                for b in range(N_BANDS)
            ])
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_hash")

    from pyspark.sql.window import Window

    bucket_n = F.count("*").over(Window.partitionBy("band_idx", "band_hash"))
    return bands.withColumn("_bn", bucket_n)


def _capped_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash) band table with the MAX_BUCKET cap
    applied — the shared LSH index shape for both dedup variants."""
    return _band_table(docs).filter(F.col("_bn") <= MAX_BUCKET).drop("_bn")


def minhash_hot_bucket_matches(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8,
    hot_cap: int = MAX_BUCKET,
) -> DataFrame:
    """LINEAR representative pass over over-cap LSH buckets — the
    documented mitigation for the recall the MAX_BUCKET cap trades away
    under duplicate skew (measured in SCALE.md's Zipf stress: a giant
    near-dup family shares near-identical signatures, blows past the
    cap, and is excluded from the quadratic pair join).

    The insight making this cheap: an over-cap bucket is ITSELF strong
    duplication evidence (its members agree on a whole band of minhash
    values), so instead of bucket² pairs, verify each member against
    ONE representative (min doc_id) with exact Jaccard — O(bucket)
    work, bounded at any family size. Each doc reports its best match
    (max jaccard, ties to the smallest canonical — deterministic under
    any partitioning).

    ``hot_cap`` defaults to the production MAX_BUCKET; the registered
    query lowers it to 1 so the path produces verified rows at the
    driver's correctness scale (max bucket there is 3-4 — see the
    bucket-occupancy note on MAX_BUCKET above).
    """
    from pyspark.sql.window import Window

    docs = _shingled_cached(spark, sf_dir)
    hot = _band_table(docs).filter(F.col("_bn") > hot_cap).drop("_bn")
    rep = F.min("doc_id").over(Window.partitionBy("band_idx", "band_hash"))
    cand = (
        hot.withColumn("canonical_doc_id", rep)
        .filter(F.col("doc_id") != F.col("canonical_doc_id"))
        .select("doc_id", "canonical_doc_id")
        .distinct()
    )
    verified = _verify_pairs(docs, cand, "doc_id", "canonical_doc_id", threshold)
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("jaccard"), F.asc("canonical_doc_id"))
    return (
        verified.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def oracle_minhash_hot_bucket(threshold: float = 0.8, hot_cap: int = 1) -> str:
    """DuckDB mirror of :func:`minhash_hot_bucket_matches`: same band
    table (the shared minhash CTE prefix), same > hot_cap bucket split,
    same min-doc_id representative, same exact integer-set Jaccard, same
    (jaccard desc, canonical asc) best-match tie-break."""
    return _oracle_minhash_cte() + f"""
    , hot AS (
      SELECT doc_id, band_idx, band_hash FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_idx, band_hash) AS bn
        FROM bands
      ) WHERE bn > {hot_cap}
    ), withrep AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY band_idx, band_hash)
               AS canonical_doc_id
      FROM hot
    ), cand AS (
      SELECT DISTINCT doc_id, canonical_doc_id FROM withrep
      WHERE doc_id <> canonical_doc_id
    ), verified AS (
      SELECT c.doc_id, c.canonical_doc_id,
             len(list_filter(a.hs, v -> list_contains(b.hs, v)))
               / CAST(a.set_size + b.set_size
                      - len(list_filter(a.hs, v -> list_contains(b.hs, v)))
                      AS DOUBLE) AS jaccard
      FROM cand c
      JOIN hx a ON c.doc_id = a.doc_id
      JOIN hx b ON c.canonical_doc_id = b.doc_id
    )
    SELECT doc_id, canonical_doc_id, jaccard FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY jaccard DESC, canonical_doc_id) AS rn
      FROM verified WHERE jaccard >= {threshold}
    ) WHERE rn = 1
    """


def _verify_pairs(
    docs: DataFrame, cand: DataFrame, left: str, right: str,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verify of candidate pairs against the shingle index."""
    a = docs.select(
        F.col("doc_id").alias(left),
        F.col("hs").alias("set_a"),
        F.col("set_size").alias("size_a"),
    )
    b = docs.select(
        F.col("doc_id").alias(right),
        F.col("hs").alias("set_b"),
        F.col("set_size").alias("size_b"),
    )
    common = F.size(F.array_intersect("set_a", "set_b")).cast("bigint")
    union = F.col("size_a") + F.col("size_b") - common
    return (
        cand.join(a, left).join(b, right)
        .select(left, right, (common / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


#: Incremental-ingest split: docs whose md5("inc:"+doc_id) 2-hex prefix
#: is >= 'cc' (~20%) are the NEW BATCH; the rest are the standing
#: corpus. md5-based so the DuckDB oracle reproduces the split exactly
#: (same convention as hash_split_assign).
_INC_BATCH_PREFIX = "cc"


def minhash_incremental_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """Incremental near-dup check: which NEW-batch docs duplicate the
    standing corpus — the production ingest shape, where re-running the
    full self-dedup per batch would redo corpus×corpus work that cannot
    produce a new drop decision.

    Same shingle index, signatures, band keys and MAX_BUCKET cap as
    :func:`minhash_band_pairs`; the candidate join is ASYMMETRIC —
    batch bands ⋈ corpus bands only — so per-batch work is
    O(|batch| + matched buckets), not O(|corpus|²). Each batch doc
    reports its BEST corpus match (max exact Jaccard, ties to the
    smallest corpus doc_id — deterministic under any partitioning).
    """
    from pyspark.sql.window import Window

    docs = _shingled_cached(spark, sf_dir)
    is_batch = (
        F.substring(
            F.md5(F.concat(F.lit("inc:"), F.col("doc_id").cast("string"))),
            1, 2,
        ) >= _INC_BATCH_PREFIX
    )
    bands = _capped_bands(docs)
    batch_b = bands.filter(is_batch)
    corpus_b = bands.filter(~is_batch)
    cand = (
        batch_b.alias("x")
        .join(
            corpus_b.alias("y"),
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_hash") == F.col("y.band_hash")),
        )
        .select(
            F.col("x.doc_id").alias("doc_new"),
            F.col("y.doc_id").alias("doc_corpus"),
        )
        .distinct()
    )
    verified = _verify_pairs(docs, cand, "doc_new", "doc_corpus", threshold)
    w = Window.partitionBy("doc_new").orderBy(
        F.desc("jaccard"), F.asc("doc_corpus"))
    return (
        verified.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _oracle_minhash_cte() -> str:
    """Shared DuckDB CTE prefix (shingles → hashes → signatures → capped
    bands), mirroring the Spark pipeline bit-for-bit; both MinHash
    oracles append their own candidate/verify tail."""
    mh_entries = ",\n             ".join(
        f"list_min(list_transform(hs, h -> ({a}::BIGINT * (h & 4294967295::BIGINT)"
        f" + {b}::BIGINT) % {_MH_PRIME}::BIGINT))"
        for a, b in _MH_PARAMS
    )
    band_selects = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, concat_ws('_', "
        + ", ".join(
            f"CAST(mh[{b * ROWS_PER_BAND + j + 1}] AS VARCHAR)"
            for j in range(ROWS_PER_BAND)
        )
        + ") AS band_hash FROM mh"
        for b in range(N_BANDS)
    )
    return f"""
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(words) >= 3 THEN
               list_distinct(list_transform(range(1, len(words) - 1),
                 i -> concat_ws(' ', words[CAST(i AS INT)],
                                words[CAST(i AS INT) + 1],
                                words[CAST(i AS INT) + 2])))
             ELSE [] END AS shingles
      FROM docs
    ), hx AS (
      SELECT doc_id,
             list_transform(shingles,
               s -> CAST(concat('0x', substr(md5(s), 1, 13)) AS BIGINT)) AS hs,
             CAST(len(shingles) AS BIGINT) AS set_size
      FROM sh WHERE len(shingles) > 0
    ), mh AS (
      SELECT doc_id,
             [{mh_entries}] AS mh
      FROM hx
    ), bands AS (
      {band_selects}
    ), capped AS (
      SELECT doc_id, band_idx, band_hash FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_idx, band_hash) AS bn
        FROM bands
      ) WHERE bn <= {MAX_BUCKET}
    )"""


def oracle_minhash_near_dup(threshold: float = 0.8) -> str:
    """Exact DuckDB mirror of :func:`minhash_band_pairs`: same md5-13-hex
    shingle hashes, same universal-hash minhash signatures (the
    ``_MH_PARAMS`` constants are embedded), same band keys, same
    ``MAX_BUCKET`` cap, same integer-set Jaccard verify — so the driver
    value-hash CONFIRMS the flagship near-dup path bit-for-bit."""
    return _oracle_minhash_cte() + f"""
    , cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM capped x JOIN capped y
        ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
       AND x.doc_id < y.doc_id
    ), verified AS (
      SELECT doc_a, doc_b,
             len(list_filter(a.hs, v -> list_contains(b.hs, v)))
               / CAST(a.set_size + b.set_size
                      - len(list_filter(a.hs, v -> list_contains(b.hs, v)))
                      AS DOUBLE) AS jaccard
      FROM cand
      JOIN hx a ON cand.doc_a = a.doc_id
      JOIN hx b ON cand.doc_b = b.doc_id
    )
    SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= {threshold}
    """


def oracle_minhash_incremental(threshold: float = 0.8) -> str:
    """DuckDB mirror of :func:`minhash_incremental_pairs`: same CTE
    prefix, the md5('inc:'+doc_id) >= '{_INC_BATCH_PREFIX}' batch split,
    the asymmetric batch ⋈ corpus candidate join, and the best-match
    window (max Jaccard, ties to smallest corpus doc_id)."""
    return _oracle_minhash_cte() + f"""
    , flagged AS (
      SELECT doc_id,
             substr(md5(concat('inc:', CAST(doc_id AS VARCHAR))), 1, 2)
               >= '{_INC_BATCH_PREFIX}' AS is_batch
      FROM hx
    ), cand AS (
      SELECT DISTINCT x.doc_id AS doc_new, y.doc_id AS doc_corpus
      FROM capped x
      JOIN flagged fx ON x.doc_id = fx.doc_id AND fx.is_batch
      JOIN capped y
        ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
      JOIN flagged fy ON y.doc_id = fy.doc_id AND NOT fy.is_batch
    ), verified AS (
      SELECT doc_new, doc_corpus,
             len(list_filter(a.hs, v -> list_contains(b.hs, v)))
               / CAST(a.set_size + b.set_size
                      - len(list_filter(a.hs, v -> list_contains(b.hs, v)))
                      AS DOUBLE) AS jaccard
      FROM cand
      JOIN hx a ON cand.doc_new = a.doc_id
      JOIN hx b ON cand.doc_corpus = b.doc_id
    )
    SELECT doc_new, doc_corpus, jaccard FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_new ORDER BY jaccard DESC, doc_corpus
      ) AS rn
      FROM verified WHERE jaccard >= {threshold}
    ) WHERE rn = 1
    """


def _simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens (Arrow-vectorized batch UDF).

    Python is acceptable here: SimHash needs per-feature bit spreading
    that Spark lacks natively — but the Python work is numpy-batch, not
    per-row: each *unique* word in the Arrow batch is md5-hashed once
    (vocab ≪ token count), the 64-bit spreading is a single ±1 bit-matrix
    build, and per-row accumulation is one scatter-add. The rest of the
    pipeline (bucketing, joins) stays JVM-side.
    """
    import hashlib

    import numpy as np

    n = len(texts)
    if n == 0:
        return pd.Series([], dtype="int64")

    # (row, word) pairs, duplicates within a row dropped — same semantics
    # as the per-row set() of the scalar formulation.
    pairs = texts.fillna("").str.split(" ").explode()
    pairs = pairs.reset_index().drop_duplicates()
    row_idx = pairs["index"].to_numpy(dtype=np.int64)
    uniq_words, inv = np.unique(pairs.iloc[:, 1].to_numpy(dtype=object), return_inverse=True)

    # one md5 per unique word in the batch (the only remaining loop)
    hashes = np.fromiter(
        (
            int.from_bytes(hashlib.md5(w.encode("utf-8")).digest()[:8], "big")
            for w in uniq_words
        ),
        dtype=np.uint64,
        count=len(uniq_words),
    )
    bit_pos = np.arange(64, dtype=np.uint64)
    # (n_uniq, 64) matrix of ±1: bit set → +1, clear → -1
    pm = (((hashes[:, None] >> bit_pos[None, :]) & 1).astype(np.int64) * 2) - 1
    acc = np.zeros((n, 64), dtype=np.int64)
    np.add.at(acc, row_idx, pm[inv])
    v = ((acc > 0).astype(np.uint64) << bit_pos).sum(axis=1, dtype=np.uint64)
    return pd.Series(v.view(np.int64))  # wrap to signed 64-bit


# Wrapped, not decorated: the module attribute ``_simhash64`` is the plain
# function, so it pickles by reference and each worker imports the package.
simhash64 = F.pandas_udf(_simhash64, LongType())


def simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → simhash + 16-bit prefix bucket (candidate blocking key)."""
    d = table_parallel(spark, sf_dir, "documents")
    return (
        d.select("doc_id", simhash64(F.col("text")).alias("simhash"))
        .withColumn("bucket", F.shiftrightunsigned("simhash", 48).cast("int"))
    )
