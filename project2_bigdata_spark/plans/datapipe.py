"""Phase 6 — large-scale training-data pipeline operators
(dedup / similarity search / text analysis / multimodal plumbing).

These go beyond the reference's own surface (BASELINE.json north star).
Everything SQL-expressible carries a DuckDB oracle; MinHash/SimHash/
multimodal use engine-specific hashing or Arrow UDFs and get the
driver's rows-only check (plus local unit tests in tests/).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    blocked_jaccard_pairs, exact_dedup, minhash_accuracy_audit,
    minhash_band_pairs, oracle_minhash_accuracy,
    minhash_incremental_pairs, oracle_minhash_incremental,
    oracle_minhash_near_dup, simhash_buckets,
)
from ..operators.multimodal import multimodal_features
from ..operators.similarity import (
    brute_force_topk, lsh_ann_topk,
    oracle_brute_force_topk, oracle_lsh_ann_topk,
)
from ..operators.textstats import (
    STOPWORDS, documents_with_stats, fingerprint, token_count_bpeish,
)
from ..catalog import table, table_parallel
from ..functions.money import dsum
from ..session import truncate_lineage
from .registry import register

_SW = ", ".join(f"'{w}'" for w in STOPWORDS)


@register(
    "text_quality",
    oracle=f"""
    SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           (length(text) - (len(string_split(text, ' ')) - 1))
             / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_word_len,
           len(list_filter(string_split(text, ' '), w -> w IN ({_SW})))
             / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
           least(len(string_split(text, ' ')) / 100.0, 1.0) *
             (1.0 - len(list_filter(string_split(text, ' '), w -> w IN ({_SW})))
                  / CAST(len(string_split(text, ' ')) AS DOUBLE)) AS quality_score
    FROM documents
    """,
    doc="Text quality scoring: word count, avg word length, stopword "
        "ratio, composite score — all JVM-side expressions, one scan",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return documents_with_stats(spark, sf_dir).select(
        "doc_id", "lang", "n_words", "avg_word_len",
        "stopword_ratio", "quality_score",
    )


@register(
    "token_counts",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
             AS bpeish_tokens
    FROM documents
    """,
    doc="Token counting: whitespace tokens + BPE-ish regex tokens "
        "(alpha runs / digit runs / punctuation) — regex shared with oracle",
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("ws_tokens"),
        token_count_bpeish(F.col("text")).cast("bigint").alias("bpeish_tokens"),
    )


@register(
    "doc_fingerprints",
    oracle="""
    SELECT doc_id, md5(lower(text)) AS text_hash,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
    doc="Document fingerprinting via md5 (identical across engines) — the "
        "primitive under exact dedup",
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        fingerprint(F.col("text")).alias("text_hash"),
        F.length("text").cast("bigint").alias("n_chars"),
    )


@register(
    "lang_stats",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(CAST(len(string_split(text,' ')) AS BIGINT)) AS BIGINT) AS total_words,
           SUM(CAST(len(string_split(text,' ')) AS BIGINT))
             / CAST(COUNT(*) AS DOUBLE) AS avg_words
    FROM documents GROUP BY 1
    """,
    doc="Language-ID aggregate view (lang is the labeled ground truth in "
        "the corpus; a content-based n-gram classifier is in "
        "operators.textstats for corpora where text actually varies)",
)
def q_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    nw = F.size(F.split("text", " ")).cast("bigint")
    return (
        d.select("lang", nw.alias("nw"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nw").alias("total_words"),
            (F.sum("nw") / F.count("*")).alias("avg_words"),
        )
    )


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(lower(text)) AS text_hash,
           MIN(doc_id) AS canonical_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
    doc="Exact dedup: fingerprint groupBy → canonical id + copy count. "
        "One linear shuffle; at 100 TB this is the cheap first pass before "
        "any fuzzy method",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(spark, sf_dir)


@register(
    "dedup_report",
    oracle="""
    WITH g AS (
      SELECT md5(lower(text)) AS h, COUNT(*) AS n_copies
      FROM documents GROUP BY 1
    )
    SELECT CAST(n_copies AS BIGINT) AS n_copies,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(n_copies * COUNT(*) AS BIGINT) AS n_docs,
           CAST((n_copies - 1) * COUNT(*) AS BIGINT) AS n_redundant
    FROM g GROUP BY n_copies
    """,
    doc="Dedup telemetry: the duplicate-cluster SIZE HISTOGRAM every "
        "curation pipeline reports before committing a drop policy — "
        "per exact-duplicate multiplicity, how many clusters, how many "
        "docs they hold, and how many are redundant (droppable). Rides "
        "the dedup_exact rollup: one more tiny aggregation over the "
        "fingerprint groups, no extra corpus scan; at 100 TB the "
        "histogram is the cheap observability layer that decides "
        "whether the fuzzy tiers are even worth running (all-BIGINT — "
        "exact cross-engine).",
)
def q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = exact_dedup(spark, sf_dir)
    return g.groupBy("n_copies").agg(
        F.count("*").alias("n_groups"),
    ).select(
        F.col("n_copies").cast("bigint").alias("n_copies"),
        F.col("n_groups").cast("bigint").alias("n_groups"),
        (F.col("n_copies") * F.col("n_groups")).cast("bigint").alias("n_docs"),
        ((F.col("n_copies") - 1) * F.col("n_groups")).cast("bigint")
        .alias("n_redundant"),
    )


@register(
    "dedup_blocked_jaccard",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents
    ), s0 AS (
      SELECT doc_id, lang,
             CAST(len(words) AS BIGINT) AS n_words,
             list_distinct(words) AS word_set,
             CAST(len(list_distinct(words)) AS BIGINT) AS set_size
      FROM d
    ), s AS (
      -- mirror of MAX_JACCARD_BLOCK: oversized blocks are excluded from
      -- the quadratic verify (they route to the MinHash path at scale)
      SELECT * FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY lang, n_words) AS block_n
        FROM s0
      ) WHERE block_n <= 500
    )
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_filter(a.word_set, x -> list_contains(b.word_set, x)))
               / CAST(a.set_size + b.set_size
                      - len(list_filter(a.word_set, x -> list_contains(b.word_set, x)))
                      AS DOUBLE) AS jaccard
      FROM s a JOIN s b
        ON a.lang = b.lang AND a.n_words = b.n_words AND a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.8
    """,
    doc="Near-dup detection: blocking on (lang, n_words) + exact word-set "
        "Jaccard ≥ 0.8. Join shuffles on the blocking key only, and blocks "
        "over MAX_JACCARD_BLOCK docs are excluded (hot blocks route to the "
        "MinHash path) — per-block pair count is bounded under skew",
)
def q_dedup_blocked_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return blocked_jaccard_pairs(spark, sf_dir, threshold=0.8)


@register(
    "minhash_near_dup",
    oracle=oracle_minhash_near_dup(threshold=0.8),
    doc="MinHash(16) + LSH banding (4×4) near-dup candidates, verified "
        "with exact Jaccard ≥ 0.8. Candidate generation is an equi-join "
        "on (band_idx, band_hash) — never all-pairs. Signatures are "
        "md5-derived (engine-portable), so the DuckDB oracle rebuilds "
        "the full signature/banding/verify pipeline and value-hash "
        "CONFIRMS it; recall vs dedup_blocked_jaccard unit-tested in "
        "tests/test_datapipe.py.",
)
def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_band_pairs(spark, sf_dir, threshold=0.8)


register(
    "minhash_accuracy_audit",
    oracle=oracle_minhash_accuracy(),
    doc="MinHash estimator audit over the LSH candidate pairs: the "
        "signature-level Jaccard estimate (matching positions / 16) "
        "side by side with the exact hashed-shingle Jaccard and the "
        "absolute error — the relation that sizes N_MINHASH/N_BANDS "
        "before a 100 TB dedup run. Every value is exact cross-engine "
        "(k/16, an integer ratio, and their IEEE difference), so the "
        "DuckDB oracle hash-CONFIRMS the audit rather than bounding "
        "it; same capped band-join scale shape as minhash_near_dup.",
)(minhash_accuracy_audit)


from ..operators.dedup import (  # noqa: E402
    minhash_hot_bucket_matches, oracle_minhash_hot_bucket,
)


@register(
    "minhash_hot_bucket_dedup",
    oracle=oracle_minhash_hot_bucket(threshold=0.8, hot_cap=1),
    doc="LINEAR representative pass over over-cap LSH buckets — the "
        "production mitigation for the recall MAX_BUCKET trades away "
        "under duplicate skew (quantified in SCALE.md's Zipf stress: "
        "59%% of band entries capped, giant family excluded from the "
        "pair join). An over-cap bucket is itself duplication evidence "
        "(members agree on a full minhash band), so each member "
        "verifies against ONE representative (min doc_id) with exact "
        "Jaccard — O(bucket) work instead of bucket², bounded at ANY "
        "family size; per doc the best match wins (jaccard desc, "
        "canonical asc). Registered with hot_cap=1 so the correctness "
        "scale (max bucket 3-4) exercises verified rows; production "
        "composes it with minhash_near_dup at hot_cap=MAX_BUCKET — "
        "under-cap buckets get the quadratic verified pair join, "
        "over-cap families get this linear survivorship pass.",
)
def q_minhash_hot_bucket_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_hot_bucket_matches(spark, sf_dir, threshold=0.8, hot_cap=1)


@register(
    "minhash_incremental_dedup",
    oracle=oracle_minhash_incremental(threshold=0.8),
    doc="Incremental-ingest near-dup check: a deterministic ~20% batch "
        "split (md5 prefix — oracle-reproducible) is screened against "
        "the standing corpus only. Same shingle index, signatures, band "
        "keys and MAX_BUCKET cap as minhash_near_dup, but the candidate "
        "join is ASYMMETRIC (batch bands ⋈ corpus bands) — per-batch "
        "work is O(|batch| + matched buckets) instead of re-running the "
        "corpus×corpus self-join per ingest, which is what makes "
        "per-batch dedup affordable on a 100 TB standing corpus. Each "
        "new doc reports its best corpus match (max exact Jaccard, "
        "ties to smallest corpus doc_id).",
)
def q_minhash_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_incremental_pairs(spark, sf_dir, threshold=0.8)


@register(
    "simhash_buckets",
    oracle="""
    WITH dw AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
      FROM documents
    ), hx AS (
      SELECT doc_id, substr(md5(w), 1, 16) AS h FROM dw
    ), bits AS (
      -- bit b of the big-endian 64-bit md5 prefix: nibble = hex char at
      -- position 16 - b/4, bit within nibble = b%4
      SELECT doc_id, gs.b AS b,
             CASE WHEN ((strpos('0123456789abcdef',
                                substr(h, 16 - gs.b // 4, 1)) - 1)
                        >> (gs.b % 4)) & 1 = 1
                  THEN 1 ELSE -1 END AS pm
      FROM hx CROSS JOIN (SELECT unnest(range(0, 64)) AS b) gs
    ), acc AS (
      SELECT doc_id, b, SUM(pm) AS s FROM bits GROUP BY 1, 2
    ), nibs AS (
      SELECT doc_id, CAST(b // 4 AS INT) AS ni,
             SUM(CASE WHEN s > 0 THEN (1 << (b % 4)) ELSE 0 END) AS nv
      FROM acc GROUP BY 1, 2
    )
    SELECT doc_id,
           string_agg(substr('0123456789abcdef', CAST(nv AS INT) + 1, 1),
                      '' ORDER BY ni DESC) AS simhash_hex,
           string_agg(substr('0123456789abcdef', CAST(nv AS INT) + 1, 1),
                      '' ORDER BY ni DESC) FILTER (ni >= 12) AS bucket_hex
    FROM nibs GROUP BY doc_id
    """,
    doc="SimHash-64 signatures via vectorized pandas UDF (one md5 per "
        "unique word per Arrow batch, ±1 bit-matrix scatter-add) + "
        "16-bit prefix buckets. The signature is engine-portable "
        "(md5-derived, set semantics, strict-majority bits), so the "
        "DuckDB oracle rebuilds every bit from SQL and the driver "
        "value-hash CONFIRMS the UDF — signatures compare as hex "
        "strings to sidestep int64 sign conventions",
)
def q_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = simhash_buckets(spark, sf_dir)
    # conv(hex...) keeps the two's-complement 64-bit pattern: hex() of a
    # negative bigint is already the 16-char unsigned form in Spark
    hexsig = F.lpad(F.lower(F.hex("simhash")), 16, "0")
    return sh.select(
        "doc_id",
        hexsig.alias("simhash_hex"),
        F.substring(hexsig, 1, 4).alias("bucket_hex"),
    )


from ..operators.similarity import (  # noqa: E402
    ann_mrr,
    ann_recall_ndcg,
    mmr_diverse_topk,
    oracle_ann_mrr,
    oracle_ann_recall_ndcg,
    oracle_mmr_diverse_topk,
)

register(
    "ann_mrr",
    oracle=oracle_ann_mrr(n_queries=5, k=10),
    doc="Mean reciprocal rank per ANN method vs brute-force relevance — "
        "completes the retrieval-eval trio with ann_recall_ndcg "
        "(recall, NDCG, MRR). Per-query reciprocals round 6dp then sum "
        "as exact DECIMAL(28,10); a hitless query contributes 0; "
        "ground truth materialized once for the three method joins",
)(ann_mrr)

register(
    "ann_recall_ndcg",
    oracle=oracle_ann_recall_ndcg(n_queries=5, k=10),
    doc="ANN retrieval-quality eval: recall@10 and NDCG@10 (graded "
        "relevance = true cosine) of each ANN method — single-bucket "
        "LSH, Hamming-1 multiprobe LSH, 2-probe IVF — against the "
        "brute-force ground truth, per query. The eval harness every "
        "production index ships with: it PRICES the recall each "
        "approximation trades for candidate reduction (on this corpus: "
        "IVF ≈0.94, multiprobe ≈0.08, single-bucket 0 — random 64-dim "
        "embeddings are the hyperplane-LSH worst case, which is the "
        "point of measuring). All eval stages are bounded k·n_queries "
        "rows; DCG terms round 6dp then sum as exact DECIMAL(28,10)",
)(ann_recall_ndcg)

register(
    "mmr_diverse_topk",
    oracle=oracle_mmr_diverse_topk(n_cand=20, k=5),
    doc="MMR-diversified retrieval (λ=0.7): relevance top-20 candidates "
        "from one corpus scan, then a 5-step greedy re-rank penalizing "
        "similarity to already-selected results — the standard "
        "RAG-context diversification. Greedy steps are anti-join + "
        "broadcast penalty over the BOUNDED candidate set (persisted, "
        "scanned once); oracle unrolls the same greedy argmax into "
        "chained CTEs with identical 6dp round-before-rank discipline",
)(mmr_diverse_topk)


@register(
    "similarity_topk",
    oracle=oracle_brute_force_topk(n_queries=5, k=10),
    doc="Brute-force cosine top-10 for 5 query vectors: broadcast queries, "
        "one corpus scan, row-local sequential-fold dot products (no UDF). "
        "Similarity rounded to 6dp before ranking so ordering is engine-"
        "independent",
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return brute_force_topk(spark, sf_dir, n_queries=5, k=10)


@register(
    "ann_lsh_topk",
    oracle=oracle_lsh_ann_topk(n_queries=5, k=10),
    doc="ANN top-10 via 8 seeded random hyperplanes → sign buckets; "
        "candidates share the query bucket (equi-join). Same plane "
        "constants embedded in the DuckDB oracle → CONFIRMED check",
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_ann_topk(spark, sf_dir, n_queries=5, k=10)


@register(
    "embedding_norms",
    oracle="""
    SELECT vec_id, label,
           CAST(len(embedding) AS INT) AS dim,
           round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6)
             AS l2_norm
    FROM embeddings
    """,
    doc="Embedding hygiene scan: dimensionality + L2 norm (rounded 6dp) — "
        "the cheap validation pass before any ANN build",
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    dot = (
        "aggregate(zip_with(embedding, embedding, (x, y) -> "
        "cast(x as double) * cast(y as double)), cast(0.0 as double), "
        "(acc, v) -> acc + v)"
    )
    return e.select(
        "vec_id", "label",
        F.size("embedding").cast("int").alias("dim"),
        F.round(F.sqrt(F.expr(dot)), 6).alias("l2_norm"),
    )


@register(
    "multimodal_decode",
    # DuckDB md5(VARCHAR) hashes the string's UTF-8 bytes — exactly the
    # payload bytes the Python decoder sees (payload = encode(text)).
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(concat('0x', substr(md5(text), 1, 13)) AS BIGINT)
             AS byte_checksum,
           CAST((strlen(text) % 640) + 1 AS INT) AS width,
           CAST((strlen(text) % 480) + 1 AS INT) AS height,
           'text/plain' AS mime
    FROM documents
    """,
    doc="Multimodal plumbing: binary payload + metadata struct through an "
        "Arrow mapInPandas decode, pinned to the deterministic fake "
        "decoder (md5-prefix checksum + length-derived pseudo-dims) so "
        "the relation is environment-independent and the DuckDB oracle "
        "value-hash CONFIRMS it. The PIL-upgradeable decoder stays on "
        "the operator API (operators.multimodal.decode_features); "
        "swapping it in changes no plan shape.",
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal_features(spark, sf_dir)


from ..operators.multimodal import multimodal_resized  # noqa: E402

register(
    "multimodal_resize",
    # The resize kernel is all-integer nearest-neighbor over the
    # payload's uint8 raster (operators/multimodal.py:_resize_kernel),
    # so DuckDB reproduces every output bit-for-bit: hex(encode(text))
    # exposes the same UTF-8 payload bytes, a 2-char substr at
    # 2*byte_index+1 is the pixel, and the floor-mapped source index
    # (y*src_h // H)*src_w + (x*src_w // W) is the identical
    # nearest-neighbor arithmetic. 8x4 output ⇒ 32 pixel fetches per
    # doc — the oracle grid stays tiny at correctness scale.
    oracle="""
    WITH d AS (
      -- empty-payload guard (ADVICE r7): the kernel pads b'' to b'\\x00'
      -- (one zero byte, 1x1 raster) — mirror that padding here so a
      -- future corpus with an empty document still hash-matches instead
      -- of CAST('0x' AS INT) erroring on the empty hex string
      SELECT doc_id,
             CASE WHEN octet_length(encode(text)) = 0 THEN '00'
                  ELSE hex(encode(text)) END AS hx,
             GREATEST(octet_length(encode(text)), 1) AS n
      FROM documents
    ), dims AS (
      SELECT doc_id, hx, n,
             GREATEST(LEAST(n, (n % 64) + 1), 1) AS src_w
      FROM d
    ), dims2 AS (
      SELECT doc_id, hx, src_w, GREATEST(n // src_w, 1) AS src_h
      FROM dims
    ), px AS (
      SELECT doc_id, src_w, src_h,
             CAST(concat('0x', substr(hx,
               2*CAST(((y.y*src_h) // 4)*src_w
                      + ((x.x*src_w) // 8) AS BIGINT) + 1, 2)) AS INT) AS v
      FROM dims2, range(0,4) y(y), range(0,8) x(x)
    )
    SELECT doc_id,
           CAST(src_w AS INT) AS src_w, CAST(src_h AS INT) AS src_h,
           CAST(8 AS INT) AS out_w, CAST(4 AS INT) AS out_h,
           CAST(SUM(v) AS BIGINT) AS pixel_sum,
           CAST((SUM(v)*1000) // 32 AS BIGINT) AS mean_milli
    FROM px GROUP BY 1, 2, 3
    """,
    doc="REAL nearest-neighbor image resize (de-stubbed per VERDICT r6 "
        "item 4): pure-numpy floor-mapped kernel over the payload's "
        "uint8 raster in ONE Arrow mapInPandas pass — no PIL needed; a "
        "PIL/ffmpeg decoder drop-in changes only _resize_kernel, no "
        "plan shape. Output is the all-integer resize summary (source "
        "dims, exact pixel sum, per-mille mean) so the DuckDB oracle "
        "value-hash CONFIRMS the kernel arithmetic bit-for-bit. At "
        "100 TB: partition-preserving flat map, zero shuffle, executor "
        "memory bounded by arrow.maxRecordsPerBatch — the binary "
        "payloads stream through Arrow batches and never aggregate.",
)(multimodal_resized)


from ..operators.similarity import (  # noqa: E402
    embedding_near_dup, oracle_embedding_near_dup,
)

register(
    "dedup_embedding_cosine",
    oracle=oracle_embedding_near_dup(),
    doc="Embedding-cosine near-dup pairs: hyperplane-LSH bucket join "
        "(bucket-size capped) + rounded-cosine verify at the operator's "
        "default threshold 0.4 — the synthetic embeddings have no true "
        "near-dups (max pairwise cosine ≈ 0.51), so 0.4 exercises the "
        "full candidate→verify path; production dedup raises it to "
        "0.9+. Completes the dedup family (exact / blocked-Jaccard / "
        "MinHash / SimHash / embedding)",
)(embedding_near_dup)


@register(
    "vocab_stats",
    oracle="""
    WITH terms AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    )
    SELECT term,
           COUNT(*) AS total_tf,
           COUNT(DISTINCT doc_id) AS doc_freq
    FROM terms GROUP BY 1
    """,
    doc="Corpus vocabulary: term → total frequency + document frequency "
        "(the tokenizer + document-frequency half of TF-IDF). One explode "
        "+ one agg; at 100 TB the (term) shuffle is vocabulary-sized",
)
def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(
            F.count("*").alias("total_tf"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
    )


@register(
    "tfidf_top_terms",
    oracle="""
    WITH terms AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2
    ), df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS doc_freq FROM terms GROUP BY 1
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.doc_freq), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, rnk FROM (
      SELECT doc_id, term, tfidf,
             CAST(row_number() OVER (PARTITION BY doc_id
                  ORDER BY tfidf DESC, term) AS INT) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    """,
    doc="TF-IDF top-5 terms per document (SURVEY.md §7 Phase 6 text "
        "analysis): explode → tf agg → broadcast df/idf join → ranking "
        "window. tfidf rounded to 6 dp BEFORE ranking so the tie-break "
        "is engine-independent (ln differs by ≤1 ULP across libms)",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    # tf has exactly one row per (doc, term), so doc_freq is a plain
    # row count per term OF tf — materialize tf once and derive df from
    # it instead of a second tokenize pass over the corpus (the n_docs
    # scan reads zero columns: parquet footers only).
    tf = truncate_lineage(
        terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("doc_freq"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("doc_freq")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 5)
    )


from ..operators.multimodal import multimodal_frames  # noqa: E402

register(
    "multimodal_frames",
    # The operator packs the payload into a REAL YUV4MPEG2 container and
    # parses it back (de-faked per VERDICT r7 — fingerprints now derive
    # from DECODED PIXEL BYTES, not an md5 fake). A frame is a 32-byte
    # (8x4 mono) slice of the payload, zero-padded at the tail; the
    # oracle rebuilds every sampled frame's pixels with the same
    # hex-pair byte extraction the resize oracle uses (byte-exact, no
    # ASCII premise needed).
    oracle="""
    WITH d AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             CAST(octet_length(encode(text)) AS BIGINT) AS nb
      FROM documents
    ), f AS (
      SELECT doc_id, hx, nb,
             CAST(unnest(range(0, greatest((nb + 31) // 32, 1), 10))
                  AS INT) AS frame_idx
      FROM d
    ), px AS (
      SELECT doc_id, frame_idx, i.i AS i,
             CASE WHEN frame_idx * 32 + i.i < nb
                  THEN CAST(concat('0x',
                       substr(hx, 2 * (frame_idx * 32 + i.i) + 1, 2)) AS INT)
                  ELSE 0 END AS v
      FROM f, range(0, 32) i(i)
    )
    SELECT doc_id, frame_idx,
           CAST(SUM(v) AS BIGINT) AS pixel_sum,
           CAST(SUM((i + 1) * v) AS BIGINT) AS frame_checksum
    FROM px GROUP BY 1, 2
    """,
    doc="Multimodal frame sampling over a REAL container round-trip: the "
        "payload packs into a YUV4MPEG2 stream (the standard codec-free "
        "uncompressed video format) which the mapInPandas flat-map "
        "genuinely PARSES — magic, header tags, FRAME-marker walk — "
        "sampling every 10th decoded 8x4 luma plane and fingerprinting "
        "the decoded pixel bytes (Σ pixel and Σ (i+1)·pixel, "
        "all-integer). The DuckDB oracle rebuilds both from hex-pair "
        "byte extraction, so the value hash CONFIRMS real decode "
        "arithmetic end-to-end; an ffmpeg/pyav decoder drop-in replaces "
        "only the encode/parse pair, no plan change. One video row → "
        "many frame rows is the flat-map shape neither a UDF nor "
        "applyInPandas expresses as naturally.",
)(multimodal_frames)


# ---- round 2: corpus-preparation surface (operators/corpus.py) --------

from ..operators.corpus import (  # noqa: E402
    ORACLE_CHUNKS, ORACLE_PACKING, ORACLE_WINNOWING,
    chunk_documents, chunk_documents_udtf, oracle_stratified_sample,
    sequence_packing, stratified_sample, winnowing_fingerprints,
)

register(
    "stratified_sample",
    oracle=oracle_stratified_sample(),
    doc="Deterministic per-language mixture sampling: keep doc iff "
        "md5(lang:doc_id) prefix < per-lang hex threshold. Row-local "
        "predicate — reproducible under retries/re-partitioning, unlike "
        "sample(); the corpus-rebalancing step of a training pipeline",
)(stratified_sample)

register(
    "chunk_documents",
    oracle=ORACLE_CHUNKS,
    doc="Sliding-window document chunking (50-word chunks, stride 40): "
        "row-local sequence→slice→posexplode, no shuffle — the "
        "context-window prep step before tokenization",
)(chunk_documents)

register(
    "chunk_documents_udtf",
    oracle=ORACLE_CHUNKS,
    doc="The same chunking relation through an Arrow-optimized Python "
        "UDTF in a SQL LATERAL join (VERDICT r8 item 5 — the one "
        "Python boundary previously unexercised): one input row "
        "expands to its chunks inside the table function, rows cross "
        "in Arrow batches. The HOF twin stays the default for pure "
        "string slicing; this is the idiomatic carrier once a real "
        "tokenizer library enters the chunker. Same oracle as "
        "chunk_documents; equality pinned by test",
)(chunk_documents_udtf)

register(
    "sequence_packing",
    oracle=ORACLE_PACKING,
    doc="Budget-quantized sequence packing (512-token bins) per language "
        "shard: one window pass over exclusive running token counts; "
        "boundary docs overflow their bin by < own length (documented "
        "streaming-friendly semantics vs sequential first-fit)",
)(sequence_packing)

register(
    "winnowing_fingerprints",
    oracle=ORACLE_WINNOWING,
    doc="Winnowing fingerprints (Schleimer et al. 2003): md5-hashed "
        "word-3-grams, min-hash per sliding window of 4 — any shared "
        "run of >= 6 words between docs shares a fingerprint; the "
        "rolling-hash document fingerprinting of the task brief, fully "
        "engine-portable (md5 prefixes, string min)",
)(winnowing_fingerprints)


from ..operators.similarity import (  # noqa: E402
    ivf_ann_topk, oracle_ivf_ann_kmeans_topk, oracle_ivf_ann_topk,
)

register(
    "ivf_ann_topk",
    oracle=oracle_ivf_ann_topk(n_queries=5, k=10),
    doc="IVF-style ANN top-10: corpus coarse-quantized to 8 deterministic "
        "centroid cells (row-local assignment via broadcast centroid "
        "array — no collect, no shuffle), queries probe their 2 nearest "
        "cells, exact cosine rerank within. Same centroids in the DuckDB "
        "oracle → CONFIRMED; k-means refinement is a drop-in pre-pass "
        "(registered separately as ivf_ann_kmeans_topk)",
)(ivf_ann_topk)


@register(
    "ivf_ann_kmeans_topk",
    oracle=oracle_ivf_ann_kmeans_topk(n_queries=5, k=10),
    doc="The PRODUCTION IVF path (VERDICT r6 item 5): the 8 seed "
        "centroids are refined by two Lloyd iterations via the "
        "oracle-checked k-means operators before the corpus is "
        "quantized — balanced cells ⇒ better recall at the same nprobe "
        "(quantified in tests/test_ann_recall.py). Downstream plan is "
        "IDENTICAL to ivf_ann_topk (row-local broadcast assignment, "
        "cell equi-join, exact rerank); only the broadcast centroid row "
        "differs, and each Lloyd iteration is one broadcast assignment "
        "+ one (K×dims)-cell aggregation on a lineage-truncated 1-row "
        "frame. The DuckDB oracle unrolls BOTH Lloyd iterations in SQL "
        "(the kmeans_lloyd_2iter CTE builders at K=8) and then replays "
        "the IVF assignment/probe/rerank against the refined centroids "
        "— full hash parity through the entire training + search path.",
)
def q_ivf_ann_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_ann_topk(spark, sf_dir, centroids="kmeans")


from ..operators.textstats import lang_id_scores, oracle_lang_id  # noqa: E402

@register(
    "lang_id_ngram",
    oracle=oracle_lang_id(),
    doc="Language-ID n-gram heuristic: exact char-bigram profile counts "
        "per language + deterministic argmax (struct-sort tie-break) — "
        "pure replace/length JVM expressions, one bandwidth-bound scan",
)
def q_lang_id_ngram(spark, sf_dir):
    from ..operators.textstats import LANG_PROFILES

    return lang_id_scores(table(spark, sf_dir, "documents")).select(
        "doc_id", "lang",
        *[f"score_{lang}" for lang in LANG_PROFILES],
        "predicted_lang",
    )


from ..operators.graph import (  # noqa: E402
    ORACLE_DEDUP_CLUSTERS,
    ORACLE_DEDUP_KEEP_BEST,
    dedup_clusters,
    dedup_keep_best,
)

register(
    "dedup_clusters",
    oracle=ORACLE_DEDUP_CLUSTERS,
    doc="Connected-components dedup clustering: exact-dup star edges + "
        "capped blocked-Jaccard pairs -> transitive clusters with the "
        "min doc_id canonical. Driver-controlled min-label propagation "
        "(the GraphX pattern without the library): per round one "
        "key-partitioned join + min-agg, lineage truncated via "
        "session.truncate_lineage (reliable checkpoint when "
        "SPARK_GRAFT_CHECKPOINT_DIR is set); converges in O(diameter) "
        "rounds. Oracle: "
        "DuckDB recursive-CTE transitive closure",
)(dedup_clusters)

register(
    "dedup_keep_best",
    oracle=ORACLE_DEDUP_KEEP_BEST,
    doc="Dedup survivorship: per transitive cluster keep the longest "
        "member (ties to min doc_id), flag the rest for drop — clusters "
        "from the CC fixpoint, lengths joined on doc_id, one bounded "
        "per-cluster window. Oracle: cluster oracle as a derived table "
        "+ the same keep-longest ROW_NUMBER decision",
)(dedup_keep_best)


@register(
    "gopher_quality_flags",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS w, length(text) AS n_chars
      FROM documents
    ), s AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             (n_chars - (len(w) - 1)) / CAST(len(w) AS DOUBLE) AS mean_word_len,
             CASE WHEN len(w) >= 3 THEN
               list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
             ELSE [] END AS grams,
             len(list_filter(w, x -> x IN ({_SW}))) AS n_stop
      FROM d
    )
    SELECT doc_id, n_words, mean_word_len,
           CASE WHEN len(grams) > 0 THEN
             1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE)
           ELSE 0.0 END AS dup_3gram_ratio,
           (n_words BETWEEN 10 AND 100000) AS ok_length,
           (mean_word_len BETWEEN 2.0 AND 12.0) AS ok_word_len,
           (CASE WHEN len(grams) > 0 THEN
              1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE)
            ELSE 0.0 END) <= 0.6 AS ok_repetition,
           n_stop >= 1 AS ok_stopwords,
           ((n_words BETWEEN 10 AND 100000)
            AND (mean_word_len BETWEEN 2.0 AND 12.0)
            AND (CASE WHEN len(grams) > 0 THEN
                   1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE)
                 ELSE 0.0 END) <= 0.6
            AND n_stop >= 1) AS keep
    FROM s
    """,
    doc="Gopher-style quality filter flags: word-count bounds, mean word "
        "length bounds, duplicate-3-gram repetition ratio, stopword "
        "presence, and the conjunctive keep decision — one shuffle-free "
        "scan of pure JVM expressions (the published rule family from "
        "Rae et al. 2021, thresholds tuned to this corpus)",
)
def q_gopher_quality_flags(spark, sf_dir):
    d = table(spark, sf_dir, "documents").withColumn("w", F.split("text", " "))
    n_words = F.size("w").cast("bigint")
    mean_wl = (F.length("text") - (F.size("w") - 1)) / F.size("w").cast("double")
    grams = F.expr(
        "CASE WHEN size(w) >= 3 THEN transform(sequence(1, size(w) - 2), "
        "i -> concat_ws(' ', slice(w, i, 3))) ELSE array() END"
    )
    d = d.withColumn("grams", grams)
    dup_ratio = F.when(
        F.size("grams") > 0,
        F.lit(1.0) - F.size(F.array_distinct("grams")) / F.size("grams").cast("double"),
    ).otherwise(F.lit(0.0))
    n_stop = F.size(F.expr(f"filter(w, x -> x IN ({_SW}))"))
    ok_length = n_words.between(10, 100000)
    ok_word_len = mean_wl.between(2.0, 12.0)
    ok_repetition = dup_ratio <= 0.6
    ok_stopwords = n_stop >= 1
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        dup_ratio.alias("dup_3gram_ratio"),
        ok_length.alias("ok_length"),
        ok_word_len.alias("ok_word_len"),
        ok_repetition.alias("ok_repetition"),
        ok_stopwords.alias("ok_stopwords"),
        (ok_length & ok_word_len & ok_repetition & ok_stopwords).alias("keep"),
    )


@register(
    "decontaminate",
    oracle="""
    WITH probes AS (
      SELECT doc_id AS probe_id,
             array_to_string(string_split(text, ' ')[1:5], ' ') AS probe
      FROM documents WHERE doc_id < 3
    )
    SELECT d.doc_id, p.probe_id
    FROM documents d JOIN probes p ON contains(d.text, p.probe)
    """,
    doc="Benchmark decontamination: flag corpus docs containing any "
        "probe n-gram from the benchmark set (here: the 5-word prefixes "
        "of docs 0-2 as a deterministic stand-in benchmark). Broadcast "
        "probes x one substring scan — the shape of real decontamination "
        "at 100 TB; swap the probe relation for the actual benchmark "
        "n-grams",
)
def q_decontaminate(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    probes = (
        d.filter(F.col("doc_id") < 3)
        .select(
            F.col("doc_id").alias("probe_id"),
            F.concat_ws(" ", F.slice(F.split("text", " "), 1, 5)).alias("probe"),
        )
    )
    return (
        d.join(F.broadcast(probes), F.contains(F.col("text"), F.col("probe")))
        .select("doc_id", "probe_id")
    )


from ..operators.similarity import knn_join_topk, oracle_knn_join_topk  # noqa: E402

register(
    "knn_join_topk",
    oracle=oracle_knn_join_topk(k=3),
    doc="KNN self-join: every vector's top-3 neighbors among its LSH "
        "bucket candidates — bucket equi-join (never the N^2 product) + "
        "one per-vector ranking window; the semantic-neighborhood "
        "relation that feeds embedding dedup and clustering",
)(knn_join_topk)


@register(
    "corpus_pipeline_e2e",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, text, string_split(text, ' ') AS w,
             length(text) AS n_chars
      FROM documents
    ), q AS (
      SELECT * FROM d
      WHERE CAST(len(w) AS BIGINT) BETWEEN 10 AND 100000
        AND (n_chars - (len(w) - 1)) / CAST(len(w) AS DOUBLE) BETWEEN 2.0 AND 12.0
        AND len(list_filter(w, x -> x IN ({_SW}))) >= 1
    ), c AS (
      SELECT * FROM (
        SELECT *, MIN(doc_id) OVER (PARTITION BY md5(lower(text))) AS canon
        FROM q
      ) WHERE doc_id = canon
    ), s AS (
      SELECT * FROM c
      WHERE substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 8) <
            CASE WHEN lang = 'en' THEN '80000000'
                 WHEN lang IN ('fr', 'de', 'es') THEN '40000000'
                 ELSE '20000000' END
    ), ch AS (
      SELECT doc_id, lang,
             unnest(list_transform(
               range(1, greatest(len(w), 1) + 1, 40),
               i -> {{'idx': CAST((i - 1) // 40 AS INT),
                      'chunk': w[i : i + 50 - 1]}})) AS x
      FROM s
    )
    SELECT doc_id, lang, x.idx AS chunk_idx,
           CAST(len(x.chunk) AS BIGINT) AS n_tokens
    FROM ch
    """,
    doc="End-to-end corpus prep in ONE relation: Gopher quality filter "
        "-> exact-dedup canonical survivor -> deterministic per-lang "
        "sample -> sliding-window chunks. One scan, row-local filters, "
        "a single fingerprint-window shuffle, row-local chunk explode — "
        "the composed plan a 100 TB pipeline actually runs, and Catalyst "
        "fuses all four stages into two codegen spans",
)
def q_corpus_pipeline_e2e(spark, sf_dir):
    from pyspark.sql.window import Window as _W

    from ..operators.textstats import fingerprint

    d = table(spark, sf_dir, "documents").withColumn("w", F.split("text", " "))
    n_words = F.size("w").cast("bigint")
    mean_wl = (F.length("text") - (F.size("w") - 1)) / F.size("w").cast("double")
    n_stop = F.size(F.expr(f"filter(w, x -> x IN ({_SW}))"))
    q = d.filter(
        n_words.between(10, 100000) & mean_wl.between(2.0, 12.0) & (n_stop >= 1)
    )
    canon = F.min("doc_id").over(_W.partitionBy(fingerprint(F.col("text"))))
    c = q.withColumn("canon", canon).filter(F.col("doc_id") == F.col("canon"))
    key = F.substring(
        F.md5(F.concat(F.col("lang"), F.lit(":"), F.col("doc_id").cast("string"))), 1, 8
    )
    thr = (
        F.when(F.col("lang") == "en", "80000000")
        .when(F.col("lang").isin("fr", "de", "es"), "40000000")
        .otherwise("20000000")
    )
    s = c.filter(key < thr)
    chunks = F.expr(
        "transform(sequence(1, greatest(size(w), 1), 40), "
        "i -> size(slice(w, i, 50)))"
    )
    return (
        s.select("doc_id", "lang", F.posexplode(chunks).alias("chunk_idx", "n_tokens"))
        .select(
            "doc_id", "lang",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# N-gram-overlap decontamination (the 13-gram method, word-8-gram scale)
# ---------------------------------------------------------------------------

_DECON_N = 8  # words per gram (GPT-3 used 13; the synthetic docs are short)


@register(
    "decontaminate_ngram",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), g AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(w) >= {_DECON_N}
               THEN list_transform(range(1, len(w) - {_DECON_N} + 2),
                    i -> array_to_string(w[i:i+{_DECON_N - 1}], ' '))
               ELSE [] END) AS grams
      FROM d
    ), bench AS (
      SELECT list_distinct(flatten(list(grams))) AS bg
      FROM g WHERE doc_id < 3
    )
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_grams,
           CAST(len(list_intersect(grams, bg)) AS BIGINT) AS n_hit,
           len(list_intersect(grams, bg))
             / CAST(len(grams) AS DOUBLE) AS overlap_frac
    FROM g, bench
    WHERE len(grams) > 0
    """,
    doc="N-gram-overlap decontamination (the method behind GPT-3's "
        f"13-gram filter, at {_DECON_N}-gram scale for the short synthetic "
        "docs): each document's distinct word-8-grams are intersected "
        "ROW-LOCALLY against the broadcast benchmark gram set (docs 0-2 "
        "as the stand-in benchmark), yielding an exact overlap fraction "
        "instead of decontaminate's binary substring hit. Benchmark sets "
        "are small by nature, so the broadcast-array shape is the "
        "100 TB plan: one corpus scan, zero shuffles, no explode of the "
        "corpus gram stream",
)
def q_decontaminate_ngram(spark, sf_dir):
    d = table(spark, sf_dir, "documents").withColumn("w", F.split("text", " "))
    grams = F.expr(
        f"array_distinct(CASE WHEN size(w) >= {_DECON_N} "
        f"THEN transform(sequence(1, size(w) - {_DECON_N} + 1), "
        f"i -> array_join(slice(w, i, {_DECON_N}), ' ')) "
        "ELSE array() END)"
    )
    g = d.select("doc_id", grams.alias("grams"))
    bench = (
        g.filter(F.col("doc_id") < 3)
        .agg(F.array_distinct(F.flatten(F.collect_list("grams"))).alias("bg"))
    )
    hits = F.size(F.array_intersect(F.col("grams"), F.col("bg")))
    return (
        g.crossJoin(F.broadcast(bench))
        .where(F.size("grams") > 0)
        .select(
            "doc_id",
            F.size("grams").cast("bigint").alias("n_grams"),
            hits.cast("bigint").alias("n_hit"),
            (hits / F.size("grams").cast("double")).alias("overlap_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination (the semi-join-reduction scale path)
# ---------------------------------------------------------------------------

_BLOOM_BITS = 1 << 16   # 64 Kbit = 1024 longs ≈ 8 KB broadcast
_BLOOM_K = 4            # hash functions


@register(
    "decontaminate_bloom",
    # EXACT oracle — identical truth to decontaminate_ngram: the bloom
    # is a prefilter, not an approximation of the result (no false
    # negatives by construction; false positives die in the verify join)
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), g AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(w) >= {_DECON_N}
               THEN list_transform(range(1, len(w) - {_DECON_N} + 2),
                    i -> array_to_string(w[i:i+{_DECON_N - 1}], ' '))
               ELSE [] END) AS grams
      FROM d
    ), bench AS (
      SELECT DISTINCT unnest(grams) AS bgram FROM g WHERE doc_id < 3
    ), hits AS (
      SELECT doc_id, COUNT(DISTINCT gram) AS n_hit
      FROM (SELECT doc_id, unnest(grams) AS gram FROM g) cg
      JOIN bench ON cg.gram = bench.bgram
      GROUP BY 1
    )
    SELECT g.doc_id,
           CAST(len(g.grams) AS BIGINT) AS n_grams,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit
    FROM g LEFT JOIN hits h ON g.doc_id = h.doc_id
    WHERE len(g.grams) > 0
    """,
    doc="Decontamination at BENCHMARK-TOO-BIG-TO-BROADCAST-AS-AN-ARRAY "
        "scale: a hand-built Bloom filter (the runtime-filter semi-join "
        "reduction Spark applies to joins internally, stated explicitly "
        f"in pure JVM expressions — {_BLOOM_K} xxhash64 probes into a "
        f"{_BLOOM_BITS}-bit bitmap built by a bit_or aggregate, "
        "broadcast as ONE ~8 KB map row) prefilters the exploded corpus "
        "gram stream, so only grams that MIGHT be benchmark grams enter "
        "the exact verify equi-join; false positives die there, false "
        "negatives are impossible (every inserted gram sets its bits). "
        "Same exact truth as decontaminate_ngram — the bloom changes "
        "the plan, never the relation (pinned equal in tests). At "
        "100 TB this is the shape when the benchmark has millions of "
        "grams: the bitmap stays KBs regardless, the corpus-side "
        "shuffle carries only prefilter survivors, and the gram "
        "explode is the one unavoidable cost the array-intersect "
        "variant already avoided for SMALL benchmarks — the two "
        "queries are the two regimes of one operator.",
)
def q_decontaminate_bloom(spark, sf_dir):
    d = table(spark, sf_dir, "documents").withColumn("w", F.split("text", " "))
    grams = F.expr(
        f"array_distinct(CASE WHEN size(w) >= {_DECON_N} "
        f"THEN transform(sequence(1, size(w) - {_DECON_N} + 1), "
        f"i -> array_join(slice(w, i, {_DECON_N}), ' ')) "
        "ELSE array() END)"
    )
    from ..session import truncate_lineage

    # g feeds FOUR consumers (bench grams, bitmap build via bench, the
    # candidate probe, the final n_grams join) — materialize the gram
    # arrays once instead of recomputing the split/transform/join per
    # consumer (the Q2-eligible lesson)
    g = truncate_lineage(
        d.select("doc_id", grams.alias("grams")).where(F.size("grams") > 0))
    bench = (
        g.filter(F.col("doc_id") < 3)
        .select(F.explode("grams").alias("bgram")).distinct()
    )

    def positions(col):  # the K bit positions of one gram
        return [
            F.pmod(F.xxhash64(F.lit(i), col), F.lit(_BLOOM_BITS))
            for i in range(_BLOOM_K)
        ]

    # build: per-gram bit positions → (word_idx, bit) → bit_or per word
    # → ONE map row (word_idx → 64-bit word), ~8 KB however large the
    # benchmark is (shiftleft by a COLUMN needs the SQL form — the
    # Python wrapper only takes a literal bit count)
    bits = bench.select(
        F.explode(F.array(*positions(F.col("bgram")))).alias("pos"))
    bitmap = (
        bits.groupBy((F.col("pos") / 64).cast("int").alias("wi"))
        .agg(F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"))
            .alias("wd"))
        .agg(F.map_from_entries(F.collect_list(F.struct("wi", "wd")))
             .alias("bm"))
    )

    # probe INSIDE a row-local array filter (the heavy_hitters_cms
    # shape): the corpus gram stream is never exploded — only grams
    # whose 4 bits are all set leave the row. HOF lambdas can reference
    # the outer broadcast bitmap column.
    might = " AND ".join(
        "(coalesce(element_at(bm, CAST("
        f"pmod(xxhash64({i}, g), {_BLOOM_BITS}) / 64 AS INT)), "
        "CAST(0 AS BIGINT)) & shiftleft(CAST(1 AS BIGINT), "
        f"CAST(pmod(xxhash64({i}, g), {_BLOOM_BITS}) % 64 AS INT))) != 0"
        for i in range(_BLOOM_K)
    )
    candidates = (
        g.crossJoin(F.broadcast(bitmap))
        .select("doc_id", F.expr(f"filter(grams, g -> {might})").alias("cand"))
        .where(F.size("cand") > 0)
        .select("doc_id", F.explode("cand").alias("gram"))
    )
    hits = (
        candidates.join(F.broadcast(bench),
                        F.col("gram") == F.col("bgram"))
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").cast("bigint").alias("n_hit"))
    )
    return (
        g.select("doc_id", F.size("grams").cast("bigint").alias("n_grams"))
        .join(hits, "doc_id", "left")
        .select("doc_id", "n_grams",
                F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"))
    )


# ---------------------------------------------------------------------------
# Count-min-prefiltered heavy hitters (the huge-vocabulary regime)
# ---------------------------------------------------------------------------

_CMS_W = 8192        # cells per hash row
_CMS_D = 4           # hash rows; grid = 32k cells ≈ 256 KB broadcast
_HH_DENOM = 200      # heavy hitter: count * 200 >= total tokens


def _cms_estimate_sql(token_expr: str) -> str:
    """SQL for the count-min estimate of one token: min over the D row
    lookups in the broadcast grid map (key = row*W + cell)."""
    lookups = ", ".join(
        f"coalesce(element_at(bm, CAST({i} * {_CMS_W} + "
        f"pmod(xxhash64({i}, {token_expr}), {_CMS_W}) AS INT)), "
        f"CAST(0 AS BIGINT))"
        for i in range(_CMS_D)
    )
    return f"least({lookups})"


@register(
    "heavy_hitters_cms",
    # EXACT oracle — the CMS is a prefilter (overestimates only ⇒ every
    # true heavy hitter survives; impostors die in the exact count).
    # The threshold is the integer inequality count*200 >= total.
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ), tot AS (SELECT COUNT(*) AS n FROM tok)
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM tok, tot
    GROUP BY token, tot.n
    HAVING COUNT(*) * {_HH_DENOM} >= tot.n
    """,
    doc="Exact heavy hitters through a count-min prefilter — the "
        "HUGE-VOCABULARY regime of frequent-token mining (the bloom "
        "decontamination's sibling reduction): a hand-built CMS grid "
        f"({_CMS_D}x{_CMS_W} cells, built by ONE grouped count whose "
        "shuffle key space is the 32k GRID — bounded however large the "
        "vocabulary — and broadcast as a ~256 KB map row) is probed "
        "ROW-LOCALLY inside an array filter over each doc's tokens, so "
        "only might-be-heavy tokens are ever exploded into the exact "
        "count; CMS never underestimates, so no true heavy hitter is "
        "lost, and impostors die in the exact pass. The naive plan "
        "shuffles |vocab| keys; this plan shuffles 32k grid cells plus "
        "the tiny candidate stream. Threshold = total/200 as an integer "
        "inequality (float-free); DuckDB recomputes exactly, so hash "
        "parity proves the reduction end-to-end.",
)
def q_heavy_hitters_cms(spark, sf_dir):
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks"))

    # grid build: one grouped count over (row*W + cell) — 4 entries per
    # token occurrence, key space bounded at 32k whatever the vocab is
    cells = d.select(F.explode("toks").alias("t")).select(
        F.explode(F.array(*[
            (F.lit(i * _CMS_W)
             + F.pmod(F.xxhash64(F.lit(i), F.col("t")), F.lit(_CMS_W)))
            .cast("int").alias(f"c{i}")
            for i in range(_CMS_D)
        ])).alias("cell"))
    grid = (
        cells.groupBy("cell").agg(F.count("*").alias("n"))
        .agg(F.map_from_entries(F.collect_list(F.struct("cell", "n")))
             .alias("bm"))
    )
    total = d.select(F.explode("toks").alias("t")).agg(
        F.count("*").alias("tot"))

    est = _cms_estimate_sql("t")
    candidates_per_doc = d.crossJoin(F.broadcast(grid)).crossJoin(
        F.broadcast(total)).select(
        F.expr(f"filter(toks, t -> {est} * {_HH_DENOM} >= tot)")
        .alias("cand"))
    return (
        candidates_per_doc.select(F.explode("cand").alias("token"))
        .groupBy("token").agg(F.count("*").cast("bigint")
                              .alias("n_occurrences"))
        .crossJoin(F.broadcast(total))
        .where(F.col("n_occurrences") * _HH_DENOM >= F.col("tot"))
        .select("token", "n_occurrences")
    )


# ---------------------------------------------------------------------------
# Per-dimension embedding statistics (normalization / whitening diagnostics)
# ---------------------------------------------------------------------------

@register(
    "embedding_dim_stats",
    oracle="""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS ed FROM embeddings
    ), ex AS (
      SELECT unnest(list_transform(range(1, len(ed) + 1),
                    i -> {'pos': CAST(i AS INT), 'val': round(ed[i], 6)})) AS x
      FROM e
    )
    SELECT x.pos AS pos,
           COUNT(*) AS n_vecs,
           round(CAST(CAST(SUM(CAST(x.val AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                 / COUNT(*), 6) AS dim_mean,
           round(sqrt((CAST(CAST(SUM(CAST(x.val * x.val AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE)
                       - CAST(CAST(SUM(CAST(x.val AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                         * CAST(CAST(SUM(CAST(x.val AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                         / COUNT(*))
                      / (COUNT(*) - 1)), 6) AS dim_std,
           MIN(x.val) AS dim_min,
           MAX(x.val) AS dim_max
    FROM ex GROUP BY 1
    """,
    doc="Per-dimension corpus statistics over the embedding column: "
        "mean, sample std (exact decimal moment sums — DECIMAL(30,12) "
        "holds 6dp squares exactly, so both engines divide identical "
        "doubles), min, max per position. The diagnostic behind "
        "normalization / whitening / dead-dimension detection before "
        "training an index or a probe. Plan: row-local posexplode, one "
        "aggregation keyed on dimension index — exactly `dims` cells "
        "regardless of corpus size; the same shape at 100 TB",
)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table_parallel(spark, sf_dir, "embeddings").select(
        F.posexplode(
            F.expr("transform(embedding, v -> round(cast(v as double), 6))")
        ).alias("pos0", "val")
    )
    sx = dsum(F.col("val"), dec="decimal(18,6)")
    sxx = (
        dsum(F.col("val") * F.col("val"), dec="decimal(30,12)")
    )
    n = F.count("*")
    return (
        e.groupBy((F.col("pos0") + 1).cast("int").alias("pos"))
        .agg(
            n.alias("n_vecs"),
            F.round(sx / n, 6).alias("dim_mean"),
            F.round(F.sqrt((sxx - sx * sx / n) / (n - 1)), 6).alias("dim_std"),
            F.min("val").alias("dim_min"),
            F.max("val").alias("dim_max"),
        )
    )


# ---------------------------------------------------------------------------
# Per-source reputation rollup (the source-scoring table behind corpus
# admission decisions)
# ---------------------------------------------------------------------------

@register(
    "source_reputation",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, lang, text, string_split(text, ' ') AS w,
             length(text) AS n_chars
      FROM documents
    ), s AS (
      SELECT doc_id, source, lang,
             md5(lower(text)) AS fp,
             CAST(len(w) AS BIGINT) AS n_words,
             (n_chars - (len(w) - 1)) / CAST(len(w) AS DOUBLE) AS mean_word_len,
             CASE WHEN len(w) >= 3 THEN
               list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
             ELSE [] END AS grams,
             len(list_filter(w, x -> x IN ({{sw}}))) AS n_stop
      FROM d
    ), flagged AS (
      SELECT source, lang, fp, n_words,
             ((n_words BETWEEN 10 AND 100000)
              AND (mean_word_len BETWEEN 2.0 AND 12.0)
              AND (CASE WHEN len(grams) > 0 THEN
                     1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE)
                   ELSE 0.0 END) <= 0.6
              AND n_stop >= 1) AS keep
      FROM s
    ), fpc AS (
      SELECT fp, COUNT(*) AS n_copies FROM flagged GROUP BY 1
    )
    SELECT f.source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT f.lang) AS n_langs,
           round(SUM(f.n_words) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_words,
           round(SUM(CASE WHEN f.keep THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS keep_rate,
           round(SUM(CASE WHEN c.n_copies > 1 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS exact_dup_rate
    FROM flagged f JOIN fpc c USING (fp)
    GROUP BY 1
    """.replace("{sw}", _SW),
    doc="Per-source reputation rollup: doc volume, language breadth, "
        "mean length, Gopher keep-rate, and exact-duplicate rate per "
        "source — the admission table a pipeline consults before "
        "ingesting more of a source (low keep_rate / high dup_rate "
        "sources get down-weighted or dropped). Composes the gopher "
        "flags (reused from q_gopher_quality_flags, same expressions) "
        "with the exact-dedup fingerprint counts: one corpus scan, one "
        "fingerprint-keyed shuffle, then a sources-sized aggregate. "
        "Integer sums / counts keep every ratio engine-exact",
)
def q_source_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The fingerprint projection feeds both the per-doc join side and
    # the copy-count aggregate; materialize the narrow frame (no text
    # column) once so md5(text) and the corpus scan happen once, not
    # twice.
    d = truncate_lineage(
        table(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", F.md5(F.lower("text")).alias("fp")
        )
    )
    flags = q_gopher_quality_flags(spark, sf_dir).select("doc_id", "n_words", "keep")
    fpc = d.groupBy("fp").agg(F.count("*").alias("n_copies"))
    joined = (
        d.join(flags, "doc_id")
        .join(fpc, "fp")
    )
    n = F.count("*")
    return joined.groupBy("source").agg(
        n.alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(F.sum("n_words") / n.cast("double"), 6).alias("mean_words"),
        F.round(
            F.sum(F.col("keep").cast("int")) / n.cast("double"), 6
        ).alias("keep_rate"),
        F.round(
            F.sum((F.col("n_copies") > 1).cast("int")) / n.cast("double"), 6
        ).alias("exact_dup_rate"),
    )


# ---------------------------------------------------------------------------
# Character-distribution entropy (gibberish / encoding-junk detector)
# ---------------------------------------------------------------------------

@register(
    "char_entropy",
    oracle="""
    WITH cs AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '[^\n]')) AS c
      FROM documents WHERE length(text) > 0
    ), cnt AS (
      SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS k FROM cs GROUP BY 1, 2
    ), agg AS (
      SELECT doc_id,
             CAST(SUM(k) AS BIGINT) AS n_chars,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
             CAST(CAST(SUM(CAST(k AS DECIMAL(10,0))
                           * CAST(round(ln(k), 6) AS DECIMAL(10,6)))
                  AS VARCHAR) AS DOUBLE) AS s
      FROM cnt GROUP BY 1
    )
    SELECT doc_id, n_chars, n_distinct_chars,
           round(round(ln(n_chars), 6) - s / n_chars, 6) AS char_entropy_nats
    FROM agg
    """,
    doc="Per-doc character-distribution Shannon entropy (nats) — the "
        "cheap gibberish/encoding-junk detector (binary spew scores "
        "near ln(alphabet); natural text sits in a narrow band). "
        "Entirely row-local: char counts via higher-order array "
        "functions, entropy as ln(n) - sum(k*ln k)/n with the per-term "
        "6dp-round + decimal-fold convention (functions/money.py style) "
        "so the double is identical across engines and partitionings. "
        "One corpus scan, zero key shuffles, zero Python; the scan goes "
        "through table_parallel because the per-doc sort/run-length "
        "compute dominates the scan stage (single-split input would pin "
        "it to one task).",
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table_parallel(spark, sf_dir, "documents").filter(F.length("text") > 0)
    # Run-length counts over the SORTED char array: O(n log n) per doc
    # vs the naive transform(distinct, c -> size(filter(cs, ...)))
    # which is O(distinct × n) — measured 1.8× faster at sf0.1. The
    # count multiset is identical and the decimal fold below is exact
    # and associative, so the different count ORDER cannot change the
    # result (same reason the fold is partition-order-independent).
    #
    # Char class is [^\n] on BOTH engines, not '.': Java's '.' excludes
    # all line terminators (\r, U+2028, ...) while DuckDB/RE2's '.'
    # excludes only \n — [^\n] means the same thing to both. Docs whose
    # text is line terminators ONLY extract zero chars; the oracle drops
    # them naturally (unnest of an empty list yields no rows), so the
    # Spark side must filter size(cs) > 0 — and must anyway: on an empty
    # srt the ends-filter would evaluate element_at(srt, 1) and throw
    # under ANSI mode (sequence(1, 0) runs DESCENDING, [1, 0]).
    d = (
        d.withColumn("cs", F.regexp_extract_all("text", F.lit("[^\n]"), F.lit(0)))
        .filter(F.size("cs") > 0)
        .withColumn("srt", F.expr("array_sort(cs)"))
        .withColumn(
            "ends",  # 1-based positions where a run of equal chars ends
            F.expr(
                "filter(sequence(1, size(srt)), i -> i = size(srt) "
                "OR element_at(srt, i) != element_at(srt, i + 1))"
            ),
        )
        .withColumn(
            "counts",
            F.expr(
                "transform(sequence(1, size(ends)), j -> CASE WHEN j = 1 "
                "THEN element_at(ends, 1) "
                "ELSE element_at(ends, j) - element_at(ends, j - 1) END)"
            ),
        )
        .withColumn("dc", F.col("ends"))  # same cardinality as distinct chars
    )
    s = F.expr(
        "cast(cast(aggregate(counts, cast(0 as decimal(20,6)), "
        "(acc, k) -> cast(acc + cast(k as decimal(10,0)) "
        "* cast(round(ln(cast(k as double)), 6) as decimal(10,6)) "
        "as decimal(20,6))) as string) as double)"
    )
    n_chars = F.size("cs").cast("bigint")
    return d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        F.size("dc").cast("bigint").alias("n_distinct_chars"),
        F.round(
            F.round(F.log(n_chars.cast("double")), 6) - s / n_chars, 6
        ).alias("char_entropy_nats"),
    )


# ---------------------------------------------------------------------------
# Matryoshka energy ratios (prefix-dimension quality of embeddings)
# ---------------------------------------------------------------------------

def _mrl_oracle() -> str:
    def ss(k: str) -> str:
        return (f"list_sum(list_transform(embedding[1:{k}]::DOUBLE[],"
                " x -> x * x))")

    per_k = " UNION ALL ".join(
        f"SELECT label, {k} AS k, round({ss(k)} / {ss(64)}, 6) AS r FROM embeddings"
        for k in (8, 16, 32)
    )
    return f"""
    WITH r AS ({per_k})
    SELECT label, k, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           round(CAST(CAST(SUM(CAST(r AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                 / COUNT(*), 6) AS mean_energy
    FROM r GROUP BY 1, 2
    """


@register(
    "matryoshka_energy",
    oracle=_mrl_oracle(),
    doc="Matryoshka-style prefix-energy audit: per label, the mean "
        "fraction of each embedding's squared norm captured by its "
        "first 8/16/32 dimensions -- the measurement behind MRL-style "
        "truncation decisions (can the vector store serve dim-16 "
        "prefixes?). Entirely row-local per vector (sequential "
        "squared-prefix folds over the array, same expression shape as "
        "embedding_norms), per-vector ratios rounded at 6dp, then an "
        "exact decimal fold to the per-(label, k) mean -- "
        "partition-order-independent. One scan, one label-keyed "
        "shuffle whose cardinality is |labels| x 3.",
)
def q_matryoshka_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")

    def ss(k: int) -> F.Column:
        return F.expr(
            f"aggregate(slice(embedding, 1, {k}), cast(0.0 as double), "
            "(acc, x) -> acc + cast(x as double) * cast(x as double))"
        )

    rows = F.explode(F.array(*[
        F.struct(F.lit(k).alias("k"), F.round(ss(k) / ss(64), 6).alias("r"))
        for k in (8, 16, 32)
    ]))
    per_vec = e.select("label", rows.alias("e")).select("label", "e.k", "e.r")
    dec_sum = dsum(F.col("r"), dec="decimal(18,6)")
    return per_vec.groupBy("label", "k").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.round(dec_sum / F.count("*"), 6).alias("mean_energy"),
    )


# ---------------------------------------------------------------------------
# End-to-end embedding dedup: cosine pairs -> clusters -> survivorship
# ---------------------------------------------------------------------------

def _embdedup_oracle() -> str:
    from ..operators.similarity import oracle_embedding_near_dup

    return f"""
    WITH RECURSIVE
    p AS (SELECT id_a, id_b FROM ({oracle_embedding_near_dup()}) t),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM p
      UNION SELECT id_b AS src, id_a AS dst FROM p
    ),
    reach(src, dst) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    cl AS (SELECT src AS vec_id, MIN(dst) AS cluster_id FROM reach GROUP BY 1),
    norms AS (
      SELECT vec_id,
             round(sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])), 6) AS l2_norm
      FROM embeddings
    )
    SELECT c.vec_id, c.cluster_id, n.l2_norm,
           CAST(COUNT(*) OVER (PARTITION BY c.cluster_id) AS BIGINT)
             AS n_members,
           (ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                               ORDER BY n.l2_norm DESC, c.vec_id ASC) = 1)
             AS keep
    FROM cl c JOIN norms n USING (vec_id)
    """


@register(
    "dedup_embedding_clusters",
    oracle=_embdedup_oracle(),
    doc="End-to-end embedding dedup: hyperplane-LSH cosine pairs "
        "(dedup_embedding_cosine) -> connected-components clustering "
        "(the operators.graph fixpoint, edge table checkpointed once) "
        "-> keep-highest-norm survivorship per cluster (vec_id "
        "tiebreak; norm is the 6dp-rounded l2 of embedding_norms, so "
        "the rank key is engine-identical). The embedding-space twin "
        "of dedup_keep_best: pair recall comes from LSH buckets, "
        "transitivity from the CC fixpoint, and the keep decision is "
        "one window over cluster_id, bounded by near-dup cluster "
        "sizes. Every stage is a previously-proven component -- this "
        "query certifies the COMPOSITION.",
)
def q_dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components
    from ..operators.similarity import embedding_near_dup

    e = table(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup(spark, sf_dir).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    verts = e.select(F.col("vec_id").alias("doc_id"))
    cc = connected_components(verts, pairs).select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )
    dot = (
        "aggregate(zip_with(embedding, embedding, (x, y) -> "
        "cast(x as double) * cast(y as double)), cast(0.0 as double), "
        "(acc, v) -> acc + v)"
    )
    norms = e.select("vec_id", F.round(F.sqrt(F.expr(dot)), 6).alias("l2_norm"))
    from pyspark.sql.window import Window as W

    cw = W.partitionBy("cluster_id")
    rw = W.partitionBy("cluster_id").orderBy(
        F.col("l2_norm").desc(), F.col("vec_id").asc()
    )
    return cc.join(norms, "vec_id").select(
        "vec_id", "cluster_id", "l2_norm",
        F.count("*").over(cw).cast("bigint").alias("n_members"),
        (F.row_number().over(rw) == 1).alias("keep"),
    )
