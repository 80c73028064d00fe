"""Round-2 curation & ops surface: PII redaction, cross-doc span dedup,
temperature-mixture sampling, deterministic splits, embedding
quantization, n-gram stats, CDC snapshot diff, and key-skew profiling.

Every query here is a pure JVM-expression plan (no Python UDFs) with a
DuckDB oracle. Engine-portability rules followed throughout:
 - randomness is md5-hash-derived (reproducible under retries/AQE);
 - hex-string comparisons instead of hex→int conversion;
 - money summed as decimal (order-insensitive) per functions/money.py;
 - doubles only combined in identical expression trees on both engines,
   rounded before any ranking or comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import table, table_parallel
from ..functions.money import cents, dsum, oracle_dsum
from ..operators.fixpoint import iterate
from ..session import truncate_lineage
from .registry import register

# ---------------------------------------------------------------------------
# PII redaction (training-data scrubbing; C4/CCNet-style pre-tokenization)
# ---------------------------------------------------------------------------

# Shared regexes — identical semantics under Java regex (Spark) and RE2
# (DuckDB): ASCII classes, \b word boundaries, bounded repetition.
PAT_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PAT_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PAT_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"


@register(
    "pii_redact",
    oracle=(
        """
    WITH aug AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 7 = 0
                  THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                  ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                  THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1 up'
                  ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                  THEN ' call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ok'
                  ELSE '' END AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '"""
        + PAT_EMAIL
        + """')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '"""
        + PAT_IPV4
        + """')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(t, '"""
        + PAT_PHONE
        + """')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
               '"""
        + PAT_EMAIL
        + """', '<EMAIL>', 'g'),
               '"""
        + PAT_IPV4
        + """', '<IP>', 'g'),
               '"""
        + PAT_PHONE
        + """', '<PHONE>', 'g')) AS redacted_hash
    FROM aug
    """
    ),
    doc="PII redaction scan: email/IPv4/phone regex counts + md5 of the "
        "redacted text. PII is synthesized deterministically from doc_id "
        "(the corpus itself is clean) so the regex path is actually "
        "exercised; one shuffle-free scan of JVM regexp expressions — "
        "the pre-tokenization scrub step of a training pipeline",
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # three regex passes per row dominate — spread a small scan
    d = table_parallel(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com now")),
        ).otherwise(""),
        F.when(
            did % 11 == 0,
            F.concat(F.lit(" host 10.0."), (did % 256).cast("string"), F.lit(".1 up")),
        ).otherwise(""),
        F.when(
            did % 13 == 0,
            F.concat(
                F.lit(" call 555-123-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
                F.lit(" ok"),
            ),
        ).otherwise(""),
    )
    d = d.withColumn("t", aug)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), PAT_EMAIL, "<EMAIL>"),
            PAT_IPV4, "<IP>",
        ),
        PAT_PHONE, "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(PAT_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(PAT_IPV4)).cast("bigint").alias("n_ipv4"),
        F.regexp_count(F.col("t"), F.lit(PAT_PHONE)).cast("bigint").alias("n_phones"),
        F.md5(redacted).alias("redacted_hash"),
    )


# ---------------------------------------------------------------------------
# Cross-document span dedup (C4-style repeated-span removal)
# ---------------------------------------------------------------------------

@register(
    "span_dedup_crossdoc",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), spans AS (
      SELECT doc_id,
             unnest(CASE WHEN len(w) >= 10 THEN
               list_transform(range(1, len(w) - 9 + 1, 10),
                              i -> md5(array_to_string(w[i : i + 9], ' ')))
             ELSE [] END) AS span_hash
      FROM d
    )
    SELECT span_hash,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs,
           MIN(doc_id) AS canonical_doc_id
    FROM spans GROUP BY 1
    HAVING COUNT(DISTINCT doc_id) > 1
    """,
    doc="Cross-document span dedup: disjoint 10-word spans hashed per doc "
        "(row-local explode), grouped corpus-wide; spans appearing in >1 "
        "document are the C4-style repeated boilerplate to strip. One "
        "span-hash shuffle — at 100 TB the shuffled payload is 16-byte "
        "hashes, never the text",
)
def q_span_dedup_crossdoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").withColumn("w", F.split("text", " "))
    spans = F.expr(
        "CASE WHEN size(w) >= 10 THEN transform(sequence(1, size(w) - 9, 10), "
        "i -> md5(concat_ws(' ', slice(w, i, 10)))) ELSE array() END"
    )
    return (
        d.select("doc_id", F.explode(spans).alias("span_hash"))
        .groupBy("span_hash")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# Temperature-based mixture sampling (multilingual corpus rebalancing)
# ---------------------------------------------------------------------------

@register(
    "temperature_sample",
    oracle="""
    WITH c AS (
      SELECT lang, COUNT(*) AS n_in FROM documents GROUP BY 1
    ), m AS (SELECT MAX(n_in) AS n_max FROM c),
    r AS (
      SELECT lang, n_in,
             round(least(CAST(1.0 AS DOUBLE),
                         0.5 * sqrt(CAST(n_max AS DOUBLE) / CAST(n_in AS DOUBLE))),
                   6) AS rate
      FROM c CROSS JOIN m
    ), kept AS (
      SELECT d.lang
      FROM documents d JOIN r USING (lang)
      WHERE r.rate >= 1.0
         OR substr(md5('ts:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
            < lpad(lower(to_hex(CAST(floor(r.rate * 4294967296.0) AS BIGINT))), 8, '0')
    )
    SELECT r.lang, r.n_in, r.rate, k.n_kept
    FROM r JOIN (SELECT lang, COUNT(*) AS n_kept FROM kept GROUP BY 1) k USING (lang)
    """,
    doc="Temperature sampling (alpha=0.5): per-language keep rate "
        "proportional to sqrt(n_max/n_lang), capped at 1 — upsamples the "
        "tail languages relative to the head, the standard multilingual "
        "rebalancing step. Keep decision is a row-local md5-hex-threshold "
        "compare (reproducible under retries; no RNG state), rates come "
        "from a broadcast 5-row aggregate — zero extra shuffles over the "
        "corpus scan",
)
def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_in"))
    n_max = counts.agg(F.max("n_in").alias("n_max"))
    rate = F.round(
        F.least(
            F.lit(1.0),
            F.lit(0.5) * F.sqrt(F.col("n_max").cast("double") / F.col("n_in").cast("double")),
        ),
        6,
    )
    rates = counts.crossJoin(F.broadcast(n_max)).select("lang", "n_in", rate.alias("rate"))
    thr = F.lpad(
        F.lower(F.hex(F.floor(F.col("rate") * F.lit(4294967296.0)))), 8, "0"
    )
    key = F.substring(F.md5(F.concat(F.lit("ts:"), F.col("doc_id").cast("string"))), 1, 8)
    kept = (
        d.join(F.broadcast(rates), "lang")
        .filter((F.col("rate") >= 1.0) | (key < thr))
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
    )
    return rates.join(kept, "lang").select("lang", "n_in", "rate", "n_kept")


#: Token budget for the mixture plan — a PLAN parameter (what the
#: training run wants), not a corpus property; 1M forces epochs > 1 on
#: the test corpus so the upsampling path is exercised.
_MIX_BUDGET = 1_000_000.0


@register(
    "mixture_plan",
    oracle=f"""
    WITH t AS (
      SELECT source,
             CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
               AS tokens
      FROM documents GROUP BY 1
    ), z AS (
      SELECT CAST(CAST(SUM(CAST(round(sqrt(tokens), 6) AS DECIMAL(18,6)))
                  AS VARCHAR) AS DOUBLE) AS norm
      FROM t
    )
    SELECT source, tokens,
           round(round(sqrt(tokens), 6) / norm, 6) AS weight,
           CAST(floor(round(round(sqrt(tokens), 6) / norm, 6) * {_MIX_BUDGET})
                AS BIGINT) AS target_tokens,
           round(CAST(floor(round(round(sqrt(tokens), 6) / norm, 6)
                            * {_MIX_BUDGET}) AS BIGINT) / tokens, 6) AS epochs
    FROM t CROSS JOIN z
    """,
    doc="Source-mixture plan: tempered (alpha=0.5) per-source weights "
        "over available tokens, a token-budget allocation, and the "
        "epochs/repeat factor per source (>1 = upsample — the Pile/LLaMA "
        "data-mixing step; temperature_sample only downsamples rows, "
        "this PLANS the mixture). One source-level agg + a 1-row "
        "broadcast normalizer; the weight normalizer sums 6dp-rounded "
        "sqrt values as decimals so every engine and partitioning "
        "derives bit-identical weights.",
)
def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    t = (
        d.select("source", F.size(F.split("text", " ")).cast("bigint").alias("nw"))
        .groupBy("source")
        .agg(F.sum("nw").cast("bigint").alias("tokens"))
    )
    z = t.agg(
        F.expr(
            "cast(cast(sum(cast(round(sqrt(tokens), 6) as decimal(18,6))) "
            "as string) as double)"
        ).alias("norm")
    )
    weight = F.round(F.round(F.sqrt("tokens"), 6) / F.col("norm"), 6)
    target = F.floor(weight * F.lit(_MIX_BUDGET)).cast("bigint")
    return t.crossJoin(F.broadcast(z)).select(
        "source",
        "tokens",
        weight.alias("weight"),
        target.alias("target_tokens"),
        F.round(target / F.col("tokens"), 6).alias("epochs"),
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test hash split
# ---------------------------------------------------------------------------

@register(
    "hash_split_assign",
    oracle="""
    WITH s AS (
      SELECT lang,
             CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'f0'
                    THEN 'train'
                  WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'f8'
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ), t AS (SELECT COUNT(*) AS total FROM documents)
    SELECT split, lang, COUNT(*) AS n_docs,
           round(COUNT(*) / CAST(total AS DOUBLE), 6) AS share
    FROM s CROSS JOIN t
    GROUP BY split, lang, total
    """,
    doc="Deterministic train/val/test assignment: first md5 byte of "
        "'split:doc_id' buckets 240/8/8 of 256 (~93.75/3.1/3.1%). "
        "Hex-string compare only (no hex->int), row-local, stable under "
        "re-partitioning and across engines — the split never moves when "
        "the corpus is re-sharded",
)
def q_hash_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    b = F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 2)
    split = (
        F.when(b < "f0", "train").when(b < "f8", "val").otherwise("test")
    )
    total = d.agg(F.count("*").alias("total"))
    return (
        d.select(split.alias("split"), "lang")
        .crossJoin(F.broadcast(total))
        .groupBy("split", "lang", "total")
        .agg(F.count("*").alias("n_docs"))
        .select(
            "split", "lang", "n_docs",
            F.round(F.col("n_docs") / F.col("total").cast("double"), 6).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding int8 quantization (vector-store compression pass)
# ---------------------------------------------------------------------------

@register(
    "embedding_quantize",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS ed FROM embeddings
    ), s AS (
      SELECT vec_id, label, ed,
             list_max(list_transform(ed, v -> abs(v))) AS amax
      FROM e
    ), t AS (
      SELECT vec_id, label, ed, amax, amax / 127.0 AS scale FROM s
    ), q AS (
      SELECT vec_id, label, ed, amax, scale,
             CASE WHEN amax > 0
               THEN list_transform(ed, v -> CAST(floor(v / scale + 0.5) AS INT))
               ELSE list_transform(ed, v -> 0) END AS qv
      FROM t
    )
    SELECT vec_id, label,
           CAST(len(ed) AS INT) AS dim,
           round(scale, 6) AS scale_r,
           CAST(list_sum(qv) AS BIGINT) AS q_checksum,
           CAST(list_min(qv) AS INT) AS q_min,
           CAST(list_max(qv) AS INT) AS q_max,
           round(CASE WHEN amax > 0 THEN
             list_sum(list_transform(range(1, len(ed) + 1),
                      i -> (ed[i] - qv[i] * scale) * (ed[i] - qv[i] * scale)))
             / CAST(len(ed) AS DOUBLE)
           ELSE CAST(0.0 AS DOUBLE) END, 6) AS mse
    FROM q
    """,
    doc="Symmetric int8 quantization per vector: scale = max|v|/127, "
        "q = floor(v/scale + 0.5) (round-half-up — identical in both "
        "engines, unlike banker's rint). Emits integer checksum/min/max "
        "(exact parity) + rounded scale and reconstruction MSE. Row-local "
        "array expressions, no shuffle — the compression pass before "
        "shipping a vector store",
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # row-local 64-dim array math dominates — spread a small scan
    e = table_parallel(spark, sf_dir, "embeddings")
    e = e.withColumn("ed", F.expr("transform(embedding, v -> cast(v as double))"))
    e = e.withColumn("amax", F.expr("array_max(transform(ed, v -> abs(v)))"))
    e = e.withColumn("scale", F.col("amax") / F.lit(127.0))
    e = e.withColumn(
        "qv",
        F.expr(
            "CASE WHEN amax > 0 THEN transform(ed, v -> cast(floor(v / scale + 0.5) as int)) "
            "ELSE transform(ed, v -> 0) END"
        ),
    )
    mse = F.expr(
        "CASE WHEN amax > 0 THEN "
        "aggregate(zip_with(ed, qv, (v, q) -> (v - q * scale) * (v - q * scale)), "
        "cast(0.0 as double), (a, x) -> a + x) / cast(size(ed) as double) "
        "ELSE cast(0.0 as double) END"
    )
    return e.select(
        "vec_id", "label",
        F.size("ed").cast("int").alias("dim"),
        F.round("scale", 6).alias("scale_r"),
        F.expr("aggregate(qv, cast(0 as bigint), (a, x) -> a + x)").alias("q_checksum"),
        F.array_min("qv").cast("int").alias("q_min"),
        F.array_max("qv").cast("int").alias("q_max"),
        F.round(mse, 6).alias("mse"),
    )


# ---------------------------------------------------------------------------
# Per-label embedding centroid stats (classification-dataset hygiene)
# ---------------------------------------------------------------------------

@register(
    "label_centroid_stats",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS ed FROM embeddings
    ), ex AS (
      SELECT label,
             unnest(list_transform(range(1, len(ed) + 1),
                    i -> {'pos': CAST(i AS INT), 'val': round(ed[i], 6)})) AS x
      FROM e
    ), per_dim AS (
      SELECT label, x.pos AS pos,
             CAST(CAST(SUM(CAST(x.val AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
               / COUNT(*) AS cmean
      FROM ex GROUP BY 1, 2
    ), cent AS (
      SELECT label, list(cmean ORDER BY pos) AS c FROM per_dim GROUP BY 1
    ), scored AS (
      SELECT e.label, e.vec_id,
             round(list_dot_product(e.ed, c.c)
                   / (sqrt(list_dot_product(e.ed, e.ed))
                      * sqrt(list_dot_product(c.c, c.c))), 6) AS cos
      FROM e JOIN cent c USING (label)
    )
    SELECT s.label,
           COUNT(*) AS n_vecs,
           round(sqrt(list_dot_product(any_value(c.c), any_value(c.c))), 6)
             AS centroid_norm,
           round(CAST(CAST(SUM(CAST(s.cos AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                 / COUNT(*), 6) AS avg_cos,
           MIN(s.cos) AS min_cos,
           MAX(s.cos) AS max_cos
    FROM scored s JOIN cent c USING (label)
    GROUP BY 1
    """,
    doc="Per-label centroid hygiene for a labeled embedding set: class "
        "centroid (per-dimension mean via exact 6dp-decimal sums — "
        "order-insensitive), centroid norm, and each vector's cosine to "
        "its own class centroid (avg/min/max). Low min_cos flags likely "
        "mislabels; low avg_cos flags incoherent classes. Plan: one "
        "posexplode + (label, dim) agg — a 64×-labels-sized shuffle, "
        "never vectors×vectors — then a broadcast centroid join back",
)
def q_label_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table_parallel(spark, sf_dir, "embeddings").withColumn(
        "ed", F.expr("transform(embedding, v -> cast(v as double))")
    )
    ex = e.select(
        "label", F.posexplode(F.expr("transform(ed, v -> round(v, 6))")).alias("pos", "val")
    )
    per_dim = ex.groupBy("label", "pos").agg(
        (
            dsum(F.col("val"), dec="decimal(18,6)")
            / F.count("*")
        ).alias("cmean")
    )
    cent = per_dim.groupBy("label").agg(
        F.expr("transform(array_sort(collect_list(struct(pos, cmean))), s -> s.cmean)")
        .alias("c")
    )
    dot = lambda a, b: F.expr(  # noqa: E731  sequential fold — engine-stable
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double), "
        "(acc, v) -> acc + v)"
    )
    scored = (
        e.join(F.broadcast(cent), "label")
        .select(
            "label",
            F.round(
                dot("ed", "c") / (F.sqrt(dot("ed", "ed")) * F.sqrt(dot("c", "c"))), 6
            ).alias("cos"),
            F.round(F.sqrt(dot("c", "c")), 6).alias("cnorm"),
        )
    )
    return scored.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.first("cnorm").alias("centroid_norm"),
        F.round(
            dsum(F.col("cos"), dec="decimal(18,6)")
            / F.count("*"),
            6,
        ).alias("avg_cos"),
        F.min("cos").alias("min_cos"),
        F.max("cos").alias("max_cos"),
    )


# ---------------------------------------------------------------------------
# Per-language top bigrams (n-gram LM / tokenizer prep statistics)
# ---------------------------------------------------------------------------

@register(
    "top_bigrams",
    oracle="""
    WITH d AS (
      SELECT lang, string_split(text, ' ') AS w FROM documents
    ), b AS (
      SELECT lang,
             unnest(CASE WHEN len(w) >= 2 THEN
               list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
             ELSE [] END) AS bigram
      FROM d
    ), c AS (
      SELECT lang, bigram, COUNT(*) AS n FROM b GROUP BY 1, 2
    )
    SELECT lang, bigram, n, rnk FROM (
      SELECT lang, bigram, n,
             CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS INT)
               AS rnk
      FROM c
    ) WHERE rnk <= 5
    """,
    doc="Top-5 word bigrams per language: row-local bigram generation "
        "(no self-join), one (lang, bigram) shuffle, ranking window with "
        "deterministic (count desc, bigram) tie-break — the n-gram "
        "statistics pass behind tokenizer training / LM sanity checks",
)
def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").withColumn("w", F.split("text", " "))
    bigrams = F.expr(
        "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1), "
        "i -> concat_ws(' ', slice(w, i, 2))) ELSE array() END"
    )
    c = (
        d.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "bigram")
    return (
        c.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 5)
    )


# ---------------------------------------------------------------------------
# BPE merge-pair statistics (tokenizer-training primitive)
# ---------------------------------------------------------------------------

@register(
    "bpe_pair_stats",
    oracle="""
    WITH vocab AS (
      SELECT w, COUNT(*) AS tf FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
      ) GROUP BY 1
    ), chars AS (
      SELECT w, tf, regexp_extract_all(w, '[^\\n]') AS cs FROM vocab
    ), pairs AS (
      SELECT unnest(CASE WHEN len(cs) >= 2 THEN
               list_transform(range(1, len(cs)), i -> cs[i] || ' ' || cs[i+1])
             ELSE [] END) AS pair,
             tf
      FROM chars
    ), counts AS (
      SELECT pair, SUM(tf) AS n FROM pairs GROUP BY 1
    )
    SELECT pair, n, rnk FROM (
      SELECT pair, CAST(n AS BIGINT) AS n,
             CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rnk
      FROM counts
    ) WHERE rnk <= 20
    """,
    doc="BPE training, first merge iteration: adjacent-character pair "
        "frequencies weighted by word frequency, top-20 merge "
        "candidates with deterministic tie-break. Two-level plan — the "
        "corpus-sized explode collapses to a VOCABULARY-sized relation "
        "first, then the char-pair explode runs over unique words only "
        "(at 100 TB the token stream is billions of rows, the vocab is "
        "millions — doing pair counting after the vocab rollup is the "
        "difference between shuffling TBs and MBs)",
)
def q_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("tf"))
    )
    # [^\n] not '.': Java's '.' excludes every line terminator (\r,
    # U+2028, ...) while DuckDB/RE2's excludes only \n — a word holding
    # \r would split differently per engine and flip pair counts (and
    # possibly the greedy merge winner). Same convention as char_entropy.
    chars = vocab.withColumn("cs", F.expr("regexp_extract_all(w, '[^\\n]', 0)"))
    pairs = chars.select(
        F.explode(
            F.expr(
                "CASE WHEN size(cs) >= 2 THEN transform(sequence(1, size(cs) - 1), "
                "i -> concat(cs[i-1], ' ', cs[i])) ELSE array() END"
            )
        ).alias("pair"),
        "tf",
    )
    counts = pairs.groupBy("pair").agg(F.sum("tf").cast("bigint").alias("n"))
    w = Window.orderBy(F.desc("n"), "pair")
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 20)
    )


def _bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w, sym, tf): every corpus word, its characters joined by '~',
    and its corpus frequency — the vocabulary-sized relation every BPE
    round works on (the corpus-sized token stream is touched once, by
    this rollup)."""
    d = table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("tf"))
    )
    return vocab.select(
        "w",
        F.concat_ws("~", F.expr("regexp_extract_all(w, '[^\\n]', 0)")).alias("sym"),
        "tf",
    )


def _bpe_merge(sym: Column, pair: str) -> Column:
    """Merge one adjacent-symbol ``pair`` ('a b') in a '~'-joined symbol
    string: greedy, non-overlapping, left to right (plain string
    replace — the same semantics as the oracle's replace)."""
    return F.replace(sym, F.lit(pair.replace(" ", "~")), F.lit(pair.replace(" ", "")))


def _bpe_merges(vocab: DataFrame, rounds: int) -> list[tuple[str, int]]:
    """Greedy BPE training on the fixpoint driver: per round, count the
    adjacent symbol pairs over the vocabulary (weighted by tf), read the
    (count desc, pair asc) winner to the driver and merge it. Returns
    the ``rounds`` winners as (pair, count) in merge order."""
    merges: list[tuple[str, int]] = []

    def merge_top(cur: DataFrame) -> DataFrame:
        pairs = cur.select(
            "tf",
            F.explode(
                F.expr(
                    "CASE WHEN size(split(sym, '~')) >= 2 THEN "
                    "transform(sequence(1, size(split(sym, '~')) - 1), "
                    "j -> concat(split(sym, '~')[j-1], ' ', split(sym, '~')[j])) "
                    "ELSE array() END"
                )
            ).alias("pair"),
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("tf").cast("bigint").alias("n"))
            .orderBy(F.desc("n"), "pair")
            .first()
        )
        merges.append((top["pair"], top["n"]))
        return cur.select(_bpe_merge(F.col("sym"), top["pair"]).alias("sym"), "tf")

    iterate(truncate_lineage(vocab.select("sym", "tf")), merge_top, rounds=rounds)
    return merges


def _bpe_oracle(iterations: int = 3) -> str:
    """Unrolled DuckDB twin of q_bpe_train_merges: each iteration picks
    the (count desc, pair asc) top adjacent-symbol pair and merges it
    via non-overlapping left-to-right string replace — byte-identical
    greedy semantics to the Spark side."""
    sql = """
    WITH vocab AS (
      SELECT w, COUNT(*) AS tf FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
      ) GROUP BY 1
    ), v0 AS (
      SELECT array_to_string(regexp_extract_all(w, '[^\\n]'), '~') AS sym, tf
      FROM vocab
    )"""
    selects = []
    for i in range(1, iterations + 1):
        prev = f"v{i - 1}"
        sql += f""",
    p{i} AS (
      SELECT pair, CAST(SUM(tf) AS BIGINT) AS n FROM (
        SELECT tf, unnest(CASE WHEN len(parts) >= 2 THEN
                 list_transform(range(1, len(parts)),
                                j -> parts[j] || ' ' || parts[j+1])
               ELSE [] END) AS pair
        FROM (SELECT string_split(sym, '~') AS parts, tf FROM {prev})
      ) GROUP BY 1
    ), b{i} AS (
      SELECT pair, n FROM p{i} ORDER BY n DESC, pair LIMIT 1
    ), v{i} AS (
      SELECT replace(sym,
                     replace((SELECT pair FROM b{i}), ' ', '~'),
                     replace((SELECT pair FROM b{i}), ' ', '')) AS sym, tf
      FROM {prev}
    )"""
        selects.append(
            f"SELECT {i} AS iteration, pair AS merged_pair, n FROM b{i}"
        )
    return sql + "\n" + "\nUNION ALL\n".join(selects)


@register(
    "bpe_train_merges",
    oracle=_bpe_oracle(3),
    doc="BPE tokenizer training, first 3 merge iterations: per round, "
        "count adjacent symbol pairs over the vocabulary (weighted by "
        "word tf), pick the (count desc, pair asc) winner, and merge it "
        "greedily left-to-right (non-overlapping string replace — "
        "identical semantics in both engines). Iterative driver loop "
        "like dedup_clusters: each round is one vocabulary-sized agg + "
        "a 1-row action; the corpus-sized token stream is touched ONCE "
        "(vocab rollup). The oracle unrolls all 3 rounds in SQL, so "
        "the driver hash-checks the whole iterative computation",
)
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = _bpe_merges(_bpe_vocab(spark, sf_dir), rounds=3)
    return spark.createDataFrame(
        [(it, pair, n) for it, (pair, n) in enumerate(merges, 1)],
        "iteration int, merged_pair string, n bigint",
    )


def _bpe_encode_oracle(iterations: int = 3) -> str:
    """Unrolled DuckDB twin of q_bpe_encode: the same 3 merge rounds as
    _bpe_oracle, but the word is carried through so the final select is
    the encoded vocabulary instead of the merge list."""
    sql = """
    WITH vocab AS (
      SELECT w, COUNT(*) AS tf FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
      ) GROUP BY 1
    ), v0 AS (
      SELECT w, array_to_string(regexp_extract_all(w, '[^\\n]'), '~') AS sym, tf
      FROM vocab
    )"""
    for i in range(1, iterations + 1):
        prev = f"v{i - 1}"
        sql += f""",
    p{i} AS (
      SELECT pair, CAST(SUM(tf) AS BIGINT) AS n FROM (
        SELECT tf, unnest(CASE WHEN len(parts) >= 2 THEN
                 list_transform(range(1, len(parts)),
                                j -> parts[j] || ' ' || parts[j+1])
               ELSE [] END) AS pair
        FROM (SELECT string_split(sym, '~') AS parts, tf FROM {prev})
      ) GROUP BY 1
    ), b{i} AS (
      SELECT pair, n FROM p{i} ORDER BY n DESC, pair LIMIT 1
    ), v{i} AS (
      SELECT w,
             replace(sym,
                     replace((SELECT pair FROM b{i}), ' ', '~'),
                     replace((SELECT pair FROM b{i}), ' ', '')) AS sym, tf
      FROM {prev}
    )"""
    return sql + f"""
    SELECT w, tf, sym AS encoded,
           CAST(len(string_split(sym, '~')) AS BIGINT) AS n_tokens
    FROM v{iterations}
    """


@register(
    "bpe_encode",
    oracle=_bpe_encode_oracle(3),
    doc="BPE tokenizer application: re-run the 3 greedy merge rounds of "
        "bpe_train_merges, keep the END STATE — every vocabulary word "
        "with its encoded symbol sequence and post-merge token count. "
        "This is the broadcastable encode table a streaming tokenizer "
        "pass joins against (tokenize the corpus = one broadcast join "
        "on w, never re-running BPE over the token stream). Same "
        "two-level shape as training: the corpus is touched once for "
        "the vocab rollup; merges apply over the vocabulary only. "
        "Oracle: the unrolled-iteration SQL with the word carried "
        "through, so the driver hash-checks the whole loop's end state",
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The merge search reads its winners to the driver; the returned
    # frame is rebuilt on the vocabulary's own lineage from those merge
    # strings, so it does not hang off the search's truncated states.
    base = _bpe_vocab(spark, sf_dir)
    sym = F.col("sym")
    for pair, _ in _bpe_merges(base, rounds=3):
        sym = _bpe_merge(sym, pair)
    return base.select(
        "w",
        "tf",
        sym.alias("encoded"),
        F.size(F.split(sym, "~")).cast("bigint").alias("n_tokens"),
    )


@register(
    "bpe_tokenize_docs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    )
    SELECT doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(n_tokens) AS BIGINT) AS n_bpe_tokens,
           round(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 6) AS tokens_per_word
    FROM toks JOIN ({_bpe_encode_oracle(3)}) enc USING (w)
    GROUP BY 1
    """,
    doc="Tokenize the corpus under the trained BPE: token stream joins "
        "the BROADCAST encode table on the word (vocabulary-sized — MBs "
        "at 100 TB corpus scale), then one per-doc agg. This is the "
        "scale pattern bpe_encode exists for: the merge loop never "
        "touches the token stream; tokenization is one broadcast join + "
        "one key-partitioned agg over a single corpus scan. Output: "
        "per-doc word count, BPE token count, tokens-per-word fertility",
)
def q_bpe_tokenize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    enc = q_bpe_encode(spark, sf_dir).select("w", "n_tokens")
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    return (
        toks.join(F.broadcast(enc), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_tokens").cast("bigint").alias("n_bpe_tokens"),
            F.round(
                F.sum("n_tokens").cast("double") / F.count("*"), 6
            ).alias("tokens_per_word"),
        )
    )


@register(
    "bpe_fertility_by_lang",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(n_tokens) AS BIGINT) AS n_bpe_tokens,
           round(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 6) AS fertility
    FROM toks JOIN ({_bpe_encode_oracle(3)}) enc USING (w)
    GROUP BY 1
    """,
    doc="Tokenizer FERTILITY by language (BPE tokens per word) — the "
        "metric that drives multilingual data budgeting: a language "
        "whose fertility is 2x pays 2x the context length for the same "
        "text, so corpus mixture weights and per-language token quotas "
        "are set from exactly this table. Same scale shape as "
        "bpe_tokenize_docs (the merge loop never touches the token "
        "stream): token stream joins the BROADCAST vocabulary-sized "
        "encode table, then one (lang)-keyed agg — one corpus scan. "
        "Exact BIGINT sums; the single double is one division, rounded "
        "identically cross-engine.",
)
def q_bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    enc = q_bpe_encode(spark, sf_dir).select("w", "n_tokens")
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w"))
    return (
        toks.join(F.broadcast(enc), "w")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").alias("n_words"),
            F.sum("n_tokens").cast("bigint").alias("n_bpe_tokens"),
            F.round(
                F.sum("n_tokens").cast("double") / F.count("*"), 6
            ).alias("fertility"),
        )
    )


# ---------------------------------------------------------------------------
# Unigram LM quality score (CCNet-style perplexity filter stand-in)
# ---------------------------------------------------------------------------

@register(
    "unigram_logprob_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), vocab AS (
      SELECT w, COUNT(*) AS tf FROM toks GROUP BY 1
    ), tot AS (SELECT SUM(tf) AS n_tokens FROM vocab),
    scored AS (
      SELECT t.doc_id,
             round(ln(CAST(v.tf AS DOUBLE) / n_tokens), 6) AS lp
      FROM toks t JOIN vocab v USING (w) CROSS JOIN tot
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(CAST(SUM(CAST(lp AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
             AS sum_logprob,
           round(CAST(CAST(SUM(CAST(lp AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                 / COUNT(*), 6) AS avg_logprob
    FROM scored GROUP BY 1
    """,
    doc="Unigram-LM quality score: corpus unigram probabilities, then "
        "mean token log-prob per document — the cheap stand-in for the "
        "CCNet/KenLM perplexity filter (outlier docs score far from the "
        "corpus mode). Two-level plan: vocabulary-sized agg, broadcast "
        "token-probability join, one re-agg by doc. Per-token logprob is "
        "rounded to 6dp then summed as DECIMAL(18,6) (exact and order-"
        "insensitive, per the functions/money.py convention) so the "
        "document score is bit-identical under any partitioning",
)
def q_unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    # vocab feeds both the probability join and the corpus-total — as
    # plain lineage each consumer re-embeds the tokenize+count subtree,
    # i.e. an extra full corpus scan just to total the vocabulary.
    # Materialize the vocabulary-sized aggregate once (it is tiny
    # relative to the corpus): scans drop 3 → 2, the inherent minimum
    # for build-LM-then-score without persisting exploded tokens.
    vocab = truncate_lineage(toks.groupBy("w").agg(F.count("*").alias("tf")))
    tot = vocab.agg(F.sum("tf").alias("n_tokens"))
    scored = (
        toks.join(F.broadcast(vocab), "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(F.log(F.col("tf").cast("double") / F.col("n_tokens")), 6).alias("lp"),
        )
    )
    dec_sum = dsum(F.col("lp"), dec="decimal(18,6)")
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        dec_sum.alias("sum_logprob"),
        F.round(dec_sum / F.count("*"), 6).alias("avg_logprob"),
    )


# ---------------------------------------------------------------------------
# Per-group deterministic sample (balanced per-class subset for training)
# ---------------------------------------------------------------------------

@register(
    "group_sample_topk",
    oracle="""
    SELECT doc_id, lang, rk FROM (
      SELECT doc_id, lang,
             CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('gs:' || CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk
      FROM documents
    ) WHERE rk <= 20
    """,
    doc="Balanced per-group sample: exactly 20 docs per language, chosen "
        "by md5 order — a deterministic uniform draw that never moves "
        "under re-partitioning/retries (unlike sample()). One shuffle on "
        "the group key; the per-class balancing step before fine-tuning. "
        "At scale, skewed groups bound the window partition at group "
        "size — for billion-doc groups switch to the threshold form "
        "(md5 < k/n_group) used by stratified_sample",
)
def q_group_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("gs:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(key, "doc_id")
    return (
        d.select("doc_id", "lang")
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 20)
    )


# ---------------------------------------------------------------------------
# CDC-style snapshot diff (incremental-pipeline primitive)
# ---------------------------------------------------------------------------

@register(
    "snapshot_diff",
    oracle=f"""
    SELECT o_custkey,
           {oracle_dsum("CASE WHEN o_orderdate < TIMESTAMP '1997-01-01' "
                        "THEN o_totalprice END", "old_spend")},
           {oracle_dsum("o_totalprice", "new_spend")},
           CASE WHEN SUM(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
                         THEN CAST(o_totalprice AS DECIMAL(18,2)) END) IS NULL
                  THEN 'inserted'
                WHEN SUM(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
                         THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                     <> SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  THEN 'updated'
                ELSE 'unchanged' END AS change_type
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY o_custkey
    """,
    doc="CDC snapshot diff: per-customer spend at snapshot T1 (<1997) vs "
        "T2 (<1998) classified inserted/updated/unchanged. Single-pass "
        "conditional aggregation — one shuffle, no self-join of the two "
        "snapshots (the naive CDC plan scans twice and full-outer-joins; "
        "this is the fold a 100 TB incremental pipeline wants). Exact "
        "cents sums make the changed/unchanged comparison exact",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    # BIGINT-cents conditional sums (r13): null iff no matching rows
    # (same as the decimal form) and the <> compare is the same exact
    # inequality scaled by 100.
    old_dec = F.sum(cents(F.expr(
        "CASE WHEN o_orderdate < TIMESTAMP '1997-01-01' THEN o_totalprice END"
    )))
    new_dec = F.sum(cents(F.col("o_totalprice")))
    return o.groupBy("o_custkey").agg(
        dsum(
            "CASE WHEN o_orderdate < TIMESTAMP '1997-01-01' THEN o_totalprice END",
            "old_spend",
        ),
        dsum("o_totalprice", "new_spend"),
        F.when(old_dec.isNull(), "inserted")
        .when(old_dec != new_dec, "updated")
        .otherwise("unchanged")
        .alias("change_type"),
    )


# ---------------------------------------------------------------------------
# Key-skew profiling (the diagnosis pass behind salting / AQE tuning)
# ---------------------------------------------------------------------------

@register(
    "key_skew_profile",
    oracle="""
    WITH c AS (
      SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY 1
    ), t AS (SELECT COUNT(*) AS total FROM orders)
    SELECT rnk, o_custkey, n_orders, share FROM (
      SELECT CAST(row_number() OVER (ORDER BY n_orders DESC, o_custkey) AS INT) AS rnk,
             o_custkey, n_orders,
             round(n_orders / CAST(total AS DOUBLE), 6) AS share
      FROM c CROSS JOIN t
    ) WHERE rnk <= 10
    """,
    doc="Key-skew profile: top-10 heaviest join keys with row share — the "
        "diagnostic relation that decides broadcast vs salt vs AQE skew "
        "split before a big join. Two-level: per-key counts (map-side "
        "combined), then a 10-row global rank; the global window only "
        "ever sees the aggregated key list, never fact rows",
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    total = o.agg(F.count("*").alias("total"))
    w = Window.orderBy(F.desc("n_orders"), "o_custkey")
    return (
        c.crossJoin(F.broadcast(total))
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 10)
        .select(
            "rnk", "o_custkey", "n_orders",
            F.round(F.col("n_orders") / F.col("total").cast("double"), 6).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# Bigram-LM quality score (conditional-probability sibling of the unigram LM)
# ---------------------------------------------------------------------------

@register(
    "bigram_logprob_score",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w)),
                    i -> {'w1': w[i], 'w2': w[i+1]})) AS b
      FROM d WHERE len(w) >= 2
    ), uni AS (
      SELECT unnest(w) AS u FROM d
    ), ucount AS (
      SELECT u AS w1, COUNT(*) AS cu FROM uni GROUP BY 1
    ), vocab AS (SELECT COUNT(DISTINCT u) AS v FROM uni),
    bcount AS (
      SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2
    ), scored AS (
      SELECT g.doc_id,
             round(ln((cb + 1.0) / (cu + v)), 6) AS lp
      FROM bg g
      JOIN bcount bc ON g.b.w1 = bc.w1 AND g.b.w2 = bc.w2
      JOIN ucount uc ON g.b.w1 = uc.w1
      CROSS JOIN vocab
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           CAST(CAST(SUM(CAST(lp AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
             AS sum_logprob,
           round(CAST(CAST(SUM(CAST(lp AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                 / COUNT(*), 6) AS avg_logprob
    FROM scored GROUP BY 1
    """,
    doc="Bigram-LM quality score with add-one smoothing: mean token "
        "log P(w_i | w_{i-1}) per document, P = (C(w1,w2)+1)/(C(w1)+V). "
        "One step closer to the CCNet/KenLM perplexity filter than the "
        "unigram score — word-salad documents whose unigrams are all "
        "common still score low because their TRANSITIONS are rare. "
        "Plan: bigrams are built ROW-LOCALLY from the token array (no "
        "window/self-join), counted in one corpus-bounded agg; the "
        "per-token probability join shuffles on the bigram key (bigram "
        "vocab can exceed broadcast size at 100 TB — deliberately a "
        "shuffle join, unlike the broadcastable unigram table); V rides "
        "in as a 1-row broadcast. Per-token logprob rounded to 6dp, "
        "summed as DECIMAL(18,6) — order-insensitive, engine-exact",
)
def q_bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").withColumn("w", F.split("text", " "))
    # The unigram count table feeds both the smoothing join and the
    # vocabulary size; materialize the word-vocabulary-sized aggregate
    # once and derive |V| as its row count — the naive build (separate
    # distinct-vocab pass) embedded a fourth corpus scan. The remaining
    # three passes (unigram build, bigram build, scoring stream) each
    # need a different explosion of the corpus; fusing the two builds
    # into one tagged explode was measured SLOWER at sf0.1 (the fatter
    # combined shuffle and bigram-vocabulary checkpoint outweigh the
    # saved scan), so the builds stay separate.
    toks = d.select(F.explode("w").alias("w1"))
    ucount = truncate_lineage(
        toks.groupBy("w1").agg(F.count("*").alias("cu"))
    )
    vocab = ucount.agg(F.count("*").alias("v"))
    bg = d.filter(F.size("w") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), "
                "i -> struct(element_at(w, i) as w1, element_at(w, i + 1) as w2))"
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    bcount = bg.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    scored = (
        bg.join(bcount, ["w1", "w2"])
        .join(F.broadcast(ucount), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.round(
                F.log((F.col("cb") + F.lit(1.0)) / (F.col("cu") + F.col("v"))), 6
            ).alias("lp"),
        )
    )
    dec_sum = dsum(F.col("lp"), dec="decimal(18,6)")
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        dec_sum.alias("sum_logprob"),
        F.round(dec_sum / F.count("*"), 6).alias("avg_logprob"),
    )


# ---------------------------------------------------------------------------
# Deterministic contrastive negative sampling (embedding training pairs)
# ---------------------------------------------------------------------------

@register(
    "contrastive_negatives",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS n_vecs FROM embeddings),
    anchors AS (SELECT vec_id, label FROM embeddings),
    cand AS (
      SELECT a.vec_id, a.label AS anchor_label,
             CAST(k AS INT) AS k,
             (a.vec_id * 1103515245 + k * 2654435761 + 7919) % n_vecs AS raw
      FROM anchors a CROSS JOIN n, unnest(range(0, 4)) AS t(k)
    ), neg AS (
      SELECT vec_id, anchor_label, k,
             CASE WHEN raw = vec_id THEN (raw + 1) % (SELECT n_vecs FROM n)
                  ELSE raw END AS neg_id
      FROM cand
    )
    SELECT g.vec_id, g.anchor_label, g.k, g.neg_id,
           e.label AS neg_label,
           (e.label = g.anchor_label) AS label_collision
    FROM neg g JOIN anchors e ON e.vec_id = g.neg_id
    """,
    doc="Deterministic negative sampling for contrastive training: each "
        "anchor draws 4 pseudo-uniform negatives via multiplicative "
        "integer mixing mod corpus size (exact bigint arithmetic — "
        "identical in both engines, stable under re-partitioning and "
        "retries, unlike rand()), with an anchor-collision bump. The "
        "labels ride back on one equi-join keyed on vec_id, flagging "
        "false negatives (same label) for the loss to mask. Plan: "
        "row-local candidate generation (corpus x 4 rows), corpus size "
        "as a 1-row broadcast, one shuffle join on the sampled key — "
        "linear at any scale. A production pipeline swaps the mixer for "
        "a stronger keyed hash (see hash_split_assign) without changing "
        "the shape",
)
def q_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import table_parallel

    anchors = table_parallel(spark, sf_dir, "embeddings").select("vec_id", "label")
    n = anchors.agg(F.count("*").alias("n_vecs"))
    cand = (
        anchors.crossJoin(F.broadcast(n))
        .select(
            "vec_id",
            F.col("label").alias("anchor_label"),
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("k"),
            "n_vecs",
        )
        .withColumn(
            "raw",
            (
                F.col("vec_id") * F.lit(1103515245)
                + F.col("k").cast("bigint") * F.lit(2654435761)
                + F.lit(7919)
            ) % F.col("n_vecs"),
        )
        .select(
            "vec_id", "anchor_label", F.col("k").cast("int").alias("k"),
            F.when(F.col("raw") == F.col("vec_id"),
                   (F.col("raw") + 1) % F.col("n_vecs"))
             .otherwise(F.col("raw")).alias("neg_id"),
        )
    )
    neg_labels = anchors.select(
        F.col("vec_id").alias("neg_id"), F.col("label").alias("neg_label")
    )
    return cand.join(neg_labels, "neg_id").select(
        "vec_id", "anchor_label", "k", "neg_id", "neg_label",
        (F.col("neg_label") == F.col("anchor_label")).alias("label_collision"),
    )


# ---------------------------------------------------------------------------
# Quality-blend curriculum assignment (z-scored composite → training phase)
# ---------------------------------------------------------------------------

def _z_sql(x: str, sx: str, sxx: str, n: str) -> str:
    """Engine-exact z-score: inputs are identical doubles on both sides."""
    return (
        f"(({x}) - {sx} / {n}) / "
        f"sqrt(({sxx} - {sx} * {sx} / {n}) / ({n} - 1))"
    )


@register(
    "quality_blend_curriculum",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), vocab AS (
      SELECT w, COUNT(*) AS tf FROM toks GROUP BY 1
    ), tot AS (SELECT SUM(tf) AS n_tokens FROM vocab),
    lp AS (
      SELECT t.doc_id,
             round(ln(CAST(v.tf AS DOUBLE) / n_tokens), 6) AS lpt
      FROM toks t JOIN vocab v USING (w) CROSS JOIN tot
    ), uni AS (
      SELECT doc_id,
             CAST(CAST(SUM(CAST(lpt AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
               / COUNT(*) AS raw_avg
      FROM lp GROUP BY 1
    ), feats AS (
      SELECT d.doc_id,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
             floor(len(list_filter(string_split(d.text, ' '),
                                   x -> x IN ('the', 'a', 'data', 'row', 'value')))
                   / CAST(len(string_split(d.text, ' ')) AS DOUBLE)
                   * 1e6 + 0.5) / 1e6 AS stop_ratio,
             floor(u.raw_avg * 1e6 + 0.5) / 1e6 AS avg_logprob
      FROM documents d JOIN uni u USING (doc_id)
    ), stats AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(n_words) AS DOUBLE) AS sx_w,
             CAST(SUM(n_words * n_words) AS DOUBLE) AS sxx_w,
             CAST(CAST(SUM(CAST(stop_ratio AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sx_s,
             CAST(CAST(SUM(CAST(stop_ratio * stop_ratio AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE) AS sxx_s,
             CAST(CAST(SUM(CAST(avg_logprob AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sx_l,
             CAST(CAST(SUM(CAST(avg_logprob * avg_logprob AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE) AS sxx_l
      FROM feats
    ), scored AS (
      SELECT doc_id, n_words, stop_ratio, avg_logprob,
             floor((({z_w}) + ({z_s}) + ({z_l})) / 3.0 * 1e6 + 0.5) / 1e6
               AS blend_score
      FROM feats CROSS JOIN stats
    )
    SELECT doc_id, n_words, stop_ratio, avg_logprob, blend_score,
           CAST(1 + (blend_score >= -0.5)::INT + (blend_score >= 0)::INT
                  + (blend_score >= 0.5)::INT AS INT) AS phase
    FROM scored
    """.replace("{z_w}", _z_sql("n_words", "sx_w", "sxx_w", "n"))
       .replace("{z_s}", _z_sql("stop_ratio", "sx_s", "sxx_s", "n"))
       .replace("{z_l}", _z_sql("avg_logprob", "sx_l", "sxx_l", "n")),
    doc="Curriculum assignment from a blended quality score: per-doc "
        "length, stopword ratio, and unigram-LM avg logprob are each "
        "z-scored against exact global moments (integer sums for "
        "counts; 6dp-floored values summed as DECIMAL for the ratios), "
        "averaged, and mapped to training phase 1-4 by FIXED z "
        "thresholds — row-local, so no global sort / ntile over the "
        "corpus (the scale trap of quantile-based curricula; for "
        "equi-depth phases use the histogram-threshold plan of "
        "length_quantile_buckets). One corpus scan + a 1-row stats "
        "broadcast on top of the unigram-LM subplan",
)
def q_quality_blend_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import STOPWORDS

    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    uni = q_unigram_logprob_score(spark, sf_dir).select(
        "doc_id",
        (F.floor((F.col("sum_logprob") / F.col("n_tokens")) * 1e6 + 0.5) / 1e6)
        .alias("avg_logprob"),
    )
    d = table(spark, sf_dir, "documents").withColumn("w", F.split("text", " "))
    feats = (
        d.select(
            "doc_id",
            F.size("w").cast("bigint").alias("n_words"),
            (
                F.floor(
                    F.size(F.expr(f"filter(w, x -> x IN ({sw}))"))
                    / F.size("w").cast("double") * 1e6 + 0.5
                ) / 1e6
            ).alias("stop_ratio"),
        )
        .join(uni, "doc_id")
    )
    # feats feeds both the global-moments aggregate and the scored
    # projection; un-materialized, each re-embeds the whole corpus +
    # unigram-LM subplan (8 corpus scans measured). The frame is
    # narrow (doc_id + 3 doubles) — materialize once.
    feats = truncate_lineage(feats)
    stats = feats.agg(
        F.count("*").alias("n"),
        F.sum("n_words").cast("double").alias("sx_w"),
        F.sum(F.col("n_words") * F.col("n_words")).cast("double").alias("sxx_w"),
        dsum("stop_ratio", "sx_s", dec="decimal(18,6)"),
        dsum("stop_ratio * stop_ratio", "sxx_s", dec="decimal(30,12)"),
        dsum("avg_logprob", "sx_l", dec="decimal(18,6)"),
        dsum("avg_logprob * avg_logprob", "sxx_l", dec="decimal(30,12)"),
    )

    def z(x: str, sx: str, sxx: str) -> F.Column:
        n = F.col("n")
        return (F.col(x) - F.col(sx) / n) / F.sqrt(
            (F.col(sxx) - F.col(sx) * F.col(sx) / n) / (n - 1)
        )

    blend = (
        F.floor(
            (z("n_words", "sx_w", "sxx_w")
             + z("stop_ratio", "sx_s", "sxx_s")
             + z("avg_logprob", "sx_l", "sxx_l")) / 3.0 * 1e6 + 0.5
        ) / 1e6
    )
    scored = feats.crossJoin(F.broadcast(stats)).select(
        "doc_id", "n_words", "stop_ratio", "avg_logprob",
        blend.alias("blend_score"),
    )
    phase = (
        F.lit(1)
        + (F.col("blend_score") >= -0.5).cast("int")
        + (F.col("blend_score") >= 0).cast("int")
        + (F.col("blend_score") >= 0.5).cast("int")
    )
    return scored.withColumn("phase", phase.cast("int"))


# ---------------------------------------------------------------------------
# Split-distribution divergence (train/val/test contamination-drift gate)
# ---------------------------------------------------------------------------

_SD_ORACLE = """
WITH toks AS (
  SELECT CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'f0'
                THEN 'train'
              WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'f8'
                THEN 'val'
              ELSE 'test' END AS split,
         unnest(string_split(text, ' ')) AS w
  FROM documents
), vocab AS (
  SELECT w,
         CAST(COUNT(*) FILTER (WHERE split = 'train') AS BIGINT) AS c_tr,
         CAST(COUNT(*) FILTER (WHERE split = 'val')   AS BIGINT) AS c_va,
         CAST(COUNT(*) FILTER (WHERE split = 'test')  AS BIGINT) AS c_te
  FROM toks GROUP BY w
), terms AS (
  SELECT c_tr, c_va, c_te,
         round((c_tr + 1) * ln(c_tr + 1.0), 6) AS a_tr_tr,
         round((c_va + 1) * ln(c_va + 1.0), 6) AS a_va_va,
         round((c_va + 1) * ln(c_tr + 1.0), 6) AS a_va_tr,
         round((c_te + 1) * ln(c_te + 1.0), 6) AS a_te_te,
         round((c_te + 1) * ln(c_tr + 1.0), 6) AS a_te_tr
  FROM vocab
), g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v,
         CAST(SUM(c_tr) AS BIGINT) AS n_tr,
         CAST(SUM(c_va) AS BIGINT) AS n_va,
         CAST(SUM(c_te) AS BIGINT) AS n_te,
         CAST(CAST(SUM(CAST(a_tr_tr AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS s_tr_tr,
         CAST(CAST(SUM(CAST(a_va_va AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS s_va_va,
         CAST(CAST(SUM(CAST(a_va_tr AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS s_va_tr,
         CAST(CAST(SUM(CAST(a_te_te AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS s_te_te,
         CAST(CAST(SUM(CAST(a_te_tr AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS s_te_tr
  FROM terms
)
SELECT 'train' AS split, n_tr AS n_tokens, v AS vocab_size,
       round((s_tr_tr - s_tr_tr) / CAST(n_tr + v AS DOUBLE)
             - ln(CAST(n_tr + v AS DOUBLE)) + ln(CAST(n_tr + v AS DOUBLE)), 6)
         AS kl_vs_train
FROM g
UNION ALL
SELECT 'val', n_va, v,
       round((s_va_va - s_va_tr) / CAST(n_va + v AS DOUBLE)
             - ln(CAST(n_va + v AS DOUBLE)) + ln(CAST(n_tr + v AS DOUBLE)), 6)
FROM g
UNION ALL
SELECT 'test', n_te, v,
       round((s_te_te - s_te_tr) / CAST(n_te + v AS DOUBLE)
             - ln(CAST(n_te + v AS DOUBLE)) + ln(CAST(n_tr + v AS DOUBLE)), 6)
FROM g
"""


@register(
    "split_divergence",
    oracle=_SD_ORACLE,
    doc="Unigram-distribution KL divergence of each hash split against "
        "train — the drift gate a training pipeline runs before shipping "
        "a new data mix (a val/test token distribution far from train "
        "invalidates held-out loss). Splits are the md5 assignment of "
        "hash_split_assign; distributions are add-one smoothed over the "
        "shared vocabulary. Exactness: KL(s||t) is expanded to "
        "(SUM((c_s+1)ln(c_s+1)) - SUM((c_s+1)ln(c_t+1)))/D_s "
        "- ln(D_s) + ln(D_t) with D_s = n_tokens_s + V, so every summed "
        "term is O(1)-or-larger magnitude (safe to round at 6dp, unlike "
        "raw p*log(p/q) terms ~1e-10 whose rounding would drown the "
        "signal or flip on engine ULP drift), then decimal-folded. "
        "Scale: one shuffle (token -> vocab rollup, map-side combine), "
        "a vocabulary-sized intermediate, one 1-row global fold, and the "
        "3 output rows exploded row-locally from that single row -- no "
        "joins anywhere; KL(train||train) is exactly 0.0 by construction "
        "on both engines.",
)
def q_split_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    b = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 2
    )
    split = F.when(b < "f0", "train").when(b < "f8", "val").otherwise("test")
    toks = d.select(split.alias("split"), F.explode(F.split("text", " ")).alias("w"))

    def cnt(s: str) -> F.Column:
        return F.sum(F.when(F.col("split") == s, 1).otherwise(0)).cast("bigint")

    vocab = toks.groupBy("w").agg(
        cnt("train").alias("c_tr"), cnt("val").alias("c_va"), cnt("test").alias("c_te")
    )

    def term(cs: str, ct: str) -> F.Column:
        return F.round(
            (F.col(cs) + 1).cast("double") * F.log((F.col(ct) + 1).cast("double")), 6
        )

    terms = vocab.select(
        "c_tr", "c_va", "c_te",
        term("c_tr", "c_tr").alias("a_tr_tr"),
        term("c_va", "c_va").alias("a_va_va"),
        term("c_va", "c_tr").alias("a_va_tr"),
        term("c_te", "c_te").alias("a_te_te"),
        term("c_te", "c_tr").alias("a_te_tr"),
    )

    def fold(c: str) -> F.Column:
        return dsum(F.col(c), dec="decimal(28,6)")

    g = terms.agg(
        F.count("*").cast("bigint").alias("v"),
        F.sum("c_tr").alias("n_tr"),
        F.sum("c_va").alias("n_va"),
        F.sum("c_te").alias("n_te"),
        fold("a_tr_tr").alias("s_tr_tr"),
        fold("a_va_va").alias("s_va_va"),
        fold("a_va_tr").alias("s_va_tr"),
        fold("a_te_te").alias("s_te_te"),
        fold("a_te_tr").alias("s_te_tr"),
    )

    def kl(ss: str, st: str, n: str) -> F.Column:
        ds = (F.col(n) + F.col("v")).cast("double")
        dtr = (F.col("n_tr") + F.col("v")).cast("double")
        return F.round((F.col(ss) - F.col(st)) / ds - F.log(ds) + F.log(dtr), 6)

    def row(name: str, n: str, ss: str, st: str) -> F.Column:
        return F.struct(
            F.lit(name).alias("split"),
            F.col(n).alias("n_tokens"),
            F.col("v").alias("vocab_size"),
            kl(ss, st, n).alias("kl_vs_train"),
        )

    rows = F.explode(F.array(
        row("train", "n_tr", "s_tr_tr", "s_tr_tr"),
        row("val", "n_va", "s_va_va", "s_va_tr"),
        row("test", "n_te", "s_te_te", "s_te_tr"),
    ))
    return g.select(rows.alias("r")).select("r.*")


# ---------------------------------------------------------------------------
# Cross-split leakage (held-out contamination via exact fingerprints)
# ---------------------------------------------------------------------------

_SL_ORACLE = """
WITH d AS (
  SELECT CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'f0'
                THEN 'train'
              WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'f8'
                THEN 'val'
              ELSE 'test' END AS split,
         md5(text) AS fp
  FROM documents
), per_fp AS (
  SELECT fp,
         CAST(COUNT(*) FILTER (WHERE split = 'train') AS BIGINT) AS n_tr,
         CAST(COUNT(*) FILTER (WHERE split = 'val')   AS BIGINT) AS n_va,
         CAST(COUNT(*) FILTER (WHERE split = 'test')  AS BIGINT) AS n_te
  FROM d GROUP BY fp
), g AS (
  SELECT CAST(SUM(n_va) AS BIGINT) AS n_va,
         CAST(SUM(n_te) AS BIGINT) AS n_te,
         CAST(SUM(CASE WHEN n_tr > 0 THEN n_va ELSE 0 END) AS BIGINT) AS l_va,
         CAST(SUM(CASE WHEN n_tr > 0 THEN n_te ELSE 0 END) AS BIGINT) AS l_te
  FROM per_fp
)
SELECT 'val' AS split, n_va AS n_docs, l_va AS n_leaked,
       round(CASE WHEN n_va > 0 THEN CAST(l_va AS DOUBLE) / n_va
                  ELSE 0.0 END, 6) AS leak_rate
FROM g
UNION ALL
SELECT 'test', n_te, l_te,
       round(CASE WHEN n_te > 0 THEN CAST(l_te AS DOUBLE) / n_te
                  ELSE 0.0 END, 6)
FROM g
"""


@register(
    "split_leakage",
    oracle=_SL_ORACLE,
    doc="Held-out contamination check: how many val/test documents have "
        "an exact-text twin (md5 fingerprint) inside train. The companion "
        "gate to decontaminate/decontaminate_ngram (those test against an "
        "EXTERNAL benchmark set; this audits the pipeline's own split "
        "boundary, where upstream exact-dup survivors leak evaluation "
        "answers into training). Scale: fingerprint + split tag are "
        "row-local, one shuffle groups by fingerprint (doc-count-sized, "
        "map-side combined), and the verdict is a 1-row global fold "
        "exploded into the two held-out rows -- no joins, same shape as "
        "dedup_exact so it rides the same 100 TB plan.",
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    b = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 2
    )
    split = F.when(b < "f0", "train").when(b < "f8", "val").otherwise("test")

    def cnt(s: str) -> F.Column:
        return F.sum(F.when(F.col("split") == s, 1).otherwise(0)).cast("bigint")

    per_fp = (
        d.select(split.alias("split"), F.md5("text").alias("fp"))
        .groupBy("fp")
        .agg(cnt("train").alias("n_tr"), cnt("val").alias("n_va"),
             cnt("test").alias("n_te"))
    )
    leaked = lambda c: F.sum(  # noqa: E731
        F.when(F.col("n_tr") > 0, F.col(c)).otherwise(0)
    ).cast("bigint")
    g = per_fp.agg(
        F.sum("n_va").cast("bigint").alias("n_va"),
        F.sum("n_te").cast("bigint").alias("n_te"),
        leaked("n_va").alias("l_va"),
        leaked("n_te").alias("l_te"),
    )

    def row(name: str, n: str, l: str) -> F.Column:
        rate = F.when(
            F.col(n) > 0, F.round(F.col(l).cast("double") / F.col(n), 6)
        ).otherwise(F.lit(0.0))
        return F.struct(
            F.lit(name).alias("split"),
            F.col(n).alias("n_docs"),
            F.col(l).alias("n_leaked"),
            rate.alias("leak_rate"),
        )

    rows = F.explode(F.array(row("val", "n_va", "l_va"), row("test", "n_te", "l_te")))
    return g.select(rows.alias("r")).select("r.*")


# ---------------------------------------------------------------------------
# Windowed PMI co-occurrence (distributional word statistics)
# ---------------------------------------------------------------------------

_PMI_ORACLE = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), tok AS (
  SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS pos FROM d
), tok2 AS (
  SELECT doc_id, pos, ws[pos] AS w FROM tok
), pairs AS (
  SELECT least(t1.w, t2.w) AS a, greatest(t1.w, t2.w) AS b
  FROM tok2 t1 JOIN tok2 t2
    ON t1.doc_id = t2.doc_id
   AND t2.pos BETWEEN t1.pos + 1 AND t1.pos + 3
), pc AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab FROM pairs GROUP BY 1, 2
), uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c_w
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY 1
), tot AS (
  SELECT (SELECT CAST(SUM(c_w) AS BIGINT) FROM uni) AS n_tokens,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_pairs
)
SELECT pc.a, pc.b, pc.c_ab,
       round(ln(CAST(pc.c_ab AS DOUBLE)) - ln(CAST(t.n_pairs AS DOUBLE))
             - ln(CAST(ua.c_w AS DOUBLE)) - ln(CAST(ub.c_w AS DOUBLE))
             + 2 * ln(CAST(t.n_tokens AS DOUBLE)), 6) AS pmi
FROM pc
JOIN uni ua ON ua.w = pc.a
JOIN uni ub ON ub.w = pc.b
CROSS JOIN tot t
WHERE pc.c_ab >= 5
"""

#: Row-local windowed pairs: for 1-based position p, partners at
#: positions p+1..p+3; canonicalized (least, greatest) for symmetry.
_PMI_PAIRS = """
flatten(
  transform(ws, (x, i) ->
    transform(slice(ws, i + 2, 3), y ->
      struct(least(x, y) AS a, greatest(x, y) AS b))))
"""


@register(
    "pmi_cooccurrence",
    oracle=_PMI_ORACLE,
    doc="Pointwise mutual information of word pairs co-occurring within "
        "a 3-token window — the distributional statistic under "
        "word2vec-era embeddings (SGNS factorizes the shifted PMI "
        "matrix) and collocation mining. Pair generation is ROW-LOCAL "
        "(transform+slice over the token array, the pairs.py pattern) "
        "-- no positional self-join on the Spark side, one shuffle to "
        "the vocabulary^2-bounded pair rollup; unigram counts broadcast "
        "back. Exactness: PMI = ln c_ab - ln T - ln c_a - ln c_b "
        "+ 2 ln N, every term an ln of an exact integer computed "
        "identically on both engines, rounded at 6dp only at the end; "
        "c_ab >= 5 floor kills the noisy tail (standard practice).",
)
def q_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    pairs = d.select(F.explode(F.expr(_PMI_PAIRS)).alias("p")).select("p.a", "p.b")
    # Both vocabulary-sized aggregates feed multiple consumers — the
    # pair counts (threshold filter + corpus pair total) and the unigram
    # counts (both join sides + token total). Materialize each once and
    # derive the totals FROM them: the corpus is scanned exactly twice
    # (pair explosion, token explosion) instead of five times.
    pc = truncate_lineage(
        pairs.groupBy("a", "b").agg(F.count("*").cast("bigint").alias("c_ab"))
    )
    uni = truncate_lineage(
        d.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("c_w"))
    )
    tot = pc.agg(F.sum("c_ab").cast("bigint").alias("n_pairs")).crossJoin(
        F.broadcast(uni.agg(F.sum("c_w").cast("bigint").alias("n_tokens")))
    )
    ua = uni.select(F.col("w").alias("a"), F.col("c_w").alias("c_a"))
    ub = uni.select(F.col("w").alias("b"), F.col("c_w").alias("c_b"))
    pmi = F.round(
        F.log(F.col("c_ab").cast("double"))
        - F.log(F.col("n_pairs").cast("double"))
        - F.log(F.col("c_a").cast("double"))
        - F.log(F.col("c_b").cast("double"))
        + 2 * F.log(F.col("n_tokens").cast("double")),
        6,
    )
    return (
        pc.filter(F.col("c_ab") >= 5)
        .join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(tot))
        .select("a", "b", "c_ab", pmi.alias("pmi"))
    )


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (Efraimidis–Spirakis A-ES)
# ---------------------------------------------------------------------------

_AES_ORACLE = """
WITH h AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
         substr(md5('aes:' || CAST(doc_id AS VARCHAR)), 1, 8) AS hx
  FROM documents
), u AS (
  SELECT doc_id, source, w,
         list_sum(list_transform(range(1, 9), i ->
           (strpos('0123456789abcdef', substr(hx, i, 1)) - 1)
           * power(16.0, -i))) AS uu
  FROM h
), k AS (
  -- w > 0 guard on BOTH sides: a zero-weight doc has selection
  -- probability 0 under A-ES, and -ln(u)/0 is NULL in Spark vs inf in
  -- DuckDB with opposite NULL ordering — a guaranteed divergence
  SELECT doc_id, source, w,
         round(-ln(uu + 1.1641532182693481e-10) / w, 7) AS key
  FROM u WHERE w > 0
)
SELECT source, doc_id, w, key,
       CAST(rk AS INT) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY key ASC, doc_id ASC) AS rk
  FROM k
) WHERE rk <= 20
"""


@register(
    "weighted_sample_aes",
    oracle=_AES_ORACLE,
    doc="Weighted sampling without replacement (Efraimidis-Spirakis "
        "A-ES): top-20 documents per source under weight n_chars, via "
        "the exponential sort key -ln(u)/w -- selection probability "
        "proportional to weight, one pass, no rejection loop. u is NOT "
        "an RNG draw: the first 8 md5 hex digits fold into a dyadic "
        "double (each digit*16^-i term and their sum are EXACT binary "
        "floats), so u is bit-identical on both engines and under any "
        "retry/re-partitioning -- Spark's rand() is neither. The sort "
        "key is rounded at 7dp before ranking with a doc_id tiebreak "
        "(repo convention: never rank raw transcendental output; any "
        "7dp collision resolves identically on both engines). Scale: "
        "row-local key build over the scan, one shuffle for the "
        "per-source top-k window -- the same shape as group_sample_topk "
        "but weight-aware; +2^-33 guards ln(0) without disturbing the "
        "dyadic exactness of u.",
)
def q_weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    hx = F.substring(
        F.md5(F.concat(F.lit("aes:"), F.col("doc_id").cast("string"))), 1, 8
    )
    u = F.expr(
        "aggregate(transform(sequence(1, 8), i -> "
        "(instr('0123456789abcdef', substring(_hx, i, 1)) - 1)"
        " * pow(16.0D, -cast(i as double))), cast(0.0 as double), (acc, x) -> acc + x)"
    )
    key = F.round(-F.log(F.col("_u") + F.lit(1.1641532182693481e-10)) / F.col("w"), 7)
    scored = (
        d.select(
            "doc_id", "source",
            F.col("n_chars").cast("bigint").alias("w"),
            hx.alias("_hx"),
        )
        .filter(F.col("w") > 0)  # P(select)=0 for zero weight; see oracle
        .withColumn("_u", u)
        .select("doc_id", "source", "w", key.alias("key"))
    )
    w = Window.partitionBy("source").orderBy(F.col("key").asc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 20)
        .select("source", "doc_id", "w", "key", "rk")
    )


# ---------------------------------------------------------------------------
# Multinomial Naive Bayes language classifier (train + score + confusion)
# ---------------------------------------------------------------------------

_NB_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang AS actual_lang,
         unnest(string_split(text, ' ')) AS w
  FROM documents
), cnt AS (
  SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY 1, 2
), langs AS (
  SELECT lang,
         CAST(SUM(c) AS BIGINT) AS n_tok,
         (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) FROM cnt) AS v
  FROM cnt GROUP BY 1
), priors AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1
), docn AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_d FROM toks GROUP BY 1
), terms AS (
  SELECT t.doc_id, t.actual_lang, l.lang,
         round(ln(COALESCE(c.c, 0) + 1.0), 6) AS term
  FROM toks t
  CROSS JOIN langs l
  LEFT JOIN cnt c ON c.lang = l.lang AND c.w = t.w
), folded AS (
  SELECT doc_id, actual_lang, lang,
         CAST(CAST(SUM(CAST(term AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
           AS s_like
  FROM terms GROUP BY 1, 2, 3
), scored AS (
  SELECT f.doc_id, f.actual_lang, f.lang,
         round(f.s_like
               - round(d.n_d * ln(CAST(l.n_tok + l.v AS DOUBLE)), 6)
               + round(ln(CAST(p.n_docs AS DOUBLE)), 6), 6) AS score
  FROM folded f
  JOIN docn d USING (doc_id)
  JOIN langs l ON l.lang = f.lang
  JOIN priors p ON p.lang = f.lang
), pred AS (
  SELECT doc_id, actual_lang, lang AS pred_lang
  FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, lang ASC) AS rk
    FROM scored
  ) WHERE rk = 1
)
SELECT actual_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred GROUP BY 1, 2
"""


@register(
    "nb_lang_confusion",
    oracle=_NB_ORACLE,
    doc="Multinomial Naive Bayes language classifier, trained AND scored "
        "as pure relational algebra: add-one-smoothed per-language word "
        "likelihoods, document log-likelihood "
        "sum(ln(c_wl+1)) - n_d*ln(N_l+V) + ln(prior), argmax language "
        "per doc, confusion-matrix output -- distributed ML with an "
        "exact cross-engine oracle, complementing the numpy/spark.ml "
        "family that cannot have one. Exactness: per-occurrence terms "
        "ln(c+1) are O(1)+ magnitude, rounded 6dp, decimal-folded per "
        "(doc, lang); the analytic corrections are single rounded "
        "terms; argmax breaks exact score ties by language name "
        "identically on both engines. Scale: token stream joins the "
        "BROADCAST (vocab x langs) count table -- constant "
        "|langs|-factor expansion, two shuffles ((doc,lang) fold, then "
        "doc argmax), and the confusion rollup is |langs|^2. Smoothing "
        "handles unseen (w, lang) pairs via the left join's COALESCE 0.",
)
def q_nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.col("lang").alias("actual_lang"),
        F.explode(F.split("text", " ")).alias("w"),
    )
    # (lang, word) count table feeds three consumers (vocab size,
    # per-language totals, the smoothed-likelihood join) — materialize
    # the vocabulary-sized aggregate once instead of re-embedding the
    # corpus tokenize 3×.
    cnt = truncate_lineage(
        d.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    # vocabulary size as a 1-row broadcast, NOT an eager .count() at
    # plan-build time (the driver-action anti-pattern: extra job per
    # construction, opaque to Catalyst)
    vtab = cnt.agg(F.countDistinct("w").cast("bigint").alias("v"))
    langs = (
        cnt.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n_tok"))
        .crossJoin(F.broadcast(vtab))
    )
    priors = d.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_docs"))
    lang_list = langs.select("lang")
    # token x language grid with smoothed counts (broadcast count table)
    grid = (
        toks.crossJoin(F.broadcast(lang_list.withColumnRenamed("lang", "l")))
        .join(
            F.broadcast(cnt.select(F.col("lang").alias("l"), "w", "c")),
            ["l", "w"], "left",
        )
        .select(
            "doc_id", "actual_lang", F.col("l").alias("lang"),
            F.round(F.log(F.coalesce(F.col("c"), F.lit(0)) + 1.0), 6)
            .alias("term"),
        )
    )
    folded = grid.groupBy("doc_id", "actual_lang", "lang").agg(
        dsum(F.col("term"), dec="decimal(28,6)").alias("s_like"),
        # grid has exactly one row per (token, language), so this group
        # count IS the document's token count — no separate docn
        # aggregation (which re-embedded the tokenize subtree)
        F.count("*").cast("bigint").alias("n_d"),
    )
    scored = (
        folded.join(F.broadcast(langs), "lang")
        .join(F.broadcast(priors), "lang")
        .select(
            "doc_id", "actual_lang", "lang",
            F.round(
                F.col("s_like")
                - F.round(
                    F.col("n_d")
                    * F.log((F.col("n_tok") + F.col("v")).cast("double")), 6
                )
                + F.round(F.log(F.col("n_docs").cast("double")), 6),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang").asc()
    )
    pred = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("actual_lang", F.col("lang").alias("pred_lang"))
    )
    return pred.groupBy("actual_lang", "pred_lang").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
