"""Scalar-function surface beyond the reference (SURVEY.md §2.7 notes
the reference uses no string/regex/math functions at query time — an
engine a user switches to still needs them). Everything here is a pure
JVM expression inside whole-stage codegen; each query is oracle-exact.

Cross-engine exactness rules: string ops are byte-exact; math is
restricted to operations with exact results on the inputs (round/floor/
ceil/abs/mod on 2dp decimals); percentiles use linear interpolation on
identical doubles (same formula in Spark `percentile` and DuckDB
`quantile_cont`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.money import oracle_dsum
from .registry import register


@register(
    "string_functions",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           lower(p_brand) AS brand_lower,
           CAST(length(p_name) AS INT) AS name_len,
           substring(p_name, 1, 5) AS name_prefix,
           regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
           CAST(len(string_split(p_name, ' ')) AS INT) AS n_words,
           replace(p_name, ' ', '_') AS snake_name,
           concat(p_brand, ':', p_name) AS brand_name,
           trim(concat(' ', p_name, ' ')) AS trimmed,
           lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS padded_key,
           contains(p_name, 'a') AS has_a,
           starts_with(p_name, 's') AS starts_s
    FROM part
    """,
    doc="String-function surface: case, length, substring, regex extract, "
        "split, replace, concat, trim, pad, contains/startswith — all "
        "codegen'd JVM expressions over one pruned scan",
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.length("p_name").cast("int").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.regexp_extract("p_name", "^([a-z]+)", 1).alias("first_word"),
        F.size(F.split("p_name", " ")).cast("int").alias("n_words"),
        F.regexp_replace("p_name", " ", "_").alias("snake_name"),
        F.concat_ws(":", "p_brand", "p_name").alias("brand_name"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias("trimmed"),
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("padded_key"),
        F.col("p_name").contains("a").alias("has_a"),
        F.col("p_name").startswith("s").alias("starts_s"),
    )


@register(
    "quantity_percentiles",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           median(l_quantity) AS median_qty,
           quantile_cont(l_quantity, 0.25) AS p25_qty,
           quantile_cont(l_quantity, 0.90) AS p90_qty,
           min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
    doc="Exact percentiles per group: median / p25 / p90 via Spark's "
        "exact `percentile` (linear interpolation — same formula as "
        "DuckDB quantile_cont, bit-identical on identical inputs). For "
        "100 TB profiling swap in approx_percentile; the exact form is "
        "the oracle-checkable contract",
)
def q_quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n"),
            F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
            F.percentile("l_quantity", F.lit(0.25)).alias("p25_qty"),
            F.percentile("l_quantity", F.lit(0.90)).alias("p90_qty"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
        )
    )


@register(
    "math_functions",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice, 1) AS price_round1,
           CAST(floor(l_extendedprice) AS DOUBLE) AS price_floor,
           CAST(ceil(l_extendedprice) AS DOUBLE) AS price_ceil,
           abs(l_quantity - 25.0) AS qty_dev,
           CAST(sign(l_quantity - 25.0) AS DOUBLE) AS qty_sign,
           CAST(l_orderkey % 7 AS BIGINT) AS key_mod7,
           greatest(l_quantity, 10.0) AS qty_floor10,
           least(l_quantity, 40.0) AS qty_cap40
    FROM lineitem
    """,
    doc="Math-function surface restricted to cross-engine-exact ops: "
        "round/floor/ceil on 2dp money, abs/sign/mod/greatest/least "
        "(transcendentals excluded on purpose — libm results are not "
        "bit-portable, so they stay out of the oracle contract)",
)
def q_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_round1"),
        F.floor("l_extendedprice").cast("double").alias("price_floor"),
        F.ceil("l_extendedprice").cast("double").alias("price_ceil"),
        F.abs(F.col("l_quantity") - 25.0).alias("qty_dev"),
        F.signum(F.col("l_quantity") - 25.0).alias("qty_sign"),
        (F.col("l_orderkey") % 7).alias("key_mod7"),
        F.greatest("l_quantity", F.lit(10.0)).alias("qty_floor10"),
        F.least("l_quantity", F.lit(40.0)).alias("qty_cap40"),
    )


@register(
    "json_props_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events GROUP BY 1
    """,
    doc="Query-time JSON extraction (engine surface; the reference's "
        "extended-JSON handling is ingest-only): get_json_object over the "
        "events.props payload + integer aggregation — JSON path "
        "evaluation stays JVM-side in codegen. For hot paths, from_json "
        "with an explicit schema (see sources/ingest.py) beats repeated "
        "path extraction",
)
def q_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "grouping_sets_explicit",
    oracle=f"""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
           COUNT(*) AS n, {oracle_dsum('o_totalprice', 'total_revenue')}
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
    doc="Explicit GROUPING SETS ((status), (priority)) — the irregular "
        "case cube/rollup can't express: two independent one-column "
        "grains in a single pass (completes the grouping-set family "
        "with cube_status_priority and status_priority_rollup)",
)
def q_grouping_sets_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark_ = spark
    from ..catalog import table as _t

    # SQL-text twin of money.dsum's BIGINT-cents path: spark.sql takes
    # no computed Column, and this query exercises the SQL surface
    return spark_.sql("""
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT) AS gid,
               COUNT(*) AS n,
               CAST(CAST(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                              AS DECIMAL(38,2)) / 100 AS STRING) AS DOUBLE)
                 AS total_revenue
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """, orders=_t(spark_, sf_dir, "orders"))


@register(
    "variant_props_extract",
    oracle="""
    WITH j AS (
      SELECT concat('{"p": ', props, ', "t": "', event_type, '"}') AS s
      FROM events
    )
    SELECT json_extract_string(s, '$.t') AS event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract_string(s, '$.p.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(MIN(CAST(json_extract_string(s, '$.p.k') AS BIGINT))
                AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract_string(s, '$.p.k') AS BIGINT))
                AS BIGINT) AS max_k,
           CAST(count(json_extract_string(s, '$.p.zzz')) AS BIGINT)
             AS n_missing_path
    FROM j GROUP BY 1
    """,
    doc="Semi-structured VARIANT surface (Spark 4): the payload is "
        "parse_json'd ONCE into the binary VARIANT encoding, then typed "
        "fields come out via variant_get path extraction — nested path "
        "($.p.k), string leaf ($.t), and try_variant_get null semantics "
        "on a missing path. VARIANT is the lakehouse answer to "
        "schema-on-read: at 100 TB the one-time parse beats re-parsing "
        "the JSON string per path (json_props_extract is the string-"
        "path twin for comparison), and the binary encoding pushes "
        "through shuffles untouched. The nested document is built "
        "row-locally from props + event_type so the extraction "
        "exercises real structure, not a single-field object",
)
def q_variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    v = F.parse_json(F.concat(
        F.lit('{"p": '), "props", F.lit(', "t": "'), "event_type",
        F.lit('"}')))
    withv = e.select(v.alias("v"))
    k = F.variant_get("v", "$.p.k", "bigint")
    return (
        withv.groupBy(
            F.variant_get("v", "$.t", "string").alias("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
            F.count(F.try_variant_get("v", "$.p.zzz", "bigint"))
            .alias("n_missing_path"),
        )
    )
