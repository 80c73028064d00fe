"""Market-basket pair mining (SURVEY.md §2.3 A8/A9).

Reference semantics (dashboard.py:205-218, EDA.ipynb:3349-3396): for each
sale, every 2-combination of the SORTED, NON-DEDUPLICATED item-name list
(so self-pairs like (notepad, notepad) occur and multiplicity counts);
"probability" = pair_count / total_sales, which can exceed 1 by design.

Spark-first design: the reference materializes every sale client-side and
loops with itertools.combinations. Here the combinations are generated
INSIDE each row — no self-join, no extra shuffle; the only shuffle is the
final groupBy(product_1, product_2), whose cardinality is bounded by
|products|², not by data size. This is the plan that survives 100 TB.

The row-local expansion is one generator per combination level:
``posexplode`` yields each name x with its position i, then
``explode(slice(names, i + 2, size))`` yields every later name y — the
(i, j>i) pairs, positions not values, so duplicates and self-pairs keep
their multiplicity exactly as itertools.combinations does (triples add
one more level). Generators over plain arrays and ``slice`` run inside
whole-stage codegen; the equivalent ``flatten(transform(...))`` lambdas
have no generated code (``CodegenFallback``) and are interpreted
element by element.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table

def pairs_of(df: DataFrame) -> DataFrame:
    """All (i, j>i) pairs of the array column ``item_names``, one row
    each as ``product_1``, ``product_2`` (other columns are dropped)."""
    return (
        df.selectExpr("posexplode(item_names) AS (_i, product_1)",
                      "item_names")
        .selectExpr("product_1", "explode(slice(item_names, _i + 2, "
                                 "size(item_names))) AS product_2")
    )


def pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """product_1 × product_2 → pair_count, probability (ref semantics).

    Builds the per-sale sorted name array directly from
    lineitem ⋈ broadcast(part) — NOT via the full ``tickets`` view, whose
    orders/customer joins contribute nothing to pair counts (measured 2×
    on the bench). One shuffle total (groupBy orderkey); the final pair
    aggregation is bounded by |products|², independent of data size.
    """
    lineitem = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_name")
    total = table(spark, sf_dir, "orders").agg(
        F.count("*").cast("double").alias("_total_sales")
    )
    baskets = (
        lineitem
        .join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        # sorted array → non-decreasing names → product_1 <= product_2
        # for every generated pair (matches the reference's sorted() call,
        # dashboard.py:209).
        .agg(F.array_sort(F.collect_list("p_name")).alias("item_names"))
    )
    pairs = (
        pairs_of(baskets)
        .groupBy("product_1", "product_2")
        .agg(F.count("*").alias("pair_count"))
    )
    return (
        pairs.crossJoin(F.broadcast(total))
        .select(
            "product_1", "product_2", "pair_count",
            (F.col("pair_count") / F.col("_total_sales")).alias("probability"),
        )
    )


def top_pairs_per_product(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Top-K co-purchased products per product_1 (ref dashboard.py:440-441)
    with a deterministic tie-break (count desc, then product_2)."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("product_1")
        .orderBy(F.desc("pair_count"), F.asc("product_2"))
    )
    return (
        pair_counts(spark, sf_dir)
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
    )


def triples_of(df: DataFrame) -> DataFrame:
    """All (i, j>i, k>j) triples of the array column ``names``, one row
    each as ``a``, ``b``, ``c`` (other columns are dropped). b sits at
    position i + 1 + j, so c's slice starts one past it."""
    return (
        df.selectExpr("posexplode(names) AS (_i, a)", "names")
        .selectExpr("a", "_i", "names",
                    "posexplode(slice(names, _i + 2, size(names))) AS (_j, b)")
        .selectExpr("a", "b",
                    "explode(slice(names, _i + _j + 3, size(names))) AS c")
    )


def triple_counts_topk(spark: SparkSession, sf_dir: str, k: int = 50) -> DataFrame:
    """Top-K most frequent 3-itemsets (distinct per-basket products,
    a<b<c canonical order) — the next market-basket order above A8's
    pairs. Triples are generated ROW-LOCALLY by :func:`triples_of`
    (C(|basket|,3) per row, baskets are small); the
    only shuffle is the triple rollup, bounded by |products|^3 —
    independent of order volume. Deterministic (count desc, a, b, c)
    rank; the K winners come from a distributed sort+limit
    (TakeOrdered — per-partition top-K then a K-sized merge), NOT a
    global row_number window, which would single-partition the
    |products|^3 relation; the rank window then touches only the K
    survivors."""
    from pyspark.sql.window import Window

    lineitem = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_name")
    baskets = (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.array_distinct(F.collect_list("p_name"))).alias("names"))
    )
    triples = (
        triples_of(baskets)
        .groupBy("a", "b", "c")
        .agg(F.count("*").cast("bigint").alias("n_baskets"))
    )
    order = [
        F.col("n_baskets").desc(), F.col("a").asc(),
        F.col("b").asc(), F.col("c").asc(),
    ]
    topk = triples.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return topk.withColumn("rk", F.row_number().over(w).cast("int"))


ORACLE_TRIPLES_TOPK = """
WITH items AS (
  SELECT DISTINCT l_orderkey, p_name
  FROM lineitem JOIN part ON p_partkey = l_partkey
), triples AS (
  SELECT x.p_name AS a, y.p_name AS b, z.p_name AS c,
         CAST(COUNT(*) AS BIGINT) AS n_baskets
  FROM items x
  JOIN items y ON y.l_orderkey = x.l_orderkey AND y.p_name > x.p_name
  JOIN items z ON z.l_orderkey = x.l_orderkey AND z.p_name > y.p_name
  GROUP BY 1, 2, 3
)
SELECT a, b, c, n_baskets, CAST(rk AS INT) AS rk FROM (
  SELECT *, row_number() OVER (ORDER BY n_baskets DESC, a, b, c) AS rk
  FROM triples
) WHERE rk <= 50
"""
