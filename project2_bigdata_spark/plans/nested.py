"""Phase 2 — array / nested-document operators (SURVEY.md §2.3).

The document shape is rebuilt from the flat star schema by
``operators.salesviews.sales_nested`` (collect_list of structs per sale),
then each operator works on the array column exactly as the reference's
Mongo pipeline works on ``items``. Oracles are expressed over the flat
tables — relationally equivalent by construction of the nested view.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.datetime_utils import sale_date
from ..functions.money import oracle_dsum
from ..operators.pairs import pair_counts, top_pairs_per_product
from ..operators.salesviews import sales_nested, tickets
from .registry import register


@register(
    "explode_items",
    oracle="""
    SELECT l_orderkey AS sale_id, p_name AS name,
           l_extendedprice AS revenue, l_quantity AS quantity
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
    doc="A1/A2: $unwind — explode the items array back to one row per line "
        "item (ref dashboard.py:73; inner-explode drops empty arrays, "
        "matching preserveNullAndEmptyArrays:False)",
)
def q_explode_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    nested = sales_nested(spark, sf_dir)
    return nested.select(
        "sale_id", F.explode("items").alias("item")
    ).select(
        "sale_id",
        F.col("item.name").alias("name"),
        F.col("item.revenue").alias("revenue"),
        F.col("item.quantity").alias("quantity"),
    )


@register(
    "items_array_stats",
    oracle="""
    SELECT l_orderkey AS sale_id,
           COUNT(*) AS num_items,
           COUNT(DISTINCT p_name) AS n_products
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1
    """,
    doc="A3/A4/A7: $map + $setUnion + $size on the items array — distinct "
        "product count per sale (ref dashboard.py:177-190) computed row-"
        "locally with array functions, zero shuffle beyond the view build",
)
def q_items_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    nested = sales_nested(spark, sf_dir)
    return nested.select(
        "sale_id",
        F.size("items").cast("bigint").alias("num_items"),
        F.size(F.array_distinct(F.expr("transform(items, x -> x.name)")))
        .cast("bigint").alias("n_products"),
    )


@register(
    "hours_per_day",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS date,
           COUNT(DISTINCT extract(hour FROM ts)) AS n_hours
    FROM events GROUP BY 1
    """,
    doc="A6: $addToSet — distinct set of active hours per day over events "
        "(ref dashboard.py:674); size(collect_set) ≡ countDistinct",
)
def q_hours_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(sale_date("ts").alias("date"))
        .agg(F.size(F.collect_set(F.hour("ts"))).cast("bigint").alias("n_hours"))
    )


@register(
    "pair_counts",
    oracle="""
    WITH items AS (
      SELECT l_orderkey AS okey, p_name AS name,
             row_number() OVER (PARTITION BY l_orderkey ORDER BY p_name) AS rn
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    pairs AS (
      SELECT a.name AS product_1, b.name AS product_2, COUNT(*) AS pair_count
      FROM items a JOIN items b ON a.okey = b.okey AND a.rn < b.rn
      GROUP BY 1, 2
    )
    SELECT product_1, product_2, pair_count,
           pair_count / (SELECT CAST(COUNT(*) AS DOUBLE) FROM orders) AS probability
    FROM pairs
    """,
    doc="A8: market-basket pair mining with reference multiplicity semantics "
        "(self-pairs allowed, probability can exceed 1 — ref EDA.ipynb cell "
        "46). Row-local combination generation, no self-join shuffle.",
)
def q_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pair_counts(spark, sf_dir)


@register(
    "top_pairs_per_product",
    oracle="""
    WITH items AS (
      SELECT l_orderkey AS okey, p_name AS name,
             row_number() OVER (PARTITION BY l_orderkey ORDER BY p_name) AS rn
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    pairs AS (
      SELECT a.name AS product_1, b.name AS product_2, COUNT(*) AS pair_count
      FROM items a JOIN items b ON a.okey = b.okey AND a.rn < b.rn
      GROUP BY 1, 2
    ),
    prob AS (
      SELECT product_1, product_2, pair_count,
             pair_count / (SELECT CAST(COUNT(*) AS DOUBLE) FROM orders) AS probability
      FROM pairs
    )
    SELECT * FROM (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY product_1 ORDER BY pair_count DESC, product_2) AS INT) AS rnk
      FROM prob
    ) WHERE rnk <= 10
    """,
    doc="A9/O3/W2: top-10 co-purchases per product via ranking window "
        "(ref dashboard.py:440-441), deterministic tie-break",
)
def q_top_pairs_per_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    return top_pairs_per_product(spark, sf_dir, k=10)


@register(
    "ticket_reassembly",
    oracle=f"""
    WITH item_rollup AS (
      SELECT l_orderkey,
             {oracle_dsum('l_extendedprice', 'total_revenue')},
             COUNT(*) AS num_items
      FROM lineitem GROUP BY 1
    )
    SELECT o_orderkey AS sale_id,
           strftime(o_orderdate, '%Y-%m-%d') AS sale_date,
           c_name AS customer_email,
           c_mktsegment AS customer_segment,
           CAST(CAST(floor(abs(c_acctbal)) AS BIGINT) % 5 + 1 AS INT) AS satisfaction,
           n_name AS store,
           o_orderpriority AS purchase_method,
           o_orderstatus AS status,
           total_revenue, num_items
    FROM orders
    JOIN item_rollup ON o_orderkey  = l_orderkey
    JOIN customer    ON o_custkey   = c_custkey
    JOIN nation      ON c_nationkey = n_nationkey
    """,
    doc="G4/A5/P9: full ticket view — per-sale totals + customer struct "
        "fields + store (ref dfc, dashboard.py:459-497). Scalar projection "
        "of the tickets view (the items array itself is exercised by "
        "explode_items / pair mining).",
)
def q_ticket_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tickets(spark, sf_dir)
    return t.select(
        "sale_id",
        sale_date("sale_ts").alias("sale_date"),
        "customer_email", "customer_segment", "satisfaction", "store",
        "purchase_method", "status", "total_revenue", "num_items",
    )


@register(
    "ticket_revenue_arrayfold",
    oracle="""
    SELECT l_orderkey AS sale_id,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
             AS ticket_revenue
    FROM lineitem GROUP BY 1
    """,
    doc="G4-alt (SURVEY.md §4.2): ticket revenue via the aggregate() "
        "higher-order function over the items array — row-local fold, "
        "no re-shuffle of an already-nested relation",
)
def q_ticket_revenue_arrayfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    nested = sales_nested(spark, sf_dir)
    return nested.select(
        "sale_id",
        F.expr(
            "cast(cast(aggregate(items, cast(0 as decimal(18,2)), "
            "(acc, x) -> cast(acc + cast(x.revenue as decimal(18,2)) as decimal(18,2))) "
            "as string) as double)"
        ).alias("ticket_revenue"),
    )


@register(
    "posexplode_items",
    oracle="""
    WITH nested AS (
      SELECT l_orderkey AS sale_id,
             list_sort(list(p_name ORDER BY p_name, l_linenumber)) AS names
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1
    )
    SELECT sale_id, CAST(u AS INT) AS pos, names[u + 1] AS name
    FROM (SELECT sale_id, names, unnest(range(len(names))) AS u FROM nested)
    """,
    doc="A1 variant — posexplode: unwind WITH the element's array "
        "position (0-based), over the deterministically-sorted items "
        "array. Position is what pair mining and windowed array ops key "
        "on; same inner-explode null/empty semantics as explode",
)
def q_posexplode_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    nested = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("l_orderkey").alias("sale_id"))
        .agg(F.array_sort(F.collect_list("p_name")).alias("names"))
    )
    return nested.select(
        "sale_id", F.posexplode("names").alias("pos", "name")
    ).select("sale_id", F.col("pos").cast("int"), "name")


@register(
    "association_rules",
    oracle="""
    WITH nested AS (
      SELECT l_orderkey, list_sort(list(p_name)) AS names
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1
    ), pairs AS (
      SELECT names[i] AS product_1, names[j] AS product_2, COUNT(*) AS pair_count
      FROM (SELECT names, unnest(range(1, len(names) + 1)) AS i FROM nested),
           LATERAL (SELECT unnest(range(i + 1, len(names) + 1)) AS j)
      GROUP BY 1, 2
    ), tot AS (SELECT SUM(pair_count) AS total_pairs FROM pairs),
    p1 AS (SELECT product_1, SUM(pair_count) AS p1_pairs FROM pairs GROUP BY 1),
    p2 AS (SELECT product_2, SUM(pair_count) AS p2_pairs FROM pairs GROUP BY 1)
    SELECT pr.product_1, pr.product_2, pr.pair_count,
           pr.pair_count / CAST(total_pairs AS DOUBLE) AS support,
           pr.pair_count / CAST(p1_pairs AS DOUBLE) AS confidence,
           (pr.pair_count * CAST(total_pairs AS DOUBLE)) / (p1_pairs * CAST(p2_pairs AS DOUBLE))
             AS lift
    FROM pairs pr JOIN p1 USING (product_1) JOIN p2 USING (product_2)
    CROSS JOIN tot
    WHERE pr.pair_count >= 5
    """,
    doc="Association rules over the A8 pair relation: support, "
        "confidence, lift per ordered pair (min pair_count 5). All "
        "three metrics are single divisions of exact integer counts — "
        "bit-deterministic. Marginals and the grand total are "
        "broadcast-sized (|products| and 1 row), so the extension costs "
        "two broadcast joins over pair_counts' existing plan",
)
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pairs import pair_counts

    pairs = pair_counts(spark, sf_dir).select("product_1", "product_2", "pair_count")
    tot = pairs.agg(F.sum("pair_count").cast("double").alias("total_pairs"))
    p1 = pairs.groupBy("product_1").agg(F.sum("pair_count").alias("p1_pairs"))
    p2 = pairs.groupBy("product_2").agg(F.sum("pair_count").alias("p2_pairs"))
    return (
        pairs.join(F.broadcast(p1), "product_1")
        .join(F.broadcast(p2), "product_2")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("pair_count") >= 5)
        .select(
            "product_1", "product_2", "pair_count",
            (F.col("pair_count") / F.col("total_pairs")).alias("support"),
            (F.col("pair_count") / F.col("p1_pairs").cast("double")).alias("confidence"),
            (F.col("pair_count") * F.col("total_pairs")
             / (F.col("p1_pairs") * F.col("p2_pairs").cast("double"))).alias("lift"),
        )
    )
