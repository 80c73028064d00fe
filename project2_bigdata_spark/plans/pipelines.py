"""Phase 3 — the reference's three dashboard entry points (SURVEY.md §3)
re-expressed as single lazy DataFrame DAGs, plus the cross-pipeline
revenue-checksum consistency relation (generalizing the reference's
$9,894,572.27 eyeball check into an oracle-checked query).

Reference quirks fixed with documented deviation (SURVEY.md §2.11):
- metric-select if/if/else fallthrough (quirk 1) → proper branches here;
- dfc executed twice (quirk 2) → one shared lazy base per pipeline
  (Catalyst sees the whole tree; .cache() at the serving edge if reused).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.datetime_utils import sale_date
from ..functions.money import (
    cents, cents_to_double, dec_to_double, dsum, oracle_dsum,
)
from ..operators.salesviews import sale_lines, tickets
from .registry import register
from .relational import SALE_LINES_SQL


@register(
    "ep1_sales_overview",
    oracle=SALE_LINES_SQL + f"""
    , per_product AS (
      SELECT product,
             {oracle_dsum('revenue', 'total_revenue')},
             {oracle_dsum('quantity', 'total_units')},
             COUNT(DISTINCT sale_id) AS num_tickets
      FROM sale_lines
      WHERE sale_ts >= TIMESTAMP '1996-01-01' AND sale_ts < TIMESTAMP '1998-01-01'
      GROUP BY 1
    )
    SELECT product, total_revenue, total_units, num_tickets,
           total_revenue / CAST(SUM(CAST(total_revenue AS DECIMAL(18,2))) OVER () AS VARCHAR)::DOUBLE
             * 100 AS revenue_share_pct
    FROM per_product
    """,
    doc="EP1 (Sales tab, dashboard.py:279-457): date-range filter → "
        "per-product KPIs + revenue share %. One DAG: filter pushes to the "
        "parquet scan, share uses an unpartitioned window over the tiny "
        "aggregate (7..200 rows), not a second pass over the data",
)
def q_ep1_sales_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    sl = sale_lines(spark, sf_dir).filter(
        (F.col("sale_ts") >= "1996-01-01") & (F.col("sale_ts") < "1998-01-01")
    )
    per_product = sl.groupBy("product").agg(
        dsum("revenue", "total_revenue"),
        dsum("quantity", "total_units"),
        F.countDistinct("sale_id").alias("num_tickets"),
    )
    from pyspark.sql.window import Window

    total = dec_to_double(
        F.sum(F.col("total_revenue").cast("decimal(18,2)"))
        .over(Window.partitionBy())
    )
    return per_product.withColumn(
        "revenue_share_pct", F.col("total_revenue") / total * 100
    )


@register(
    "ep2_clients_by_store",
    oracle=f"""
    WITH item_rollup AS (
      SELECT l_orderkey, {oracle_dsum('l_extendedprice', 'ticket_revenue')}
      FROM lineitem GROUP BY 1
    )
    SELECT n_name AS store,
           COUNT(*) AS n_tickets,
           COUNT(DISTINCT c_name) AS n_customers,
           CAST(CAST(SUM(CAST(ticket_revenue AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
             AS total_revenue,
           SUM(CAST(CAST(floor(abs(c_acctbal)) AS BIGINT) % 5 + 1 AS BIGINT))
             / CAST(COUNT(*) AS DOUBLE) AS avg_satisfaction
    FROM orders
    JOIN item_rollup ON o_orderkey  = l_orderkey
    JOIN customer    ON o_custkey   = c_custkey
    JOIN nation      ON c_nationkey = n_nationkey
    GROUP BY 1
    """,
    doc="EP2 (Clients tab, dashboard.py:459-539): per-store ticket counts, "
        "distinct customers, revenue, avg satisfaction — the tickets view "
        "consumed once (fixes quirk 2's double execution)",
)
def q_ep2_clients_by_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tickets(spark, sf_dir)
    return t.groupBy("store").agg(
        F.count("*").alias("n_tickets"),
        F.countDistinct("customer_email").alias("n_customers"),
        dsum("total_revenue", "total_revenue"),
        (F.sum(F.col("satisfaction").cast("bigint")) / F.count("*"))
        .alias("avg_satisfaction"),
    )


@register(
    "ep3_forecast_series",
    oracle=SALE_LINES_SQL + f"""
    , daily AS (
      SELECT CAST(sale_ts AS DATE) AS date, product,
             {oracle_dsum('quantity', 'total_quantity')}
      FROM sale_lines GROUP BY 1, 2
    )
    SELECT product, strftime(date, '%Y-%m-%d') AS date, total_quantity,
           CAST(month(date) AS INT) AS month,
           CAST(isodow(date) - 1 AS INT) AS day_of_week,
           CAST(isodow(date) - 1 >= 5 AS INT) AS is_weekend,
           CAST(date <= (SELECT max(date) - INTERVAL 14 DAY FROM daily) AS INT)
             AS is_train
    FROM daily
    """,
    doc="EP3 (Forecasting tab, dashboard.py:636-736): per-product daily "
        "series + calendar features + train/test flag at cutoff "
        "max(date)-14d — the input relation to the lag stack (lag_features) "
        "and per-product model training (ml/)",
)
def q_ep3_forecast_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.datetime_utils import is_weekend, pandas_weekday

    daily = (
        sale_lines(spark, sf_dir)
        .groupBy(F.col("sale_ts").cast("date").alias("date"), "product")
        .agg(dsum("quantity", "total_quantity"))
    )
    cutoff = daily.agg(F.date_sub(F.max("date"), 14).alias("_cutoff"))
    return (
        daily.crossJoin(F.broadcast(cutoff))
        .select(
            "product", F.date_format("date", "yyyy-MM-dd").alias("date"),
            "total_quantity",
            F.month("date").alias("month"),
            pandas_weekday("date").alias("day_of_week"),
            is_weekend("date").alias("is_weekend"),
            (F.col("date") <= F.col("_cutoff")).cast("int").alias("is_train"),
        )
    )


@register(
    "revenue_checksum",
    oracle=f"""
    WITH daily AS (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS d,
             {oracle_dsum('l_extendedprice', 'r')}
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1
    ), ticket AS (
      SELECT l_orderkey, {oracle_dsum('l_extendedprice', 'r')}
      FROM lineitem GROUP BY 1
    ), cust AS (
      SELECT o_custkey, {oracle_dsum('l_extendedprice', 'r')}
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1
    )
    SELECT
      (SELECT CAST(CAST(SUM(CAST(r AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) FROM daily)
        AS daily_total,
      (SELECT CAST(CAST(SUM(CAST(r AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) FROM ticket)
        AS ticket_total,
      (SELECT CAST(CAST(SUM(CAST(r AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) FROM cust)
        AS customer_total
    """,
    doc="§5.2(2): the reference's cross-pipeline revenue checksum "
        "(9,894,572.27 eyeball test) generalized — revenue re-aggregated "
        "through daily, ticket, and customer grains must agree exactly "
        "(decimal summation makes this partition-order independent, which "
        "the reference's float sum is not)",
)
def q_revenue_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import table

    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)

    daily = joined.groupBy(sale_date("o_orderdate").alias("d")).agg(
        dsum("l_extendedprice", "r")
    )
    ticket = li.groupBy("l_orderkey").agg(dsum("l_extendedprice", "r"))
    cust = joined.groupBy("o_custkey").agg(dsum("l_extendedprice", "r"))

    def total(df: DataFrame, alias: str) -> DataFrame:
        return df.agg(dsum("r", alias))

    # 1-row aggregates: explicit broadcast so the scalar augment can
    # never plan as a non-broadcast nested-loop join (AQE rescues it at
    # sf0.1, but at scale a single slow plan here stalls the pipeline —
    # matches every sibling scalar-augment site, e.g. operators/pairs.py).
    return (
        total(daily, "daily_total")
        .crossJoin(F.broadcast(total(ticket, "ticket_total")))
        .crossJoin(F.broadcast(total(cust, "customer_total")))
    )


@register(
    "ep2_customer_drill",
    oracle="""
    WITH lines AS (
      SELECT o_custkey AS custkey, o_orderkey, o_orderdate, p_name AS product,
             l_extendedprice AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    JOIN part   ON l_partkey  = p_partkey
    ), fav_product AS (
      SELECT custkey, product AS fav_product, n AS fav_product_lines FROM (
        SELECT custkey, product, COUNT(*) AS n,
               row_number() OVER (PARTITION BY custkey
                                  ORDER BY COUNT(*) DESC, product) AS rn
        FROM lines GROUP BY 1, 2
      ) WHERE rn = 1
    ), per_ticket AS (
      SELECT custkey, o_orderkey, min(o_orderdate) AS d,
             SUM(CAST(revenue AS DECIMAL(18,2))) AS t_rev
      FROM lines GROUP BY 1, 2
    ), kpis AS (
      SELECT custkey, COUNT(*) AS n_tickets,
             CAST(CAST(SUM(t_rev) AS VARCHAR) AS DOUBLE) AS total_spent
      FROM per_ticket GROUP BY 1
    ), fav_day AS (
      SELECT custkey, day_name AS fav_weekday FROM (
        SELECT custkey, strftime(d, '%A') AS day_name, COUNT(*) AS n,
               row_number() OVER (PARTITION BY custkey
                                  ORDER BY COUNT(*) DESC, strftime(d, '%A')) AS rn
        FROM per_ticket GROUP BY 1, 2
      ) WHERE rn = 1
    )
    SELECT k.custkey, k.n_tickets, k.total_spent,
           f.fav_product, f.fav_product_lines, d.fav_weekday
    FROM kpis k JOIN fav_product f USING (custkey) JOIN fav_day d USING (custkey)
    """,
    doc="EP2 per-customer drilldown (ref dashboard.py:584-625), "
        "generalized from one selected email to ALL customers in one "
        "distributed pass: favorite product (Counter→argmax window), "
        "ticket count + exact total spend, favorite weekday (mode via "
        "argmax). The reference's per-customer Python loop becomes three "
        "branches over one shuffle key (custkey) joined at the end.",
)
def q_ep2_customer_drill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    p = table(spark, sf_dir, "part")
    # The 3-table fact join feeds two independent rollups (favourite
    # product, per-ticket KPIs) and the ticket rollup feeds two more —
    # as plain lineage the drill re-planned the lineitem⋈orders join
    # and scans per branch (3 lineitem scans measured). Materialize the
    # narrow joined lines once and the ticket-sized rollup once.
    from ..session import truncate_lineage

    lines = truncate_lineage(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(
            F.col("o_custkey").alias("custkey"), "o_orderkey", "o_orderdate",
            F.col("p_name").alias("product"),
            F.col("l_extendedprice").alias("revenue"),
        )
    )
    wprod = Window.partitionBy("custkey").orderBy(F.desc("n"), "product")
    fav_product = (
        lines.groupBy("custkey", "product").agg(F.count("*").alias("n"))
        .withColumn("rn", F.row_number().over(wprod))
        .filter(F.col("rn") == 1)
        .select("custkey", F.col("product").alias("fav_product"),
                F.col("n").alias("fav_product_lines"))
    )
    per_ticket = truncate_lineage(
        lines.groupBy("custkey", "o_orderkey")
        .agg(F.min("o_orderdate").alias("d"),
             F.sum(cents(F.col("revenue"))).alias("t_rev"))
    )
    kpis = per_ticket.groupBy("custkey").agg(
        F.count("*").alias("n_tickets"),
        cents_to_double(F.sum("t_rev")).alias("total_spent"),
    )
    wday = Window.partitionBy("custkey").orderBy(F.desc("n"), "day_name")
    fav_day = (
        per_ticket.select("custkey", F.date_format("d", "EEEE").alias("day_name"))
        .groupBy("custkey", "day_name").agg(F.count("*").alias("n"))
        .withColumn("rn", F.row_number().over(wday))
        .filter(F.col("rn") == 1)
        .select("custkey", F.col("day_name").alias("fav_weekday"))
    )
    return (
        kpis.join(fav_product, "custkey").join(fav_day, "custkey")
        .select("custkey", "n_tickets", "total_spent",
                "fav_product", "fav_product_lines", "fav_weekday")
    )


from ..operators.pairs import ORACLE_TRIPLES_TOPK, triple_counts_topk  # noqa: E402

register(
    "triple_counts_topk",
    oracle=ORACLE_TRIPLES_TOPK,
    doc="Top-50 3-itemsets over distinct basket products (a<b<c "
        "canonical) — row-local nested transform+slice generation, one "
        "products^3-bounded rollup, deterministic global rank; see "
        "operators.pairs.triple_counts_topk",
)(triple_counts_topk)
