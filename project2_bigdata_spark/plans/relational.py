"""Phase 0/1 — relational core queries (SURVEY.md §2.2/§2.4/§2.5/§2.6/§2.7).

Every query here is a pure DataFrame pipeline (no UDF, no collect) with a
DuckDB oracle. Float-valued aggregates use the decimal-exact summation
path (functions.money) so Spark and DuckDB produce bit-identical doubles
regardless of row order/partitioning; stddev/corr are computed from exact
moment sums for the same reason (no builtin corr/stddev — those are
summation-order-dependent in the last ULP).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import table
from ..functions.datetime_utils import (
    day_name, is_weekend, pandas_weekday, sale_date, week_start,
)
from ..functions.money import (
    cents, cents_to_double, dsum, oracle_dsum, safe_div,
)
from ..operators.salesviews import sale_lines, sales_daily, tickets
from .registry import register

# DuckDB twin of operators.salesviews.sale_lines — prefix for oracle SQL.
SALE_LINES_SQL = """
WITH sale_lines AS (
  SELECT o_orderkey AS sale_id, o_orderdate AS sale_ts, o_custkey AS custkey,
         o_orderstatus AS status, o_orderpriority AS priority,
         p_name AS product, p_brand AS brand,
         l_quantity AS quantity, l_extendedprice AS revenue,
         l_extendedprice / l_quantity AS price, l_linenumber AS linenumber
  FROM lineitem
  JOIN part   ON l_partkey  = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
)
"""

SALES_DAILY_SQL = SALE_LINES_SQL + f"""
, sales_daily AS (
  SELECT strftime(sale_ts, '%Y-%m-%d') AS date, product,
         {oracle_dsum('quantity', 'total_quantity')},
         {oracle_dsum('revenue', 'total_revenue')}
  FROM sale_lines GROUP BY 1, 2
)
"""


# ---------------------------------------------------------------------------
# Flagship: G1 — the reference's core query (crear_df, dashboard.py:54-106)
# ---------------------------------------------------------------------------

@register(
    "sales_daily",
    oracle=SALES_DAILY_SQL + "SELECT * FROM sales_daily",
    doc="G1/D1: date × product → total_quantity, total_revenue (ref dashboard.py:76-91)",
)
def q_sales_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sales_daily(spark, sf_dir)


@register(
    "sales_daily_filtered",
    oracle=SALES_DAILY_SQL + """
    SELECT * FROM sales_daily
    WHERE product IN ('cold widget', 'small widget', 'blue rod')
      AND date BETWEEN '1996-01-01' AND '1997-12-31'
    """,
    doc="P5/P6: isin(product) ∧ date between (ref dashboard.py:268-272) — "
        "predicates push below the aggregate via Catalyst",
)
def q_sales_daily_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        sales_daily(spark, sf_dir)
        .filter(F.col("product").isin("cold widget", "small widget", "blue rod"))
        .filter(F.col("date").between("1996-01-01", "1997-12-31"))
    )


@register(
    "count_sales",
    oracle="SELECT COUNT(*) AS num_sales FROM orders",
    doc="S2: collection scan + count (ref dashboard.py:377)",
)
def q_count_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "orders").agg(F.count("*").alias("num_sales"))


@register(
    "kpi_global",
    oracle=f"""
    WITH sale_lines AS (
      SELECT o_orderkey AS sale_id, o_orderdate AS sale_ts,
             l_quantity AS quantity, l_extendedprice AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT {oracle_dsum('quantity', 'total_units')},
           {oracle_dsum('revenue', 'total_revenue')},
           COUNT(DISTINCT strftime(sale_ts, '%Y-%m-%d')) AS num_days,
           CAST(CAST(SUM(CAST(revenue AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
             / COUNT(DISTINCT strftime(sale_ts, '%Y-%m-%d')) AS revenue_per_day,
           COUNT(DISTINCT sale_id) AS num_tickets,
           CAST(CAST(SUM(CAST(revenue AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
             / COUNT(DISTINCT sale_id) AS avg_ticket_revenue
    FROM sale_lines
    """,
    doc="G13: global scalar KPIs (ref dashboard.py:287-296,530-539) — one agg "
        "row, computed two-level: ticket rollup first, then global. The "
        "naive single agg needs a ×3 expand (three COUNT(DISTINCT)s) over "
        "the full fact; rolling up to ticket grain first shuffles |orders| "
        "rows once and every distinct count becomes a plain count/"
        "countDistinct over ticket rows. Skips the part join entirely — "
        "no product column is consumed. Decimal sums re-sum exactly.",
)
def q_kpi_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    # cent-long partials (exact, see money.dsum): per-ticket sums stay
    # BIGINT cents so both aggregation levels ride integer codegen; the
    # one-row second level re-sums the exact cents and converts once.
    # first() over the DATE (not the formatted string) — all lines of a
    # ticket share o_orderdate, and countDistinct(date) ≡ countDistinct
    # of its 1:1 'yyyy-MM-dd' image.
    per_ticket = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.sum(cents(F.col("l_quantity"))).alias("t_units"),
            F.sum(cents(F.col("l_extendedprice"))).alias("t_rev"),
            F.first(F.col("o_orderdate").cast("date")).alias("date"),
        )
    )
    rev = cents_to_double(F.sum("t_rev"))
    return per_ticket.agg(
        cents_to_double(F.sum("t_units")).alias("total_units"),
        rev.alias("total_revenue"),
        F.countDistinct("date").alias("num_days"),
        (rev / F.countDistinct("date")).alias("revenue_per_day"),
        F.count("*").alias("num_tickets"),
        (rev / F.count("*")).alias("avg_ticket_revenue"),
    )


@register(
    "value_counts_priority",
    oracle="SELECT o_orderpriority AS purchase_method, COUNT(*) AS n "
           "FROM orders GROUP BY 1",
    doc="G11: value_counts of a categorical (ref dashboard.py:546)",
)
def q_value_counts_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("purchase_method"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "value_counts_segment",
    oracle="SELECT c_mktsegment AS segment, COUNT(*) AS n FROM customer GROUP BY 1",
    doc="G11 variant: customer segment frequencies (ref dashboard.py:551)",
)
def q_value_counts_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "distinct_counts",
    oracle=SALE_LINES_SQL + """
    SELECT COUNT(DISTINCT product) AS num_products,
           COUNT(DISTINCT custkey) AS num_customers,
           COUNT(DISTINCT sale_id) AS num_sales
    FROM sale_lines
    """,
    doc="G12: exact distinct counts (ref dashboard.py:280,290,531)",
)
def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    sl = sale_lines(spark, sf_dir)
    return sl.agg(
        F.countDistinct("product").alias("num_products"),
        F.countDistinct("custkey").alias("num_customers"),
        F.countDistinct("sale_id").alias("num_sales"),
    )


@register(
    "product_price_stats",
    oracle=SALE_LINES_SQL + f"""
    SELECT product,
           {oracle_dsum('revenue', 'total_revenue')},
           {oracle_dsum('quantity', 'total_quantity')},
           CAST(CAST(SUM(CAST(revenue AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
             / CAST(CAST(SUM(CAST(quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS avg_unit_price,
           COUNT(*) AS num_lines
    FROM sale_lines GROUP BY 1
    """,
    doc="G8: per-product means (ref EDA.ipynb:3319 cell 39) — avg as ratio of "
        "exact sums (order-insensitive), not float avg()",
)
def q_product_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        sale_lines(spark, sf_dir)
        .groupBy("product")
        .agg(
            dsum("revenue", "total_revenue"),
            dsum("quantity", "total_quantity"),
            (dsum("revenue") / dsum("quantity")).alias("avg_unit_price"),
            F.count("*").alias("num_lines"),
        )
    )


@register(
    "volatility_cv",
    oracle=SALES_DAILY_SQL + """
    SELECT product,
           mean_qty,
           CASE WHEN n > 1 THEN sqrt((sxx - sx * sx / n) / (n - 1)) END AS std_qty,
           CASE WHEN n > 1 THEN sqrt((sxx - sx * sx / n) / (n - 1)) END / mean_qty AS cv
    FROM (
      SELECT product,
             COUNT(*) AS n,
             CAST(CAST(SUM(CAST(total_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(total_quantity * total_quantity AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(total_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS mean_qty
      FROM sales_daily GROUP BY 1
    )
    """,
    doc="G9: coefficient of variation of daily quantity per product (ref "
        "EDA.ipynb:2897 cell 32). Sample stddev from exact moment sums → "
        "bit-identical across engines; pandas std ddof=1 parity.",
)
def q_volatility_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = sales_daily(spark, sf_dir)
    stats = daily.groupBy("product").agg(
        F.count("*").alias("n"),
        dsum("total_quantity").alias("sx"),
        dsum("total_quantity * total_quantity", "sxx", dec="decimal(28,10)"),
        (dsum("total_quantity") / F.count("*")).alias("mean_qty"),
    )
    std = F.when(
        F.col("n") > 1,
        F.sqrt((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)),
    )
    return stats.select(
        "product",
        "mean_qty",
        std.alias("std_qty"),
        (std / F.col("mean_qty")).alias("cv"),
    )


@register(
    "corr_revenue_quantity",
    oracle=SALE_LINES_SQL + """
    SELECT product,
           (n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr_rev_qty
    FROM (
      SELECT product,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(CAST(revenue AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(revenue * revenue AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(quantity * quantity AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS syy,
             CAST(CAST(SUM(CAST(revenue * quantity AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sxy
      FROM sale_lines GROUP BY product
    )
    """,
    doc="G10: per-product Pearson corr(revenue, quantity) (ref EDA.ipynb:450 "
        "cell 10, price↔quantity). Moment sums use scales the data hits "
        "exactly (money=2dp, money²=4dp) so the decimal casts never round — "
        "bit-identical across engines and partitionings.",
)
def q_corr_revenue_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (
        sale_lines(spark, sf_dir)
        .groupBy("product")
        .agg(
            F.count("*").cast("double").alias("n"),
            dsum("revenue").alias("sx"),
            dsum("quantity").alias("sy"),
            dsum("revenue * revenue", "sxx", dec="decimal(28,4)"),
            dsum("quantity * quantity", "syy", dec="decimal(28,4)"),
            dsum("revenue * quantity", "sxy", dec="decimal(28,4)"),
        )
    )
    num = m.n * m.sxy - m.sx * m.sy
    den = F.sqrt((m.n * m.sxx - m.sx * m.sx) * (m.n * m.syy - m.sy * m.sy))
    return m.select("product", (num / den).alias("corr_rev_qty"))


@register(
    "mode_store",
    oracle="""
    SELECT n_name AS store, COUNT(*) AS n
    FROM orders JOIN customer ON o_custkey = c_custkey
                JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY 1 ORDER BY n DESC, store LIMIT 1
    """,
    doc="G14: mode (most-visited store, ref dashboard.py:601) with "
        "deterministic tie-break (count desc, then name)",
)
def q_mode_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    return (
        orders
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("store"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "store")
        .limit(1)
    )


@register(
    "acctbal_histogram",
    oracle="""
    SELECT CASE
             WHEN c_acctbal <= 0 THEN 'negative'
             WHEN c_acctbal <= 2500 THEN '0-2500'
             WHEN c_acctbal <= 5000 THEN '2500-5000'
             WHEN c_acctbal <= 7500 THEN '5000-7500'
             ELSE '7500+'
           END AS balance_bucket,
           COUNT(*) AS n
    FROM customer GROUP BY 1
    """,
    doc="G15: binned histogram with exact label parity (ref pd.cut age bins, "
        "dashboard.py:564-566; right-closed intervals like pandas cut)",
)
def q_acctbal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col("c_acctbal")
    bucket = (
        F.when(c <= 0, "negative")
        .when(c <= 2500, "0-2500")
        .when(c <= 5000, "2500-5000")
        .when(c <= 7500, "5000-7500")
        .otherwise("7500+")
    )
    return (
        table(spark, sf_dir, "customer")
        .groupBy(bucket.alias("balance_bucket"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "product_probability_join",
    oracle=SALE_LINES_SQL + f"""
    , agg AS (
      SELECT product, {oracle_dsum('revenue', 'total_revenue')}
      FROM sale_lines GROUP BY 1
    ), prob AS (
      SELECT product,
             COUNT(DISTINCT sale_id) AS num_transactions,
             COUNT(DISTINCT sale_id) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM orders)
               AS probability
      FROM sale_lines GROUP BY 1
    )
    SELECT a.product, a.total_revenue, p.num_transactions, p.probability
    FROM agg a LEFT JOIN prob p ON a.product = p.product
    """,
    doc="J1: left equi-join of per-product aggregate with purchase-probability "
        "dim (ref dashboard.py:377-411) — small side broadcast",
)
def q_product_probability_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    sl = sale_lines(spark, sf_dir)
    # scalar total as a broadcast 1-row aggregate (not an eager .count()):
    # query construction stays lazy and the whole relation is one plan.
    total = table(spark, sf_dir, "orders").agg(
        F.count("*").cast("double").alias("_total_sales")
    )
    agg = sl.groupBy("product").agg(dsum("revenue", "total_revenue"))
    prob = (
        sl.groupBy("product")
        .agg(F.countDistinct("sale_id").alias("num_transactions"))
        .crossJoin(F.broadcast(total))
        .withColumn("probability", F.col("num_transactions") / F.col("_total_sales"))
        .drop("_total_sales")
    )
    return agg.join(F.broadcast(prob), "product", "left")


@register(
    "daily_avg_price_guarded",
    oracle=SALES_DAILY_SQL + """
    SELECT date, product,
           CASE WHEN total_quantity > 0 THEN total_revenue / total_quantity
                ELSE 0 END AS avg_price
    FROM sales_daily
    """,
    doc="P8: safe division revenue/quantity with zero guard (ref "
        "dashboard.py:138-141) — pure when/otherwise, no UDF",
)
def q_daily_avg_price_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = sales_daily(spark, sf_dir)
    return d.select(
        "date", "product",
        safe_div(F.col("total_revenue"), F.col("total_quantity")).alias("avg_price"),
    )


@register(
    "top20_orders",
    oracle="SELECT o_orderkey, o_totalprice FROM orders "
           "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20",
    doc="O1/O3: global top-K with deterministic tie-break — Spark TakeOrdered "
        "(no full sort materialization)",
)
def q_top20_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@register(
    "monthly_rollup",
    oracle=SALE_LINES_SQL + f"""
    SELECT CAST(year(sale_ts) AS INT) AS year, CAST(month(sale_ts) AS INT) AS month, product,
           {oracle_dsum('quantity', 'total_quantity')},
           {oracle_dsum('revenue', 'total_revenue')}
    FROM sale_lines GROUP BY 1, 2, 3
    """,
    doc="W3/D6: daily → monthly re-aggregation (ref EDA.ipynb:2444 cell 27)",
)
def q_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sl = sale_lines(spark, sf_dir)
    return (
        sl.groupBy(
            F.year("sale_ts").alias("year"),
            F.month("sale_ts").alias("month"),
            "product",
        )
        .agg(dsum("quantity", "total_quantity"), dsum("revenue", "total_revenue"))
    )


@register(
    "weekly_rollup",
    oracle=SALE_LINES_SQL + f"""
    SELECT strftime(CAST(date_trunc('week', sale_ts) AS DATE), '%Y-%m-%d') AS week, product,
           {oracle_dsum('quantity', 'total_quantity')}
    FROM sale_lines GROUP BY 1, 2
    """,
    doc="D9/W3: Monday-start week bucket (ref EDA.ipynb:2044 cell 21; pandas "
        "to_period('W').start_time ≡ date_trunc('week') — both Monday-start)",
)
def q_weekly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sl = sale_lines(spark, sf_dir)
    return (
        sl.groupBy(week_start("sale_ts").alias("w"), "product")
        .agg(dsum("quantity", "total_quantity"))
        # group on the DATE week bucket, format once per group (1:1 image)
        .select(F.date_format("w", "yyyy-MM-dd").alias("week"), "product",
                "total_quantity")
    )


@register(
    "weekday_features",
    oracle="""
    SELECT DISTINCT strftime(o_orderdate, '%Y-%m-%d') AS date,
           CAST(isodow(o_orderdate) - 1 AS INT) AS day_of_week,
           CAST(isodow(o_orderdate) - 1 >= 5 AS INT) AS is_weekend,
           dayname(o_orderdate) AS day_name
    FROM orders
    """,
    doc="D7/D8/D15: pandas weekday parity (Monday=0), is_weekend, day names "
        "(ref dashboard.py:115-116,603) — THE numbering trap, see "
        "functions.datetime_utils",
)
def q_weekday_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.select(
        sale_date("o_orderdate").alias("date"),
        pandas_weekday("o_orderdate").alias("day_of_week"),
        is_weekend("o_orderdate").alias("is_weekend"),
        day_name("o_orderdate").alias("day_name"),
    ).distinct()


@register(
    "union_mixed_aggregates",
    oracle=f"""
    SELECT o_orderstatus AS key, COUNT(*) AS num_orders, NULL::DOUBLE AS total_revenue
    FROM orders GROUP BY 1
    UNION ALL BY NAME
    SELECT o_orderpriority AS key, NULL::BIGINT AS num_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_revenue
    FROM orders GROUP BY 1
    """,
    doc="O5: vertical union of frames with different columns (ref "
        "EDA.ipynb:5211 cell 66) — unionByName(allowMissingColumns=True)",
)
def q_union_mixed_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    a = o.groupBy(F.col("o_orderstatus").alias("key")).agg(F.count("*").alias("num_orders"))
    b = o.groupBy(F.col("o_orderpriority").alias("key")).agg(dsum("o_totalprice", "total_revenue"))
    return a.unionByName(b, allowMissingColumns=True)


@register(
    "distinct_products",
    oracle=SALE_LINES_SQL + "SELECT DISTINCT product FROM sale_lines",
    doc="O6: distinct values (ref dashboard.py:225)",
)
def q_distinct_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sale_lines(spark, sf_dir).select("product").distinct()


@register(
    "status_priority_rollup",
    oracle=f"""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           COUNT(*) AS num_orders,
           {oracle_dsum('o_totalprice', 'total_revenue')}
    FROM orders GROUP BY ROLLUP(1, 2)
    """,
    doc="Engine-completeness stretch (SURVEY.md §2.4 note): ROLLUP grouping "
        "sets — free in Spark via df.rollup",
)
def q_status_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .rollup(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count("*").alias("num_orders"), dsum("o_totalprice", "total_revenue"))
    )


@register(
    "events_hourly",
    oracle=f"""
    SELECT strftime(ts, '%Y-%m-%d') AS date,
           CAST(extract(hour FROM ts) AS INT) AS hour,
           event_type,
           COUNT(*) AS n, {oracle_dsum('value', 'total_value')}
    FROM events GROUP BY 1, 2, 3
    """,
    doc="G2/D3: date × hour × type grain over the events table (ref "
        "EDA.ipynb:650 cell 13 hourly sales grain)",
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            sale_date("ts").alias("date"),
            F.hour("ts").alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), dsum("value", "total_value"))
    )


@register(
    "events_time_avg",
    oracle=f"""
    SELECT strftime(ts, '%Y-%m-%d') AS date,
           strftime(ts, '%H:%M:%S') AS time,
           event_type,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_value
    FROM events GROUP BY 1, 2, 3
    """,
    doc="G3/D2: (date, time-of-day string, type) grain with avg (ref "
        "EDA.ipynb:244 cell 6) — avg as exact-sum/count",
)
def q_events_time_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            sale_date("ts").alias("date"),
            F.date_format("ts", "HH:mm:ss").alias("time"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), (dsum("value") / F.count("*")).alias("avg_value"))
    )


@register(
    "ticket_totals",
    oracle="""
    SELECT l_orderkey AS sale_id,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_revenue,
           COUNT(*) AS num_items
    FROM lineitem GROUP BY 1
    """,
    doc="G4/A7: ticket reassembly totals (ref dfc dashboard.py:467-480). "
        "Spark-first: single partial+final agg on orderkey — no unwind→regroup "
        "round trip like the reference",
)
def q_ticket_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_orderkey").alias("sale_id"))
        .agg(dsum("l_extendedprice", "total_revenue"), F.count("*").alias("num_items"))
    )


@register(
    "customer_rollup",
    oracle="""
    SELECT c_name AS customer_email,
           COUNT(DISTINCT o_orderkey) AS num_purchases,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_spent
    FROM orders
    JOIN customer ON o_custkey  = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
    doc="G6/P10: per-customer purchases + revenue (ref df.ipynb:839 cell 17; "
        "nested array-fold becomes a plain join+agg on the flat model). "
        "Two-level: lineitem rolls up to ticket grain first, so the "
        "per-customer COUNT(DISTINCT order) becomes a plain count over "
        "ticket rows — no ×2 expand of the joined fact through the "
        "customer shuffle.",
)
def q_customer_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    lineitem = table(spark, sf_dir, "lineitem")
    # BIGINT cents through BOTH aggregation levels (r13 — the
    # kpi_global treatment): the ticket rollup sums exact cents, the
    # customer rollup re-sums the longs, and only the one-per-group
    # finisher widens to decimal for the oracle's string round-trip.
    per_ticket = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(cents(F.col("l_extendedprice"))).alias("t_rev"))
    )
    return (
        per_ticket
        .join(orders, per_ticket.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy(F.col("c_name").alias("customer_email"))
        .agg(
            F.count("*").alias("num_purchases"),
            cents_to_double(F.sum("t_rev")).alias("total_spent"),
        )
    )


@register(
    "sql_view_layer",
    oracle="""
    WITH sale_lines AS (
      SELECT o_orderkey AS sale_id, o_orderdate AS sale_ts, p_name AS product,
             l_quantity AS quantity, l_extendedprice AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
                    JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT product,
           CAST(CAST(SUM(CAST(revenue AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
             AS total_revenue,
           COUNT(DISTINCT sale_id) AS n_sales
    FROM sale_lines
    WHERE year(sale_ts) = 1996
    GROUP BY 1
    """,
    doc="SQL view layer (SURVEY §4.2): the same engine surface via "
        "spark.sql over registered views — the year filter on the view "
        "pushes down to the parquet scans exactly like the DataFrame "
        "form (Catalyst sees through temp views)",
)
def q_sql_view_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_views

    register_views(spark, sf_dir)
    # SQL-text twin of money.dsum's BIGINT-cents path (spark.sql takes
    # no computed Column, and this query exercises the SQL surface):
    # exact cents sum, decimal(38,2)/100 widen, string round-trip — so
    # the double is bit-identical to the oracle's decimal form.
    return spark.sql("""
        SELECT product,
               CAST(CAST(CAST(SUM(CAST(ROUND(revenue * 100) AS BIGINT))
                              AS DECIMAL(38,2)) / 100 AS STRING) AS DOUBLE)
                 AS total_revenue,
               COUNT(DISTINCT sale_id) AS n_sales
        FROM v_sale_lines
        WHERE year(sale_ts) = 1996
        GROUP BY product
    """)


@register(
    "revenue_share",
    oracle=SALE_LINES_SQL + """
    , totals AS (
      SELECT product,
             SUM(CAST(revenue AS DECIMAL(18,2))) AS product_revenue_dec
      FROM sale_lines GROUP BY 1
    )
    SELECT product,
           CAST(CAST(product_revenue_dec AS VARCHAR) AS DOUBLE) AS product_revenue,
           CAST(CAST(product_revenue_dec AS VARCHAR) AS DOUBLE)
             / CAST(CAST(SUM(product_revenue_dec) OVER () AS VARCHAR) AS DOUBLE)
             * 100 AS revenue_share_pct
    FROM totals
    """,
    doc="EP1's revenue-share pie (dashboard.py:320) + D13 percent "
        "scaling: per-product revenue as % of total via an "
        "unpartitioned window over the already-aggregated product "
        "relation (|products| rows — the window is cheap because it "
        "runs post-aggregation, never on the fact)",
)
def q_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    totals = (
        sale_lines(spark, sf_dir)
        .groupBy("product")
        .agg(F.sum(cents(F.col("revenue"))).alias("rev_c"))
    )
    w = Window.partitionBy()
    rev = cents_to_double(F.col("rev_c"))
    return totals.select(
        "product",
        rev.alias("product_revenue"),
        (rev / cents_to_double(F.sum("rev_c").over(w)) * 100)
        .alias("revenue_share_pct"),
    )
