"""Phase 2 — window / time-series operators (SURVEY.md §2.8).

The reference builds these manually in pandas (shift loops, idxmax,
sort+head); here they are native window functions. Every window has a
fully deterministic ORDER BY (unique tie-break) so results are stable
across partitionings and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.datetime_utils import is_weekend, pandas_weekday
from ..functions.money import cents, cents_to_double, dsum, oracle_dsum
from ..operators.salesviews import sale_lines
from .registry import register

N_LAGS = 14

# Daily grain with a DATE-typed key (lag arithmetic) — Spark side.
def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        sale_lines(spark, sf_dir)
        .groupBy(
            F.col("sale_ts").cast("date").alias("date"),
            F.col("product"),
        )
        .agg(dsum("quantity", "total_quantity"), dsum("revenue", "total_revenue"))
    )


_DAILY_SQL = f"""
WITH sale_lines AS (
  SELECT o_orderkey AS sale_id, o_orderdate AS sale_ts,
         p_name AS product,
         l_quantity AS quantity, l_extendedprice AS revenue
  FROM lineitem
  JOIN part   ON l_partkey  = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
), daily AS (
  SELECT CAST(sale_ts AS DATE) AS date, product,
         {oracle_dsum('quantity', 'total_quantity')},
         {oracle_dsum('revenue', 'total_revenue')}
  FROM sale_lines GROUP BY 1, 2
)
"""


@register(
    "lag_features",
    oracle=_DAILY_SQL + f"""
    SELECT * FROM (
      SELECT product, strftime(date, '%Y-%m-%d') AS date, total_quantity,
             {', '.join(f'lag(total_quantity, {i}) OVER w AS lag_{i}' for i in range(1, N_LAGS + 1))},
             CAST(month(date) AS INT) AS month,
             CAST(isodow(date) - 1 AS INT) AS day_of_week,
             CAST(isodow(date) - 1 >= 5 AS INT) AS is_weekend
      FROM daily
      WINDOW w AS (PARTITION BY product ORDER BY date)
    ) WHERE {' AND '.join(f'lag_{i} IS NOT NULL' for i in range(1, N_LAGS + 1))}
    """,
    doc="W1: the ML feature relation — lag_1..lag_14 of daily quantity per "
        "product + calendar features, dropna over the warm-up rows (ref "
        "crear_lags, dashboard.py:39-52). One shuffle on product, sort "
        "within partition — scales as long as a single product's history "
        "fits an executor (true by construction: days × 1 product).",
)
def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("product").orderBy("date")
    daily = _daily(spark, sf_dir)
    lag_cols = [
        F.lag("total_quantity", i).over(w).alias(f"lag_{i}")
        for i in range(1, N_LAGS + 1)
    ]
    return (
        daily.select(
            "product", F.date_format("date", "yyyy-MM-dd").alias("date"),
            "total_quantity", *lag_cols,
            F.month("date").alias("month"),
            pandas_weekday("date").alias("day_of_week"),
            is_weekend("date").alias("is_weekend"),
        )
        .na.drop(subset=[f"lag_{i}" for i in range(1, N_LAGS + 1)])
    )


@register(
    "argmax_daily_product",
    oracle=_DAILY_SQL + """
    SELECT strftime(date, '%Y-%m-%d') AS date, product, total_revenue FROM (
      SELECT date, product, total_revenue,
             row_number() OVER (PARTITION BY date
                                ORDER BY total_revenue DESC, product) AS rn
      FROM daily
    ) WHERE rn = 1
    """,
    doc="G16/W2: day's top product by revenue (ref EDA.ipynb:2216 cell 23). "
        "row_number with (metric desc, product) tie-break — pandas idxmax "
        "keeps first-of-sort, this makes 'first' well-defined.",
)
def q_argmax_daily_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("date").orderBy(F.desc("total_revenue"), "product")
    return (
        _daily(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.date_format("date", "yyyy-MM-dd").alias("date"),
            "product", "total_revenue",
        )
    )


@register(
    "best_month_per_product",
    oracle=_DAILY_SQL + """
    , monthly AS (
      SELECT product, CAST(year(date) AS INT) AS year, CAST(month(date) AS INT) AS month,
             CAST(CAST(SUM(CAST(total_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
               AS month_quantity
      FROM daily GROUP BY 1, 2, 3
    )
    SELECT product, year, month, month_quantity FROM (
      SELECT *, row_number() OVER (PARTITION BY product
                 ORDER BY month_quantity DESC, year, month) AS rn
      FROM monthly
    ) WHERE rn = 1
    """,
    doc="G17: first row per group after sort — best month per product "
        "(ref EDA.ipynb:2576 cell 29)",
)
def q_best_month_per_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    monthly = (
        _daily(spark, sf_dir)
        .groupBy(
            "product",
            F.year("date").alias("year"),
            F.month("date").alias("month"),
        )
        .agg(dsum("total_quantity", "month_quantity"))
    )
    w = Window.partitionBy("product").orderBy(
        F.desc("month_quantity"), "year", "month"
    )
    return (
        monthly.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("product", "year", "month", "month_quantity")
    )


@register(
    "moving_avg_7d",
    oracle=_DAILY_SQL + """
    SELECT product, strftime(date, '%Y-%m-%d') AS date, total_quantity,
           sum(total_quantity) OVER w / count(*) OVER w AS ma7_quantity,
           CAST(CAST(sum(CAST(total_revenue AS DECIMAL(18,2))) OVER w AS VARCHAR) AS DOUBLE)
             AS sum7_revenue
    FROM daily
    WINDOW w AS (PARTITION BY product ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    doc="Frame-spec window (SURVEY.md §2.8 note): 7-row moving average of "
        "quantity + 7-row revenue sum per product. Quantity sums are "
        "integral doubles (exact in any order); revenue goes through the "
        "exact BIGINT-cents window sum for cross-engine exactness.",
)
def q_moving_avg_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("product").orderBy("date")
        .rowsBetween(-6, Window.currentRow)
    )
    d = _daily(spark, sf_dir)
    return d.select(
        "product", F.date_format("date", "yyyy-MM-dd").alias("date"),
        "total_quantity",
        (F.sum("total_quantity").over(w) / F.count("*").over(w)).alias("ma7_quantity"),
        # BIGINT-cents window sum (r13): total_revenue is an exact-2dp
        # dsum output, so the frame sum in cents is exact and the
        # decimal(38,2)/100 + string round-trip reproduces the oracle's
        # decimal digits.
        cents_to_double(
            F.sum(cents(F.col("total_revenue"))).over(w))
        .alias("sum7_revenue"),
    )


@register(
    "cumulative_revenue",
    oracle=_DAILY_SQL + """
    SELECT product, strftime(date, '%Y-%m-%d') AS date,
           CAST(CAST(sum(CAST(total_revenue AS DECIMAL(18,2))) OVER (
                 PARTITION BY product ORDER BY date
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS VARCHAR) AS DOUBLE) AS cum_revenue
    FROM daily
    """,
    doc="Running total per product (frame-spec window, engine surface "
        "beyond the reference) — exact cents-integer cumulative sum",
)
def q_cumulative_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("product").orderBy("date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _daily(spark, sf_dir).select(
        "product", F.date_format("date", "yyyy-MM-dd").alias("date"),
        cents_to_double(
            F.sum(cents(F.col("total_revenue"))).over(w))
        .alias("cum_revenue"),
    )


@register(
    "train_test_time_split",
    oracle=_DAILY_SQL + """
    SELECT product,
           COUNT(*) FILTER (WHERE date <= (SELECT max(date) - INTERVAL 14 DAY FROM daily))
             AS n_train,
           COUNT(*) FILTER (WHERE date >  (SELECT max(date) - INTERVAL 14 DAY FROM daily))
             AS n_test
    FROM daily GROUP BY 1
    """,
    doc="W4/D10: time-based train/test split at cutoff = max(date) - 14d "
        "(ref dashboard.py:716-724) — scalar 'today' via broadcast agg, "
        "not a driver-side collect",
)
def q_train_test_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _daily(spark, sf_dir)
    cutoff = d.agg(F.date_sub(F.max("date"), 14).alias("_cutoff"))
    return (
        d.crossJoin(F.broadcast(cutoff))
        .groupBy("product")
        .agg(
            F.count(F.when(F.col("date") <= F.col("_cutoff"), 1)).alias("n_train"),
            F.count(F.when(F.col("date") > F.col("_cutoff"), 1)).alias("n_test"),
        )
    )


@register(
    "product_revenue_ranks",
    oracle=_DAILY_SQL + """
    , totals AS (
      SELECT product, CAST(CAST(SUM(CAST(total_revenue AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
               AS product_revenue
      FROM daily GROUP BY 1
    )
    SELECT product, product_revenue,
           CAST(row_number() OVER (ORDER BY product_revenue DESC, product) AS INT) AS rn,
           CAST(rank()       OVER (ORDER BY product_revenue DESC, product) AS INT) AS rnk,
           CAST(dense_rank() OVER (ORDER BY product_revenue DESC, product) AS INT) AS drnk,
           CAST(ntile(4)     OVER (ORDER BY product_revenue DESC, product) AS INT) AS quartile
    FROM totals
    """,
    doc="W2 family completeness: row_number / rank / dense_rank / ntile "
        "over a global ordering with unique tie-break",
)
def q_product_revenue_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    totals = (
        _daily(spark, sf_dir)
        .groupBy("product")
        .agg(dsum("total_revenue", "product_revenue"))
    )
    w = Window.orderBy(F.desc("product_revenue"), "product")
    return totals.select(
        "product", "product_revenue",
        F.row_number().over(w).cast("int").alias("rn"),
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


@register(
    "window_navigation",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey AS sale_id,
           strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
           strftime(lead(o_orderdate) OVER w, '%Y-%m-%d') AS valid_to,
           CAST(lead(o_orderdate) OVER w IS NULL AS BOOLEAN) AS is_current,
           strftime(first_value(o_orderdate) OVER w, '%Y-%m-%d') AS first_order,
           strftime(last_value(o_orderdate) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
             '%Y-%m-%d') AS latest_order,
           strftime(nth_value(o_orderdate, 2) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
             '%Y-%m-%d') AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="Window navigation family (lead / first_value / last_value / "
        "nth_value) as an SCD2-style period builder: each order becomes "
        "a [valid_from, valid_to) version row per customer, open-ended "
        "for the current one — the warehouse change-tracking shape, one "
        "shuffle on custkey",
)
def q_window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import table

    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    d = lambda c: F.date_format(c, "yyyy-MM-dd")  # noqa: E731
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("sale_id"),
        d("o_orderdate").alias("valid_from"),
        d(F.lead("o_orderdate").over(w)).alias("valid_to"),
        F.lead("o_orderdate").over(w).isNull().alias("is_current"),
        d(F.first_value(F.col("o_orderdate")).over(w)).alias("first_order"),
        d(F.last_value(F.col("o_orderdate")).over(wfull)).alias("latest_order"),
        d(F.nth_value(F.col("o_orderdate"), 2).over(wfull)).alias("second_order"),
    )


@register(
    "product_rank_distributions",
    oracle=_DAILY_SQL + """
    , totals AS (
      SELECT product,
             CAST(CAST(SUM(CAST(total_revenue AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
               AS product_revenue
      FROM daily GROUP BY 1
    )
    SELECT product, product_revenue,
           percent_rank() OVER w AS pct_rank,
           cume_dist()    OVER w AS cum_dist
    FROM totals
    WINDOW w AS (ORDER BY product_revenue DESC, product)
    """,
    doc="Distribution window functions percent_rank / cume_dist over the "
        "per-product revenue ranking — both are exact rational values "
        "((rank-1)/(n-1), rank/n) so cross-engine doubles agree bit-wise; "
        "completes the ranking family with product_revenue_ranks",
)
def q_product_rank_distributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    totals = (
        _daily(spark, sf_dir)
        .groupBy("product")
        .agg(dsum("total_revenue", "product_revenue"))
    )
    w = Window.orderBy(F.desc("product_revenue"), "product")
    return totals.select(
        "product", "product_revenue",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
    )
