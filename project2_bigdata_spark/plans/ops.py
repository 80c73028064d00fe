"""Engine-ops relations: data-quality gates, anomaly detection, and
incremental-aggregation maintenance.

These are the operational queries a production 100 TB deployment runs
around the analytical ones: validate before ingest, monitor after
aggregation, and maintain rollups incrementally instead of recomputing.
All pure JVM expressions with DuckDB oracles; exactness conventions per
functions/money.py (decimal sums, moment-sum stddev).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.money import cents, cents_to_double, dsum, oracle_dsum
from ..operators.salesviews import sales_daily
from .registry import register
from .relational import SALES_DAILY_SQL


@register(
    "dq_checks",
    oracle="""
    SELECT 'orders_nonpositive_price' AS rule,
           (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0) AS n_violations
    UNION ALL
    SELECT 'orders_null_custkey',
           (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'lineitem_quantity_out_of_range',
           (SELECT COUNT(*) FROM lineitem
            WHERE l_quantity < 1 OR l_quantity > 50)
    UNION ALL
    SELECT 'events_ts_out_of_range',
           (SELECT COUNT(*) FROM events
            WHERE ts < TIMESTAMP '1992-01-01' OR ts >= TIMESTAMP '2000-01-01')
    """,
    doc="Data-quality gate: rule → violation count over the raw tables "
        "(non-positive money, null keys, referential orphans via "
        "anti-join, domain ranges). All rules against one table fold "
        "into ONE conditional-count aggregate over ONE scan (a rule per "
        "scan would read the fact table once per rule at 100 TB); the "
        "orphan check is a broadcast-able anti join, never a "
        "distinct-collect. The relation a pipeline asserts == 0 on "
        "before promoting a batch",
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    events = table(spark, sf_dir, "events")

    def nviol(cond) -> F.Column:
        return F.count_if(cond).cast("bigint")

    def unpivot(agg: DataFrame) -> DataFrame:
        # one aggregate row with a column per rule → (rule, n_violations)
        return agg.unpivot([], agg.columns, "rule", "n_violations")

    order_rules = unpivot(orders.agg(
        nviol(F.col("o_totalprice") <= 0).alias("orders_nonpositive_price"),
        nviol(F.col("o_custkey").isNull()).alias("orders_null_custkey"),
    ))
    lineitem_rules = unpivot(lineitem.agg(
        nviol((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50))
        .alias("lineitem_quantity_out_of_range"),
    ))
    event_rules = unpivot(events.agg(
        nviol((F.col("ts") < "1992-01-01") | (F.col("ts") >= "2000-01-01"))
        .alias("events_ts_out_of_range"),
    ))
    orphans = lineitem.join(
        orders.select("o_orderkey"),
        lineitem.l_orderkey == F.col("o_orderkey"),
        "left_anti",
    ).agg(F.count("*").cast("bigint").alias("n_violations")).select(
        F.lit("lineitem_orphan_orderkey").alias("rule"), "n_violations"
    )
    return (
        order_rules
        .unionByName(orphans)
        .unionByName(lineitem_rules)
        .unionByName(event_rules)
    )


@register(
    "revenue_anomalies",
    oracle=SALES_DAILY_SQL + """
    , stats AS (
      SELECT product,
             COUNT(*) AS n,
             CAST(CAST(SUM(CAST(total_revenue AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(total_revenue * total_revenue AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sxx
      FROM sales_daily GROUP BY 1
    )
    SELECT d.date, d.product, d.total_revenue,
           round((d.total_revenue - sx / n)
                 / sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS z_score
    FROM sales_daily d JOIN stats USING (product)
    WHERE n > 1
      AND abs((d.total_revenue - sx / n)
              / sqrt((sxx - sx * sx / n) / (n - 1))) > 3.0
    """,
    doc="Revenue anomaly monitor: daily revenue more than 3 sample-"
        "stddevs from the product mean. Two-level plan: per-product "
        "moment sums (exact decimal — stddev is bit-identical across "
        "engines), broadcast back onto the daily grain, row-local "
        "z-score filter. The alerting relation behind a pipeline "
        "health dashboard",
)
def q_revenue_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import truncate_lineage

    # daily feeds BOTH the per-product stats and the z-score join; as
    # plain lineage each branch re-embeds the 3-scan fact join (measured
    # 6 parquet scans — ReuseExchange does not fire across the branches).
    # The date×product grain is bounded and tiny relative to the fact
    # table, so materialize it once.
    daily = truncate_lineage(sales_daily(spark, sf_dir))
    stats = daily.groupBy("product").agg(
        F.count("*").alias("n"),
        dsum("total_revenue").alias("sx"),
        dsum("total_revenue * total_revenue", "sxx", dec="decimal(28,10)"),
    )
    z = (F.col("total_revenue") - F.col("sx") / F.col("n")) / F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
    )
    return (
        daily.join(F.broadcast(stats), "product")
        .filter((F.col("n") > 1) & (F.abs(z) > 3.0))
        .select("date", "product", "total_revenue", F.round(z, 6).alias("z_score"))
    )


@register(
    "incremental_rollup_merge",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS year,
           CAST(month(o_orderdate) AS INT) AS month,
           COUNT(*) AS n_orders,
           """ + oracle_dsum("o_totalprice", "total_revenue") + """
    FROM orders GROUP BY 1, 2
    """,
    doc="Incremental rollup maintenance: the monthly aggregate is "
        "computed as base-partition partials (orders < cutoff) MERGED "
        "with delta partials (>= cutoff) — counts add, decimal sums add "
        "exactly — instead of rescanning history. The oracle is the "
        "full recompute, so the driver check IS the proof that "
        "merge(partials) == recompute: the property that lets a 100 TB "
        "pipeline process only the new partition each day. (Mergeable "
        "aggs only — distincts need sketches)",
)
def q_incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cutoff = "1997-01-01"

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.year("o_orderdate").alias("year"),
            F.month("o_orderdate").alias("month"),
        ).agg(
            F.count("*").alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).alias("_rev_c"),
        )

    base = partial(orders.filter(F.col("o_orderdate") < cutoff))
    delta = partial(orders.filter(F.col("o_orderdate") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("year", "month")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            cents_to_double(F.sum("_rev_c")).alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Weekday-seasonal anomaly monitor (seasonal sibling of revenue_anomalies)
# ---------------------------------------------------------------------------

@register(
    "seasonal_anomalies",
    oracle=SALES_DAILY_SQL + """
    , keyed AS (
      SELECT date, product, total_revenue,
             CAST(isodow(CAST(date AS DATE)) - 1 AS INT) AS day_of_week
      FROM sales_daily
    ), stats AS (
      SELECT product, day_of_week,
             COUNT(*) AS n,
             CAST(CAST(SUM(CAST(total_revenue AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(total_revenue * total_revenue AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sxx
      FROM keyed GROUP BY 1, 2
    )
    SELECT k.date, k.product, k.day_of_week, k.total_revenue,
           round((k.total_revenue - sx / n)
                 / sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS z_seasonal
    FROM keyed k JOIN stats USING (product, day_of_week)
    WHERE n > 1 AND (sxx - sx * sx / n) > 0
      AND abs((k.total_revenue - sx / n)
              / sqrt((sxx - sx * sx / n) / (n - 1))) > 3.0
    """,
    doc="Weekday-seasonal anomaly monitor: a day is anomalous relative "
        "to ITS OWN (product, weekday) baseline, not the product's "
        "global mean — a busy Saturday that would trip the global "
        "z-score (revenue_anomalies) is normal here, and a dead Monday "
        "hiding inside the global band is caught. Same two-level exact "
        "plan: per-(product, weekday) decimal moment sums (7x the rows "
        "of the global stats — still tiny), broadcast back onto the "
        "daily grain, row-local z + variance guard. Weekday uses the "
        "pandas Monday=0 convention (functions/datetime_utils.py)",
)
def q_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.datetime_utils import pandas_weekday

    daily = sales_daily(spark, sf_dir).withColumn(
        "day_of_week", pandas_weekday(F.to_date("date"))
    )
    stats = daily.groupBy("product", "day_of_week").agg(
        F.count("*").alias("n"),
        dsum("total_revenue").alias("sx"),
        dsum("total_revenue * total_revenue", "sxx", dec="decimal(28,10)"),
    )
    var_num = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    z = (F.col("total_revenue") - F.col("sx") / F.col("n")) / F.sqrt(
        var_num / (F.col("n") - 1)
    )
    return (
        daily.join(F.broadcast(stats), ["product", "day_of_week"])
        .filter((F.col("n") > 1) & (var_num > 0) & (F.abs(z) > 3.0))
        .select(
            "date", "product", "day_of_week", "total_revenue",
            F.round(z, 6).alias("z_seasonal"),
        )
    )


# ---------------------------------------------------------------------------
# Column profiling (the ANALYZE/ dbt-docs surface)
# ---------------------------------------------------------------------------

_PROFILE_ORACLE = """
WITH t AS (SELECT * FROM orders)
SELECT 'o_orderkey' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(o_orderkey) AS BIGINT) AS n_nonnull,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
       CAST(MIN(o_orderkey) AS VARCHAR) AS min_repr,
       CAST(MAX(o_orderkey) AS VARCHAR) AS max_repr
FROM t
UNION ALL
SELECT 'o_custkey', COUNT(*), COUNT(o_custkey), COUNT(DISTINCT o_custkey),
       CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
FROM t
UNION ALL
SELECT 'o_orderstatus', COUNT(*), COUNT(o_orderstatus),
       COUNT(DISTINCT o_orderstatus),
       MIN(o_orderstatus), MAX(o_orderstatus)
FROM t
UNION ALL
SELECT 'o_orderpriority', COUNT(*), COUNT(o_orderpriority),
       COUNT(DISTINCT o_orderpriority),
       MIN(o_orderpriority), MAX(o_orderpriority)
FROM t
UNION ALL
SELECT 'o_orderdate', COUNT(*), COUNT(o_orderdate),
       COUNT(DISTINCT o_orderdate),
       strftime(MIN(o_orderdate), '%Y-%m-%d'),
       strftime(MAX(o_orderdate), '%Y-%m-%d')
FROM t
"""


@register(
    "profile_orders_columns",
    oracle=_PROFILE_ORACLE,
    doc="Column-level profiling of the orders table (row count, "
        "non-null count, exact distinct count, min/max as canonical "
        "strings per column) -- the ANALYZE TABLE / dbt-docs relation "
        "every warehouse exposes, and the statistics a cost-based "
        "planner feeds on. ONE scan computes every column's profile "
        "(the per-column aggregates fuse into a single aggregate node; "
        "the output is exploded from one row), except exact distincts "
        "which Spark expands per-column -- at 100 TB swap "
        "approx_count_distinct into the same shape "
        "(approx_distinct_customers shows the HLL path). min/max "
        "stringified through one canonical format per type so both "
        "engines compare text, not type-display quirks.",
)
def q_profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")

    def prof(col: str, repr_fn) -> F.Column:
        return F.struct(
            F.lit(col).alias("column_name"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.count(col).cast("bigint").alias("n_nonnull"),
            F.countDistinct(col).cast("bigint").alias("n_distinct"),
            repr_fn(F.min(col)).alias("min_repr"),
            repr_fn(F.max(col)).alias("max_repr"),
        )

    as_str = lambda c: c.cast("string")  # noqa: E731
    as_date = lambda c: F.date_format(c, "yyyy-MM-dd")  # noqa: E731
    g = o.agg(
        prof("o_orderkey", as_str).alias("p1"),
        prof("o_custkey", as_str).alias("p2"),
        prof("o_orderstatus", as_str).alias("p3"),
        prof("o_orderpriority", as_str).alias("p4"),
        prof("o_orderdate", as_date).alias("p5"),
    )
    return g.select(
        F.explode(F.array("p1", "p2", "p3", "p4", "p5")).alias("r")
    ).select("r.*")


def _profile_hll_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw single-scan HLL profile WITH the estimate column.

    Used by the registered query (which projects the estimate into a
    cross-engine-deterministic sanity bound) and by the ±5% twin test
    (tests/test_traps.py), which validates the estimate VALUES against
    the exact twin — raw HLL estimates can't be oracle-hashed because
    Spark's HLL++ and DuckDB's sketch use different register layouts.
    """
    o = table(spark, sf_dir, "orders")

    def prof(col: str, repr_fn) -> F.Column:
        return F.struct(
            F.lit(col).alias("column_name"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.count(col).cast("bigint").alias("n_nonnull"),
            F.approx_count_distinct(col, rsd=0.01).cast("bigint").alias(
                "n_distinct_approx"),
            repr_fn(F.min(col)).alias("min_repr"),
            repr_fn(F.max(col)).alias("max_repr"),
        )

    as_str = lambda c: c.cast("string")  # noqa: E731
    as_date = lambda c: F.date_format(c, "yyyy-MM-dd")  # noqa: E731
    g = o.agg(
        prof("o_orderkey", as_str).alias("p1"),
        prof("o_custkey", as_str).alias("p2"),
        prof("o_orderstatus", as_str).alias("p3"),
        prof("o_orderpriority", as_str).alias("p4"),
        prof("o_orderdate", as_date).alias("p5"),
    )
    return g.select(
        F.explode(F.array("p1", "p2", "p3", "p4", "p5")).alias("r")
    ).select("r.*")


@register(
    "profile_orders_columns_hll",
    # HYBRID oracle (VERDICT r4 Next-round #5): every exact field of
    # the profile (rows / non-null / min / max reprs) is hash-checked
    # cross-engine; the HLL estimate itself is engine-specific (Spark
    # HLL++ vs DuckDB's sketch differ in register layout and hash), so
    # it enters the comparable output only through a deterministic
    # sanity bound — estimate ∈ [1, ceil(1.05·n_nonnull)], which the
    # oracle mirrors with the exact distinct (always inside the bound;
    # rsd=0.01 puts a >5% overshoot ~5σ out, and HLL++ is deterministic
    # on fixed data). Raw estimate values stay validated by the ±5%
    # exact-twin unit test via _profile_hll_frame.
    oracle="""
WITH t AS (SELECT * FROM orders)
SELECT 'o_orderkey' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(o_orderkey) AS BIGINT) AS n_nonnull,
       CAST(MIN(o_orderkey) AS VARCHAR) AS min_repr,
       CAST(MAX(o_orderkey) AS VARCHAR) AS max_repr,
       COUNT(DISTINCT o_orderkey)
         BETWEEN 1 AND CAST(CEIL(1.05 * COUNT(o_orderkey)) AS BIGINT)
         AS approx_distinct_sane
FROM t
UNION ALL
SELECT 'o_custkey', COUNT(*), COUNT(o_custkey),
       CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR),
       COUNT(DISTINCT o_custkey)
         BETWEEN 1 AND CAST(CEIL(1.05 * COUNT(o_custkey)) AS BIGINT)
FROM t
UNION ALL
SELECT 'o_orderstatus', COUNT(*), COUNT(o_orderstatus),
       MIN(o_orderstatus), MAX(o_orderstatus),
       COUNT(DISTINCT o_orderstatus)
         BETWEEN 1 AND CAST(CEIL(1.05 * COUNT(o_orderstatus)) AS BIGINT)
FROM t
UNION ALL
SELECT 'o_orderpriority', COUNT(*), COUNT(o_orderpriority),
       MIN(o_orderpriority), MAX(o_orderpriority),
       COUNT(DISTINCT o_orderpriority)
         BETWEEN 1 AND CAST(CEIL(1.05 * COUNT(o_orderpriority)) AS BIGINT)
FROM t
UNION ALL
SELECT 'o_orderdate', COUNT(*), COUNT(o_orderdate),
       strftime(MIN(o_orderdate), '%Y-%m-%d'),
       strftime(MAX(o_orderdate), '%Y-%m-%d'),
       COUNT(DISTINCT o_orderdate)
         BETWEEN 1 AND CAST(CEIL(1.05 * COUNT(o_orderdate)) AS BIGINT)
FROM t
""",
    doc="The 100 TB variant of profile_orders_columns: identical "
        "single-scan profile shape with approx_count_distinct (HLL++, "
        "rsd 0.01) in place of exact COUNT(DISTINCT) — exact distincts "
        "expand the aggregate per column (one Expand row per column per "
        "input row), which at 100 TB multiplies shuffle volume by the "
        "column count; the HLL sketch is constant memory per column and "
        "keeps the whole profile in ONE pass with no expansion. This is "
        "the swap profile_orders_columns's doc promises "
        "(approx_distinct_customers shows the single-column path). "
        "Output exposes the exact profile fields plus the estimate's "
        "sanity verdict (see oracle note); raw estimates are available "
        "via approx_distinct_customers and the exact-twin test.",
)
def q_profile_orders_columns_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = _profile_hll_frame(spark, sf_dir)
    return f.select(
        "column_name", "n_rows", "n_nonnull", "min_repr", "max_repr",
        F.col("n_distinct_approx").between(
            F.lit(1),
            F.ceil(F.col("n_nonnull") * 1.05).cast("bigint"),
        ).alias("approx_distinct_sane"),
    )


@register(
    "theta_distinct_union_segments",
    # FULL hash-parity oracle: Datasketches theta sketches stay in
    # EXACT mode below their nominal capacity (2^12 = 4096 retained
    # hashes), and every customer set here is ~1.5k at the driver's
    # correctness scale (sf0.01), so the Spark estimates are exact
    # integers that DuckDB's exact set algebra reproduces bit-for-bit —
    # unlike HLL (profile_orders_columns_hll), which is estimation-mode
    # at any size and gets only a sanity-bound check. Above capacity
    # the estimates turn approximate by design (~1.6% rsd at lgk=12);
    # that regime is exercised perf-only by the K=100 stress row.
    oracle="""
    WITH seg AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 'hot' ELSE 'std' END AS segment,
             o_custkey
      FROM orders
    ), h AS (SELECT DISTINCT o_custkey FROM seg WHERE segment = 'hot'),
       s AS (SELECT DISTINCT o_custkey FROM seg WHERE segment = 'std')
    SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS distinct_customers
    FROM seg GROUP BY 1
    UNION ALL SELECT 'union', CAST(NULL AS BIGINT),
      (SELECT CAST(COUNT(*) AS BIGINT)
       FROM (SELECT * FROM h UNION SELECT * FROM s))
    UNION ALL SELECT 'intersection', CAST(NULL AS BIGINT),
      (SELECT CAST(COUNT(*) AS BIGINT)
       FROM (SELECT * FROM h INTERSECT SELECT * FROM s))
    UNION ALL SELECT 'hot_only', CAST(NULL AS BIGINT),
      (SELECT CAST(COUNT(*) AS BIGINT)
       FROM (SELECT * FROM h EXCEPT SELECT * FROM s))
    UNION ALL SELECT 'std_only', CAST(NULL AS BIGINT),
      (SELECT CAST(COUNT(*) AS BIGINT)
       FROM (SELECT * FROM s EXCEPT SELECT * FROM h))
    """,
    doc="Theta-sketch distinct-count algebra over customer segments "
        "(VERDICT r5 item 8): per-segment theta sketches of o_custkey "
        "built in ONE orders scan, then UNION / INTERSECTION / "
        "DIFFERENCE estimated sketch-side — the scalable upgrade over "
        "HLL, which can only union. At 100 TB: each executor holds one "
        "bounded (≤4096-entry) sketch per segment, sketches merge "
        "map-side (partial aggregation), and the set algebra runs on "
        "two kilobyte-sized binaries — exact COUNT(DISTINCT) set "
        "algebra would shuffle every distinct key once per set "
        "expression. The 2-row sketch relation is lineage-truncated so "
        "the per-segment branch and the algebra branch share ONE fact "
        "scan (plan-pinned: zero parquet scans in the final plan).",
)
def q_theta_distinct_union_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import truncate_lineage

    o = table(spark, sf_dir, "orders")
    seg = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit("hot")
    ).otherwise(F.lit("std"))
    sk = truncate_lineage(
        o.select(seg.alias("segment"), "o_custkey")
        .groupBy("segment")
        .agg(
            F.theta_sketch_agg("o_custkey").alias("sk"),
            F.count("*").alias("n_orders"),
        )
    )
    per_segment = sk.select(
        "segment", "n_orders",
        F.round(F.theta_sketch_estimate("sk")).cast("bigint")
        .alias("distinct_customers"),
    )
    # pivot the two sketches into one row, then run the set algebra on
    # kilobyte binaries (first() is deterministic here: exactly one
    # non-null candidate per conditional). coalesce(1) first (r13): the
    # relation is 2 rows in `shuffle.partitions` slots, and Spark's
    # theta_intersection_agg throws "no intervening intersections" when
    # a PARTIAL agg partition is empty (the empty intersection is the
    # infinite set) — AQE masks this by coalescing, but the result must
    # not depend on AQE (pinned by test_results_invariant_under_aqe_
    # toggle, which genuinely runs AQE-off since the r13 tune() cache
    # stopped re-enabling it mid-test). Narrow coalesce, no shuffle,
    # order-insensitive algebra — results identical.
    alg = sk.coalesce(1).agg(
        F.first(F.when(F.col("segment") == "hot", F.col("sk")),
                ignorenulls=True).alias("hsk"),
        F.first(F.when(F.col("segment") == "std", F.col("sk")),
                ignorenulls=True).alias("ssk"),
        F.theta_union_agg("sk").alias("usk"),
        F.theta_intersection_agg("sk").alias("isk"),
    )
    algebra = (
        alg.select(F.expr(
            "stack(4, 'union', usk, 'intersection', isk, "
            "'hot_only', theta_difference(hsk, ssk), "
            "'std_only', theta_difference(ssk, hsk)) AS (segment, s)"
        ))
        .select(
            "segment",
            F.lit(None).cast("bigint").alias("n_orders"),
            F.round(F.theta_sketch_estimate("s")).cast("bigint")
            .alias("distinct_customers"),
        )
    )
    return per_segment.unionByName(algebra)


def _theta_daily_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day theta sketch relation over orders — the PRE-AGGREGATED
    SKETCH TABLE of a production distinct-count dashboard: one bounded
    binary + exact counts per day, persistable as parquet and
    incrementally maintainable (new days append; history is never
    re-scanned). Lineage-truncated because both the month rollup and
    the all-time row re-aggregate it."""
    from ..session import truncate_lineage

    o = table(spark, sf_dir, "orders")
    return truncate_lineage(
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.theta_sketch_agg("o_custkey").alias("sk"),
            F.count("*").alias("n_orders"),
        )
    )


@register(
    "theta_sketch_rollup_daily",
    # Same exact-mode premise as theta_distinct_union_segments: every
    # per-day set (≤ ~60 customers at sf0.01) and every merged set
    # (≤ 1500) is far below the 4096-entry nominal capacity, so the
    # re-aggregated estimates are exact integers and DuckDB's exact
    # COUNT(DISTINCT) reproduces them bit-for-bit.
    oracle="""
    WITH base AS (
      SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
             CAST(o_orderdate AS DATE) AS day, o_custkey
      FROM orders
    )
    SELECT month,
           CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS distinct_customers
    FROM base GROUP BY 1
    UNION ALL
    SELECT 'ALL',
           CAST(COUNT(DISTINCT day) AS BIGINT),
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
    FROM base
    """,
    doc="Re-aggregable sketch-table rollup (the production pattern for "
        "100 TB distinct-count dashboards): per-DAY theta sketches of "
        "o_custkey are built once in one orders scan, then month-level "
        "and all-time distinct-customer counts come from MERGING the "
        "daily sketches (theta_union_agg over binaries) — the fact is "
        "never re-scanned for a coarser grain, which is exactly how a "
        "pre-aggregated sketch table amortizes: new days append, every "
        "rollup reads |days| kilobyte rows. Exact-mode regime makes the "
        "sf0.01 oracle full hash-parity vs exact COUNT(DISTINCT); "
        "estimation regime (~1.6% rsd) is the documented 100 TB "
        "behavior, exercised perf-only at K=100. Plan-pinned: zero "
        "parquet scans in the final plan (both grains read the "
        "truncated daily relation).",
)
def q_theta_sketch_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _theta_daily_sketches(spark, sf_dir)
    est = lambda c: F.round(F.theta_sketch_estimate(c)).cast("bigint")  # noqa: E731
    monthly = daily.groupBy(
        F.date_format("day", "yyyy-MM").alias("month")
    ).agg(
        F.count("*").alias("n_days"),
        F.sum("n_orders").alias("n_orders"),
        est(F.theta_union_agg("sk")).alias("distinct_customers"),
    )
    alltime = daily.agg(
        F.lit("ALL").alias("month"),
        F.count("*").alias("n_days"),
        F.sum("n_orders").alias("n_orders"),
        est(F.theta_union_agg("sk")).alias("distinct_customers"),
    ).select("month", "n_days", "n_orders", "distinct_customers")
    return monthly.unionByName(alltime)


@register(
    "theta_retention_weekly",
    # Exact-mode premise as the other theta oracles: weekly customer
    # sets at sf0.01 are <=~400 (<< 4096 retained hashes), so every
    # union/intersection/difference estimate is the exact set
    # cardinality and DuckDB's exact set algebra matches bit-for-bit
    # (guarded by test_exact_mode_oracle_premises_hold_at_driver_scale).
    oracle="""
    WITH wk AS (
      SELECT DISTINCT date_trunc('week', CAST(o_orderdate AS DATE))::DATE
               AS week, o_custkey AS c
      FROM orders
    ), act AS (
      SELECT week, CAST(COUNT(*) AS BIGINT) AS active FROM wk GROUP BY 1
    ), ret AS (
      SELECT a.week, CAST(COUNT(*) AS BIGINT) AS returning
      FROM wk a JOIN wk b ON b.week = a.week + 7 AND b.c = a.c
      GROUP BY 1
    )
    SELECT a.week AS week, a.active AS active,
           n.active AS active_next,
           COALESCE(r.returning, 0) AS returning,
           a.active - COALESCE(r.returning, 0) AS churned,
           n.active - COALESCE(r.returning, 0) AS new_next,
           CAST((1000 * COALESCE(r.returning, 0)) // a.active AS BIGINT)
             AS retention_permille
    FROM act a
    JOIN act n ON n.week = a.week + 7
    LEFT JOIN ret r ON r.week = a.week
    """,
    doc="Week-over-week retention from the theta sketch table (VERDICT "
        "r6 item 8 — the retention-analytics pattern): per-DAY customer "
        "sketches re-aggregate to weekly sketches (theta_union_agg), "
        "then each week joins its successor and active / returning "
        "(intersection) / churned / new (differences) all come from "
        "SKETCH algebra on kilobyte binaries — the fact table is "
        "scanned once to build the daily sketch table and never again, "
        "which is how a 100 TB retention dashboard amortizes: any "
        "cohort window (w+1, w+4, month-over-month) is another sketch "
        "join over the same standing table, not a fact re-scan. Exact "
        "regime at sf0.01 makes the oracle full hash-parity vs exact "
        "set algebra; ~1.6% rsd estimation at 100 TB is the documented "
        "behavior. Integer permille retention (BIGINT DIV) keeps the "
        "ratio engine-exact.",
)
def q_theta_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import truncate_lineage

    daily = _theta_daily_sketches(spark, sf_dir)
    # weekly sketch table: ~350 rows at sf0.01 — truncated because both
    # join sides read it (zero parquet scans in the final plan)
    weekly = truncate_lineage(
        daily.groupBy(
            F.date_trunc("week", "day").cast("date").alias("week")
        ).agg(F.theta_union_agg("sk").alias("sk"))
    )
    est = lambda c: F.round(F.theta_sketch_estimate(c)).cast("bigint")  # noqa: E731
    cur = weekly.select("week", F.col("sk").alias("ska"))
    nxt = weekly.select(F.col("week").alias("wb"), F.col("sk").alias("skb"))
    return (
        cur.join(F.broadcast(nxt), F.date_add("week", 7) == F.col("wb"))
        .select(
            "week",
            est(F.col("ska")).alias("active"),
            est(F.col("skb")).alias("active_next"),
            est(F.theta_intersection("ska", "skb")).alias("returning"),
            est(F.theta_difference("ska", "skb")).alias("churned"),
            est(F.theta_difference("skb", "ska")).alias("new_next"),
        )
        .withColumn(
            "retention_permille",
            F.expr("CAST(1000 * returning DIV active AS BIGINT)"),
        )
    )


@register(
    "file_provenance_audit",
    # The driver's oracle runs against pre-registered VIEWS, which
    # carry no filename pseudo-column — but the driver corpus stores
    # each table as ONE parquet file (premise pinned in
    # tests/test_round8b.py), so the literal basename below both
    # supplies the join key AND asserts Spark's input_file_name()
    # basename extraction. Multi-file behavior is pinned by a unit
    # test over a 3-file write and exercised at K=100.
    oracle="""
    SELECT 'lineitem.parquet' AS file,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(l_orderkey) AS BIGINT) AS min_orderkey,
           CAST(max(l_orderkey) AS BIGINT) AS max_orderkey,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
    FROM lineitem
    """,
    doc="Row provenance at FILE grain: per input parquet file of the "
        "lineitem fact — row count, orderkey span, distinct parts. The "
        "100 TB debugging primitive (which file carried the bad batch; "
        "which files a compaction should rewrite; is the ingest "
        "clustered by key). input_file_name() evaluates in the scan "
        "stage (zero extra I/O); the audit is one map-side-combinable "
        "aggregate at file grain",
)
def q_file_provenance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.withColumn(
            "file",
            F.regexp_extract(F.input_file_name(), "[^/]+$", 0))
        .groupBy("file")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_orderkey").alias("min_orderkey"),
            F.max("l_orderkey").alias("max_orderkey"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
    )
