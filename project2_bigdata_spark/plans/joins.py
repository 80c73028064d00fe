"""Join-family and set-operator completeness (SURVEY.md §2.5/§2.6 notes).

The reference needs only a broadcast left equi-join and one self-join;
Spark gives the rest free — this module claims that surface explicitly
with oracle-checked queries: semi/anti joins, full outer join,
INTERSECT/EXCEPT, CUBE grouping sets, pivot, and distinct aggregates.

Scale notes are per-query; the common theme: dimension sides broadcast,
fact-fact joins shuffle on their equi-keys and AQE handles skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.datetime_utils import sale_date
from ..functions.money import cents, cents_to_double, dsum, oracle_dsum
from .registry import register


@register(
    "semi_join_active_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="LEFT SEMI join: customers with at least one order. Semi join "
        "never duplicates the left side — no post-join distinct needed; "
        "the orders side is reduced to its join key before the shuffle",
)
def q_semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
    )


@register(
    "anti_join_inactive_customers",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="LEFT ANTI join: customers with no orders (the classic "
        "quality-check shape: orphaned dimension rows)",
)
def q_anti_join_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


@register(
    "full_outer_daily_activity",
    oracle=f"""
    WITH od AS (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS date,
             {oracle_dsum('o_totalprice', 'order_revenue')}
      FROM orders GROUP BY 1
    ), ev AS (
      SELECT strftime(ts, '%Y-%m-%d') AS date,
             {oracle_dsum('value', 'event_value')}
      FROM events GROUP BY 1
    )
    SELECT COALESCE(od.date, ev.date) AS date, order_revenue, event_value
    FROM od FULL OUTER JOIN ev ON od.date = ev.date
    """,
    doc="FULL OUTER join of two pre-aggregated daily series (orders "
        "revenue vs events value) — aggregate-then-join keeps both "
        "shuffle inputs at day-grain cardinality, not fact size",
)
def q_full_outer_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = (
        table(spark, sf_dir, "orders")
        .groupBy(sale_date("o_orderdate").alias("date"))
        .agg(dsum("o_totalprice", "order_revenue"))
    )
    ev = (
        table(spark, sf_dir, "events")
        .groupBy(sale_date("ts").alias("date"))
        .agg(dsum("value", "event_value"))
    )
    return (
        od.alias("od").join(ev.alias("ev"), "date", "full_outer")
        .select(F.col("date"), "order_revenue", "event_value")
    )


def _year_products(spark: SparkSession, sf_dir: str, year: int) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    p = table(spark, sf_dir, "part")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.year("o_orderdate") == year)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(F.col("p_name").alias("product"))
        .distinct()
    )


_YEAR_PRODUCTS_SQL = """
  SELECT DISTINCT p_name AS product
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                JOIN part   ON l_partkey = p_partkey
  WHERE year(o_orderdate) = {y}
"""


@register(
    "products_intersect_years",
    oracle=(_YEAR_PRODUCTS_SQL.format(y=1995)
            + " INTERSECT " + _YEAR_PRODUCTS_SQL.format(y=1996)),
    doc="INTERSECT: products sold in both 1995 and 1996. Year filters "
        "prune at the orders scan; distinct before the set op keeps the "
        "intersect inputs product-sized",
)
def q_products_intersect_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _year_products(spark, sf_dir, 1995).intersect(
        _year_products(spark, sf_dir, 1996)
    )


@register(
    "products_except_years",
    oracle=(_YEAR_PRODUCTS_SQL.format(y=1995)
            + " EXCEPT " + _YEAR_PRODUCTS_SQL.format(y=1996)),
    doc="EXCEPT: products sold in 1995 but not 1996",
)
def q_products_except_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _year_products(spark, sf_dir, 1995).exceptAll(
        _year_products(spark, sf_dir, 1996)
    ).distinct()


@register(
    "cube_status_priority",
    oracle=f"""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
           COUNT(*) AS n, {oracle_dsum('o_totalprice', 'total_revenue')}
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE grouping sets over (status, priority) with grouping_id — "
        "all four grouping combinations in ONE pass (partial aggregation "
        "expands grouping sets map-side; same single shuffle as a plain "
        "groupBy)",
)
def q_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.cube(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count("*").alias("n"),
            dsum("o_totalprice", "total_revenue"),
        )
        .select("status", "priority", "gid", "n", "total_revenue")
    )


_STATUSES = ["F", "O", "P"]


@register(
    "pivot_priority_by_status",
    oracle=f"""
    SELECT o_orderpriority AS priority,
           {', '.join(
               "CAST(CAST(SUM(CAST(CASE WHEN o_orderstatus = '" + s
               + "' THEN o_totalprice END AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)"
               + f" AS revenue_{s}" for s in _STATUSES)}
    FROM orders GROUP BY 1
    """,
    doc="Pivot (long→wide): revenue by priority × status with an explicit "
        "value list — explicit values keep the plan one-pass (no extra "
        "distinct-values job) and make the output schema static",
)
def q_pivot_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    piv = (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", _STATUSES)
        .agg(dsum("o_totalprice"))
    )
    return piv.select(
        "priority", *[F.col(s).alias(f"revenue_{s}") for s in _STATUSES]
    )


@register(
    "distinct_aggregates",
    oracle="""
    SELECT o_orderpriority AS priority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           CAST(CAST(SUM(DISTINCT CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
             AS sum_distinct_price,
           COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
    doc="Distinct aggregates (SURVEY.md §2.4 'missing from reference' "
        "list): COUNT(DISTINCT) + SUM(DISTINCT) per group — Spark "
        "rewrites into expand + two-phase agg automatically",
)
def q_distinct_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            # distinct CENTS ↔ distinct 2dp decimals is a bijection for
            # exact-2dp money, so SUM(DISTINCT) is value-identical (r13)
            cents_to_double(
                F.sum_distinct(cents(F.col("o_totalprice"))))
            .alias("sum_distinct_price"),
            F.count("*").alias("n"),
        )
    )


@register(
    "approx_distinct_customers",
    # Upgraded rows-only → FULL hash parity (VERDICT r6 item 3) via the
    # exact-mode regime the theta queries proved in round 6: a
    # Datasketches theta sketch retains every hash below its nominal
    # capacity (2^12 = 4096), so its estimate is the EXACT distinct
    # count — and every per-priority customer set at the driver's
    # correctness scale (sf0.01, ~1.5k customers) is far below that.
    # DuckDB's exact COUNT(DISTINCT) therefore matches bit-for-bit.
    # Above capacity the same plan degrades gracefully to ~1.6% rsd
    # estimation (the documented 100 TB behavior, perf-exercised at
    # K=100); the HLL++ estimation-mode path stays covered by
    # profile_orders_columns_hll and the ±5% trap test.
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS approx_customers
    FROM orders GROUP BY 1
    """,
    doc="Constant-memory distinct customers per priority via theta "
        "sketches (exact below 4096 retained hashes — hash-parity "
        "oracle at sf0.01; ~1.6%% rsd estimation at 100 TB). One orders "
        "scan, bounded map-side partials. The HLL++ twin lives in "
        "profile_orders_columns_hll and the ±5%% trap test.",
)
def q_approx_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.round(F.theta_sketch_estimate(F.theta_sketch_agg("o_custkey")))
             .cast("bigint").alias("approx_customers"))
    )


@register(
    "unpivot_status_revenue",
    oracle=f"""
    WITH wide AS (
      SELECT o_orderpriority AS priority,
             {', '.join(
                 "CAST(CAST(SUM(CAST(CASE WHEN o_orderstatus = '" + s
                 + "' THEN o_totalprice END AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)"
                 + f" AS revenue_{s}" for s in _STATUSES)}
      FROM orders GROUP BY 1
    )
    SELECT priority, status, revenue
    FROM wide UNPIVOT (revenue FOR status IN (revenue_F AS 'F',
                                              revenue_O AS 'O',
                                              revenue_P AS 'P'))
    """,
    doc="Unpivot (wide→long), the inverse of pivot_priority_by_status: "
        "melt the per-status revenue columns back to rows via stack() — "
        "row-local expression, no shuffle beyond the source aggregate. "
        "Nulls drop on both engines (UNPIVOT default ≡ stack + filter)",
)
def q_unpivot_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = q_pivot_priority_by_status(spark, sf_dir)
    stack_expr = "stack(3, " + ", ".join(
        f"'{s}', revenue_{s}" for s in _STATUSES
    ) + ") AS (status, revenue)"
    return (
        wide.select("priority", F.expr(stack_expr))
        .filter(F.col("revenue").isNotNull())
    )


@register(
    "salted_join_segment_value",
    oracle=f"""
    SELECT c.c_mktsegment AS segment, e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {oracle_dsum('e.value', 'total_value')}
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
    doc="Skew-hardened fact ⋈ dim equi-join through "
        "operators/skew.salted_join: per-segment event rollup where the "
        "user dimension is joined SHUFFLED (shuffle_hash hint — the 100 "
        "TB case where the dim is billions of users, too big to "
        "broadcast) and hot user keys (bots / power users — events."
        "user_id is a long-tail key by construction) are spread across "
        "16 reducers by a deterministic salt on stable row attributes "
        "(event_id, not monotonically_increasing_id, so results are "
        "identical under any partitioning / AQE re-plan). The dim side "
        "is replicated once per salt value via explode — worth it "
        "exactly when |dim| × n_salts ≪ the hot key's fact volume. "
        "Results are salt-invariant (oracle is the plain join); the "
        "salted ShuffledHashJoin shape is plan-pinned in "
        "tests/test_plan_shapes.py. This is the manual fallback for "
        "skew AQE can't split: AQE divides oversized partitions of ONE "
        "key only post-shuffle per stage; salting prevents the hot "
        "partition from forming at all and composes with the map-side "
        "partial aggregate above it.",
)
def q_salted_join_segment_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    e = table(spark, sf_dir, "events")
    c = (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        # force the shuffled (non-broadcast) strategy the salt exists
        # for; locally the dim is tiny and would broadcast, which makes
        # the salt a no-op instead of exercising the scale path
        .hint("shuffle_hash")
    )
    j = salted_join(
        e, c, "user_id", "c_custkey", salt_cols=["event_id"], n_salts=16
    )
    return (
        j.groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            dsum("value", "total_value"),
        )
    )


@register(
    "bucketed_join_rollup",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
    doc="Fact-fact join through the BUCKETED layout (the single biggest "
        "shuffle lever at 100 TB): both facts are written bucketBy the "
        "join key through the production sink (sources.ingest."
        "write_bucketed), then joined bucket-to-bucket — with two "
        "same-bucketed sides the join plans with NO Exchange on either "
        "fact (pinned in tests/test_bucketing.py and the round-8b plan "
        "pin under a disabled broadcast threshold; at correctness scale "
        "the executed join may broadcast instead, which changes no "
        "values). The oracle is the plain shuffling join, so hash "
        "parity proves layout-invariance: bucketing changes WHERE rows "
        "sit, never what they join to. Bucket writes land in a "
        "session-tied spool (same lifecycle as the SCD1 state dirs); "
        "catalog names are unique per call",
)
def q_bucketed_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.ingest import read_bucketed_table, write_bucketed
    from ..streaming.runner import session_spool

    d = session_spool(spark, "bucketed_")
    tag = os.path.basename(d).replace("bucketed_", "")
    n_buckets = 8
    write_bucketed(table(spark, sf_dir, "orders"), f"bt_orders_{tag}",
                   f"{d}/orders", n_buckets, ["o_orderkey"])
    write_bucketed(table(spark, sf_dir, "lineitem"), f"bt_lineitem_{tag}",
                   f"{d}/lineitem", n_buckets, ["l_orderkey"])
    li = read_bucketed_table(spark, f"bt_lineitem_{tag}")
    o = read_bucketed_table(spark, f"bt_orders_{tag}")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            # decimal(18,4): money products are exact at 4dp — a 2dp
            # cast would round per-row, which is engine-ambiguous at
            # half boundaries (functions.money invariant)
            dsum("l_extendedprice * (1 - l_discount)",
                 "revenue", dec="decimal(18,4)"),
        )
    )
