"""Temporal join surface — as-of join, range join, sessionization.

The reference has no temporal joins (SURVEY.md §2.5: only broadcast
equi-join + pair-mining self-join), so these are engine-surface
extensions over the ``events`` table, each built shuffle-minimal
(operators/asof.py documents the plans) and oracle-checked.
"""

from __future__ import annotations

from ..operators.asof import (
    ORACLE_ASOF,
    ORACLE_RANGE_TIERS,
    asof_join_events_orders,
    asof_join_events_orders_bucketed,
    oracle_sessionize,
    range_join_event_tiers,
    sessionize_events,
)
from .registry import register

register(
    "asof_join",
    oracle=ORACLE_ASOF,
    doc="As-of join: each event ↔ latest prior order of the same "
        "customer; union + last(ignorenulls) window, one shuffle",
)(asof_join_events_orders)

register(
    "asof_join_bucketed",
    oracle=ORACLE_ASOF,
    doc="Skew-hardened as-of join: same relation, windowed per "
        "(key, time-bucket) with cross-bucket carry — every window "
        "partition bounded by per-bucket traffic, hot keys included",
)(asof_join_events_orders_bucketed)

register(
    "range_join_tiers",
    oracle=ORACLE_RANGE_TIERS,
    doc="Range join events→value tiers via broadcast nested-loop "
        "(tiny range dim ⇒ linear scan, no shuffle)",
)(range_join_event_tiers)

register(
    "sessionize",
    oracle=oracle_sessionize(),
    doc="Gap-based sessionization (30 min): lag + cumulative-sum window, "
        "single shuffle on user_id",
)(sessionize_events)


from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ..catalog import table  # noqa: E402
from ..functions.datetime_utils import sale_date  # noqa: E402
from ..functions.money import dsum, oracle_dsum  # noqa: E402
from ..session import truncate_lineage  # noqa: E402

#: range_join_grid cell-count memo, (id(session), sf_dir) → int: the
#: adaptive N_CELLS needs one ladder.count() action at plan-construction
#: time; memoized so repeated builds in one session pay it once.
_N_CELLS_MEMO: dict = {}


@register(
    "funnel_view_click_purchase",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(ts) FILTER (WHERE event_type = 'view')     AS t_view,
             min(ts) FILTER (WHERE event_type = 'click')    AS t_click,
             min(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
      FROM events GROUP BY 1
    )
    SELECT
      COUNT(*) FILTER (WHERE t_view IS NOT NULL) AS n_view,
      COUNT(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view) AS n_view_click,
      COUNT(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view
                         AND t_purchase > t_click) AS n_view_click_purchase
    FROM firsts
    """,
    doc="Ordered funnel view→click→purchase: one agg computes each "
        "user's first event-time per stage (conditional min — no "
        "per-user sort or array build), then stage counts require "
        "strictly increasing times. Two shuffles total (user_id, then "
        "global), state O(stages) per user — the shape that survives "
        "billions of events",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    first_of = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    firsts = e.groupBy("user_id").agg(
        first_of("view").alias("t_view"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_purchase"),
    )
    stage1 = F.col("t_view").isNotNull()
    stage2 = stage1 & (F.col("t_click") > F.col("t_view"))
    stage3 = stage2 & (F.col("t_purchase") > F.col("t_click"))
    return firsts.agg(
        F.count(F.when(stage1, 1)).alias("n_view"),
        F.count(F.when(stage2, 1)).alias("n_view_click"),
        F.count(F.when(stage3, 1)).alias("n_view_click_purchase"),
    )


@register(
    "weekly_retention",
    oracle="""
    WITH active AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
    )
    SELECT strftime(a.week, '%Y-%m-%d') AS week,
           COUNT(*) AS n_active,
           COUNT(*) FILTER (WHERE b.user_id IS NOT NULL) AS n_retained
    FROM active a
    LEFT JOIN active b
      ON a.user_id = b.user_id AND b.week = a.week - INTERVAL 7 DAY
    GROUP BY 1
    """,
    doc="Weekly retention cohort: per week, active users and how many "
        "were also active the prior week. Implemented as lag over each "
        "user's distinct-week sequence — ONE shuffle on user_id (the "
        "oracle's self-join form shuffles twice; the window form is the "
        "plan that scales)",
)
def q_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = table(spark, sf_dir, "events")
    active = e.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("week")
    flagged = active.withColumn(
        "retained",
        (F.datediff(F.col("week"), F.lag("week").over(w)) == 7).cast("int"),
    )
    return flagged.groupBy(
        F.date_format("week", "yyyy-MM-dd").alias("week")
    ).agg(
        F.count("*").alias("n_active"),
        F.coalesce(F.sum("retained"), F.lit(0)).alias("n_retained"),
    )


@register(
    "funnel_step_times",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(ts) FILTER (WHERE event_type = 'view')     AS t_view,
             min(ts) FILTER (WHERE event_type = 'click')    AS t_click,
             min(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
      FROM events GROUP BY 1
    ), steps AS (
      SELECT
        CASE WHEN t_view IS NOT NULL AND t_click > t_view
             THEN epoch_us(t_click) - epoch_us(t_view) END AS us_view_click,
        CASE WHEN t_view IS NOT NULL AND t_click > t_view
              AND t_purchase > t_click
             THEN epoch_us(t_purchase) - epoch_us(t_click) END
          AS us_click_purchase
      FROM firsts
    )
    SELECT CAST(COUNT(us_view_click) AS BIGINT) AS n_view_click,
           median(us_view_click) AS median_us_view_click,
           round(CAST(SUM(us_view_click) AS DOUBLE) / COUNT(us_view_click), 6)
             AS avg_us_view_click,
           CAST(COUNT(us_click_purchase) AS BIGINT) AS n_click_purchase,
           median(us_click_purchase) AS median_us_click_purchase,
           round(CAST(SUM(us_click_purchase) AS DOUBLE)
                 / COUNT(us_click_purchase), 6) AS avg_us_click_purchase
    FROM steps
    """,
    doc="Funnel step-time distribution: for users advancing through the "
        "strictly-ordered view->click->purchase funnel (same firsts "
        "relation as funnel_view_click_purchase), the per-step "
        "conversion delay in exact microseconds with exact median "
        "(integer micros -> dyadic midpoints) and exact-ratio mean -- "
        "the 'how long does conversion take' companion to the 'how "
        "many convert' funnel. Same two-shuffle shape (user_id rollup, "
        "then a global 1-row aggregate whose exact median buffers only "
        "funnel completers).",
)
def q_funnel_step_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    first_of = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    firsts = e.groupBy("user_id").agg(
        first_of("view").alias("t_view"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_purchase"),
    )
    s2 = F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view"))
    s3 = s2 & (F.col("t_purchase") > F.col("t_click"))
    steps = firsts.select(
        F.when(s2, F.unix_micros("t_click") - F.unix_micros("t_view"))
        .alias("us_view_click"),
        F.when(s3, F.unix_micros("t_purchase") - F.unix_micros("t_click"))
        .alias("us_click_purchase"),
    )
    return steps.agg(
        F.count("us_view_click").cast("bigint").alias("n_view_click"),
        F.expr("percentile(us_view_click, 0.5)").alias("median_us_view_click"),
        F.round(
            F.sum("us_view_click").cast("double") / F.count("us_view_click"), 6
        ).alias("avg_us_view_click"),
        F.count("us_click_purchase").cast("bigint").alias("n_click_purchase"),
        F.expr("percentile(us_click_purchase, 0.5)")
        .alias("median_us_click_purchase"),
        F.round(
            F.sum("us_click_purchase").cast("double")
            / F.count("us_click_purchase"), 6
        ).alias("avg_us_click_purchase"),
    )


@register(
    "rolling_28d_active_users",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), bounds AS (
      SELECT MIN(d) AS mn, MAX(d) AS mx FROM ud
    ), spine AS (
      SELECT CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
                                         CAST(mx AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS d
      FROM bounds
    )
    SELECT strftime(s.d, '%Y-%m-%d') AS date,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS mau_28d
    FROM spine s
    JOIN ud u ON u.d BETWEEN s.d - 27 AND s.d
    GROUP BY 1
    """,
    doc="Rolling 28-day active users per day (the MAU curve): exact "
        "sliding-window distinct users. Distinct counts do not "
        "decompose over sliding frames, so the scalable shape is the "
        "day-expansion trick: each distinct (user, active-day) pair "
        "explodes to the <= 28 output days it supports -- a CONSTANT "
        "28x duplication of the user-day relation (already collapsed "
        "from raw events), then one distinct + count per day. No "
        "window over an unbounded frame, no per-day re-scan; the "
        "oracle's range self-join is the same relation stated "
        "relationally. Output restricted to the observed day span "
        "(days whose trailing window begins before the data are still "
        "reported, matching the oracle spine).",
)
def q_rolling_28d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    # The collapsed user-day relation feeds the bounds aggregate AND the
    # day expansion; materialize it once (users × days — far smaller
    # than raw events) so the events scan + distinct shuffle run once.
    ud = truncate_lineage(
        e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    )
    bounds = ud.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
    expanded = (
        ud.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("d"),
                    F.least(F.date_add(F.col("d"), 27), F.col("mx")),
                    F.expr("interval 1 day"),
                )
            ).alias("out_d"),
        )
        .distinct()
    )
    return expanded.groupBy(
        F.date_format("out_d", "yyyy-MM-dd").alias("date")
    ).agg(F.count("*").cast("bigint").alias("mau_28d"))


@register(
    "activity_heatmap",
    oracle="""
    SELECT CAST((CAST(dayofweek(ts) AS INT) + 6) % 7 AS INT) AS dow,
           CAST(extract(hour FROM ts) AS INT) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1, 2
    """,
    doc="Weekday x hour activity heatmap (Mon=0 pandas weekday parity "
        "via functions.datetime_utils): event and distinct-user counts "
        "per cell -- the when-are-users-active dashboard relation. One "
        "scan, one 168-cell rollup with map-side combine; the distinct "
        "count expands per cell but the key space is the fixed 7x24 "
        "grid. DuckDB dayofweek is Sunday=0, Spark's is Sunday=1; both "
        "sides normalize to Monday=0 explicitly.",
)
def q_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.datetime_utils import pandas_weekday

    e = table(spark, sf_dir, "events")
    return e.groupBy(
        pandas_weekday(F.col("ts")).alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


@register(
    "stickiness_dau_mau",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), bounds AS (
      SELECT MIN(d) AS mn, MAX(d) AS mx FROM ud
    ), spine AS (
      SELECT CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
                                         CAST(mx AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS d
      FROM bounds
    ), dau AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1
    ), mau AS (
      SELECT s.d, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS mau_28d
      FROM spine s JOIN ud u ON u.d BETWEEN s.d - 27 AND s.d
      GROUP BY 1
    )
    SELECT strftime(m.d, '%Y-%m-%d') AS date,
           COALESCE(a.dau, 0) AS dau, m.mau_28d,
           round(CAST(COALESCE(a.dau, 0) AS DOUBLE) / m.mau_28d, 6)
             AS stickiness
    FROM mau m LEFT JOIN dau a ON a.d = m.d
    """,
    doc="DAU/MAU(28d) stickiness per day -- the engagement-intensity "
        "ratio product analytics tracks beside the MAU curve. Composes "
        "the collapsed user-day relation both ways: straight per-day "
        "distinct count (DAU) and the constant-28x day-expansion "
        "(MAU28, the rolling_28d_active_users shape); the ratio is an "
        "exact-integer division rounded at 6dp. Days inside the span "
        "with zero activity report DAU 0, not a gap.",
)
def q_stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    # ud feeds three consumers (bounds, DAU, the MAU day-expansion);
    # materialize the collapsed user-day relation once — see
    # q_rolling_28d_active_users.
    ud = truncate_lineage(
        e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    )
    bounds = ud.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
    dau = ud.groupBy("d").agg(F.count("*").cast("bigint").alias("dau"))
    mau = (
        ud.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("d"),
                    F.least(F.date_add(F.col("d"), 27), F.col("mx")),
                    F.expr("interval 1 day"),
                )
            ).alias("out_d"),
        )
        .distinct()
        .groupBy("out_d")
        .agg(F.count("*").cast("bigint").alias("mau_28d"))
    )
    return (
        mau.join(dau, mau.out_d == dau.d, "left")
        .select(
            F.date_format("out_d", "yyyy-MM-dd").alias("date"),
            F.coalesce(F.col("dau"), F.lit(0)).cast("bigint").alias("dau"),
            "mau_28d",
            F.round(
                F.coalesce(F.col("dau"), F.lit(0)).cast("double")
                / F.col("mau_28d"), 6
            ).alias("stickiness"),
        )
    )


@register(
    "range_join_grid",
    oracle="""
    WITH ladder AS (
      SELECT p_retailprice AS price, MAX(p_partkey) AS pk
      FROM part GROUP BY 1
    ),
    pts AS (
      SELECT l_orderkey, l_extendedprice / l_quantity AS up
      FROM lineitem WHERE l_quantity > 0
    )
    SELECT pk AS p_partkey,
           COUNT(*) AS n_items,
           CAST(SUM(l_orderkey) AS BIGINT) AS orderkey_checksum
    FROM pts ASOF JOIN ladder ON pts.up >= ladder.price
    GROUP BY 1 ORDER BY 1
    """,
    doc="Grid-cell range join with TWO LARGE SIDES — the scale path "
        "SCALE.md names next to range_join_tiers (whose broadcast "
        "nested-loop is only right when one side is tiny). Semantics: "
        "price as-of — each lineitem's unit price matches the greatest "
        "part retail price <= it (ties broken by max partkey), rolled "
        "up to items-per-rung. Plan: bucketize the range key into a "
        "ladder-adaptive cell count (floor 4096, target <=64 rungs per "
        "cell — bounds the in-cell expansion on unbounded range-key "
        "domains); rungs land in exactly ONE cell each "
        "(intervals are implicit, so no interval replication at all); "
        "points hash-equi-join their own cell and take the in-cell max "
        "under the EXACT predicate; rungs from strictly lower cells are "
        "folded in via a per-cell running-max carry table (the "
        "cross-bucket carry pattern of asof_join_bucketed) joined "
        "broadcast. Work is one cell-keyed hash shuffle of each side + "
        "a cells-sized summary — never a nested loop over two fact "
        "tables; the only windows run over the N_GRID_CELLS-row spine. "
        "AQE skew-join splits hot cells (price skew).",
)
def q_range_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    part = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem")

    # rungs: one per DISTINCT price (deterministic tie-break = max pk).
    # Rung-table-sized and consumed by THREE subplans (domain stats,
    # cell summaries, the grid join probe side) — materialized once so
    # the part scan doesn't re-embed per consumer (scan-count pinned).
    ladder = truncate_lineage(
        part.groupBy(F.col("p_retailprice").alias("price")).agg(
            F.max("p_partkey").alias("pk")))
    stats = ladder.agg(F.min("price").alias("lo"), F.max("price").alias("hi"))

    # Cell count ADAPTS to the ladder (VERDICT r4 What's-wrong #2): a
    # fixed 4096 bounds nothing when the range-key domain is unbounded —
    # per-cell rung population (and so the pts×rungs in-cell expansion)
    # grows as n_rungs/4096. Deriving cells from the rung count keeps
    # per-cell rungs ≤ TARGET_RUNGS_PER_CELL at ANY ladder size; the
    # 4096 floor (~shuffle-partitions × 128) preserves join parallelism
    # on small ladders, and hot cells (price skew) still split via AQE
    # skew-join. The count() is one action on the already-materialized
    # ladder, not a recompute. Spine/carry windows stay O(n_cells) —
    # linear in ladder size, negligible next to either fact side.
    TARGET_RUNGS_PER_CELL = 64
    # the count() is an eager action at plan-construction time; memoize
    # it per (session, corpus) so repeated builds (schema inspection,
    # bench re-runs, the oracle harness) trigger it once (ADVICE r5).
    # Keyed by applicationId, not id(spark): id() can be reused after a
    # stopped session is garbage-collected, silently serving a stale
    # ladder count to a new session (ADVICE r6) — applicationId is
    # unique per SparkContext, matching _SHINGLE_CACHE's discipline.
    memo_key = (spark.sparkContext.applicationId, sf_dir)
    if memo_key not in _N_CELLS_MEMO:
        if len(_N_CELLS_MEMO) > 64:
            _N_CELLS_MEMO.clear()
        _N_CELLS_MEMO[memo_key] = max(
            4096, ladder.count() // TARGET_RUNGS_PER_CELL)
    N_CELLS = _N_CELLS_MEMO[memo_key]

    def cell_of(c: F.Column) -> F.Column:
        w = F.greatest(
            (F.col("hi") - F.col("lo")) / F.lit(N_CELLS), F.lit(1e-9))
        raw = F.floor((c - F.col("lo")) / w)
        return F.least(F.greatest(raw, F.lit(0)), F.lit(N_CELLS - 1))

    rungs = ladder.crossJoin(F.broadcast(stats)).select(
        cell_of(F.col("price")).alias("cell"), "price", "pk")

    pts = (
        li.filter(F.col("l_quantity") > 0)
        .select(
            "l_orderkey", "l_linenumber",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("up"),
        )
        .crossJoin(F.broadcast(stats))
        .select("l_orderkey", "l_linenumber", "up",
                cell_of(F.col("up")).alias("cell"))
    )

    # per-cell best rung over a FULL 0..N-1 spine, then the carry =
    # best rung of any strictly lower cell (every lower-cell price is
    # < every point value in this cell, by cell arithmetic) — a window
    # over exactly N_CELLS rows, constant-bounded at any corpus size
    spine = stats.select(
        F.explode(F.sequence(F.lit(0), F.lit(N_CELLS - 1))).alias("cell"))
    summ = rungs.groupBy("cell").agg(
        F.max(F.struct("price", "pk")).alias("best"))
    w_carry = Window.orderBy("cell").rowsBetween(
        Window.unboundedPreceding, -1)
    carry = (
        spine.join(summ, "cell", "left")
        .withColumn("carry", F.max("best").over(w_carry))
        .select("cell", "carry")
    )

    # THE grid join: points x rungs on cell (hash), exact predicate
    # inside the in-cell max; no rung => null, resolved by the carry
    per_pt = (
        pts.join(rungs, "cell", "left")
        .groupBy("l_orderkey", "l_linenumber", "cell", "up")
        .agg(F.max(F.when(F.col("price") <= F.col("up"),
                          F.struct("price", "pk"))).alias("best_in"))
        .join(F.broadcast(carry), "cell", "left")
        .withColumn(
            "best",
            F.when(F.col("best_in").isNull(), F.col("carry"))
            .when(F.col("carry").isNull(), F.col("best_in"))
            .when(F.col("best_in") >= F.col("carry"), F.col("best_in"))
            .otherwise(F.col("carry")),
        )
        .filter(F.col("best").isNotNull())
    )
    return (
        per_pt.groupBy(F.col("best.pk").alias("p_partkey"))
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.sum("l_orderkey").cast("bigint").alias("orderkey_checksum"),
        )
        .orderBy("p_partkey")
    )


@register(
    "ohlc_hourly",
    oracle=f"""
    SELECT event_type,
           strftime(ts, '%Y-%m-%d') AS date,
           CAST(extract(hour FROM ts) AS INT) AS hour,
           struct_extract(min({{'t': ts, 'i': event_id, 'v': value}}), 'v')
             AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           struct_extract(max({{'t': ts, 'i': event_id, 'v': value}}), 'v')
             AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {oracle_dsum('value', 'volume_value')}
    FROM events GROUP BY 1, 2, 3
    """,
    doc="OHLC downsampling bars — open/high/low/close of the event "
        "value per (event_type, hour) bucket plus tick count and exact "
        "volume: the standard resample primitive for telemetry and "
        "market series (pandas resample().ohlc()). open/close are "
        "SELECTIONS via min/max over a (ts, event_id, value) struct — "
        "lexicographic struct ordering gives first/last-by-time with a "
        "deterministic event_id tie-break, and both engines order "
        "structs field-by-field so the oracle mirrors the selection "
        "exactly. The whole bar is ONE aggregate over ONE scan with "
        "map-side partial aggregation and a single shuffle on the "
        "bucket key — no window and no per-bucket time sort (a "
        "row_number formulation would sort every bucket). Spark plans "
        "it as SortAggregate (struct/string buffers aren't "
        "hash-mutable; min_by/max_by and string-encoded min hit the "
        "same fallback — measured, not assumed), whose sort is on the "
        "GROUP KEY only and combines partials map-side exactly like "
        "the hash form. high/low/volume are plain aggregates; volume "
        "is the exact decimal sum.",
)
def q_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    tick = F.struct(F.col("ts").alias("t"), F.col("event_id").alias("i"),
                    F.col("value").alias("v"))
    return (
        e.groupBy(
            "event_type",
            sale_date("ts").alias("date"),
            F.hour("ts").alias("hour"),
        )
        .agg(
            F.min(tick)["v"].alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(tick)["v"].alias("close"),
            F.count("*").cast("bigint").alias("n_events"),
            dsum("value", "volume_value"),
        )
    )


# ---------------------------------------------------------------------------
# windowFunnel: max funnel depth within a sliding time window per user
# ---------------------------------------------------------------------------

#: Sliding window length (24 h) in microseconds — timestamps carry
#: sub-second precision, so both engines compare exact BIGINT micros
#: (unix_micros / epoch_us), never truncated seconds.
_WF_WINDOW_US = 24 * 3600 * 1_000_000

#: Funnel stage codes. At equal-micros ties the (t, code) sort puts the
#: earlier stage first, matching the oracle's non-strict (>=) chain
#: semantics — correctness cannot depend on tie luck.
_WF_CODE = ("CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2"
            " ELSE 3 END")


@register(
    "window_funnel",
    oracle=f"""
    WITH fe AS (
      SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS t,
             {_WF_CODE} AS c
      FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ), d3 AS (
      SELECT DISTINCT v.user_id FROM fe v
      JOIN fe c ON c.user_id = v.user_id AND c.c = 2
               AND c.t >= v.t AND c.t <= v.t + {_WF_WINDOW_US}
      JOIN fe p ON p.user_id = v.user_id AND p.c = 3
               AND p.t >= c.t AND p.t <= v.t + {_WF_WINDOW_US}
      WHERE v.c = 1
    ), d2 AS (
      SELECT DISTINCT v.user_id FROM fe v
      JOIN fe c ON c.user_id = v.user_id AND c.c = 2
               AND c.t >= v.t AND c.t <= v.t + {_WF_WINDOW_US}
      WHERE v.c = 1
    ), d1 AS (
      SELECT DISTINCT user_id FROM fe WHERE c = 1
    ), depth AS (
      SELECT u.user_id,
             CASE WHEN u.user_id IN (SELECT user_id FROM d3) THEN 3
                  WHEN u.user_id IN (SELECT user_id FROM d2) THEN 2
                  WHEN u.user_id IN (SELECT user_id FROM d1) THEN 1
                  ELSE 0 END AS funnel_depth
      FROM (SELECT DISTINCT user_id FROM fe) u
    )
    SELECT funnel_depth, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM depth GROUP BY 1 ORDER BY funnel_depth
    """,
    doc="ClickHouse-style windowFunnel: each user's MAXIMUM "
        "view→click→purchase depth where every step falls inside a "
        "sliding 24 h window anchored at the chain's view — unlike "
        "funnel_view_click_purchase's first-touch stages, a user who "
        "converts months after first browsing counts only if SOME "
        "window contains the whole chain. The oracle states it as "
        "EXISTS self-joins (quadratic/cubic per user); the Spark plan "
        "runs a LINEAR per-user DP instead: events sort once per user "
        "by (micros, stage), then one array fold carries (latest view "
        "start s1, latest depth-2 chain start s2, best depth) — a "
        "later window start strictly dominates, so greatest() state is "
        "provably lossless vs the EXISTS form, and the two engines "
        "cross-validate ALGORITHMS, not just arithmetic. Exactness: "
        "chains compare exact BIGINT microseconds end to end. Scale: "
        "funnel-type filter at the scan, one user_id shuffle, state "
        "O(1) per event in the fold; per-user sequences are bounded "
        "by per-user activity (collect_list of the 3 funnel types "
        "only), the same bound every sessionization operator here "
        "already carries.",
)
def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "click", "purchase"))
        .select(
            "user_id",
            F.expr("unix_micros(ts)").alias("t"),
            F.expr(_WF_CODE).alias("c"))
    )
    seqs = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("t", "c"))).alias("seq"))
    w = _WF_WINDOW_US
    depth = seqs.select(
        "user_id",
        F.expr(f"""
        aggregate(
          seq,
          struct(CAST(NULL AS BIGINT) AS s1, CAST(NULL AS BIGINT) AS s2,
                 0 AS d),
          (st, e) -> CASE
            WHEN e.c = 1 THEN struct(
              greatest(coalesce(st.s1, e.t), e.t) AS s1, st.s2 AS s2,
              greatest(st.d, 1) AS d)
            WHEN e.c = 2 AND st.s1 IS NOT NULL
                 AND e.t <= st.s1 + {w} THEN struct(
              st.s1 AS s1, greatest(coalesce(st.s2, st.s1), st.s1) AS s2,
              greatest(st.d, 2) AS d)
            WHEN e.c = 3 AND st.s2 IS NOT NULL
                 AND e.t <= st.s2 + {w} THEN struct(
              st.s1 AS s1, st.s2 AS s2, 3 AS d)
            ELSE st END,
          st -> st.d) AS funnel_depth
        """))
    return (
        depth.groupBy("funnel_depth")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .orderBy("funnel_depth")
    )


from ..operators.timewarp import (  # noqa: E402
    dtw_seasonal_cogrouped,
    dtw_seasonal_similarity,
    oracle_dtw_seasonal,
)

register(
    "dtw_seasonal_similarity",
    oracle=oracle_dtw_seasonal(),
    doc="Per-product dynamic-time-warping distance between the 1996 and "
        "1997 monthly revenue curves — shift-tolerant seasonal "
        "similarity. Registered shape: native dense-array build + one "
        "key join + mapInPandas DP VECTORIZED across the Arrow batch "
        "axis (one Python call per ~10k products; the per-key cogroup "
        "boundary measured 224 s at K=100 vs ~10 s batched). Oracle "
        "unrolls the identical 12×12 DP one MATERIALIZED CTE per row, "
        "so the float64 kernel is value-hash CONFIRMED bit-for-bit; "
        "pointwise L1 rides along as the no-warp baseline",
)(dtw_seasonal_similarity)

#: Registered key slice for the cogroup exhibit (VERDICT r8 wrong-item
#: 1): partkeys ≡ 0 mod 16 — the per-key-Python cost model is already
#: measured (224 s vs 36 s at K=100), so the registry keeps the API
#: shape + oracle + bit-equality coverage at 1/16 the bench cost.
DTW_COGROUP_KEY_MOD = 16

register(
    "dtw_seasonal_cogrouped",
    oracle=oracle_dtw_seasonal(key_mod=DTW_COGROUP_KEY_MOD),
    doc="The same DTW relation through cogroup().applyInPandas — the "
        "grouped-pandas surface for genuinely per-key-pair algorithms, "
        "correct when series are variable-length/irregular (per-key "
        "state stays bounded by the key's own data). For the fixed "
        "12-month case the batched variant is ~20× cheaper at K=100, "
        "so the registered query runs the partkey ≡ 0 mod 16 slice — "
        "same cogroup plan shape, same oracle (sliced identically), "
        "1/16 the per-key Python cost per bench round; bit-identical "
        "to the batched path on the shared keys (pinned by test)",
)(lambda spark, sf_dir: dtw_seasonal_cogrouped(
    spark, sf_dir, key_mod=DTW_COGROUP_KEY_MOD))


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing — the sequential-recurrence-as-fold op

#: Smoothing constants. BOTH complements are explicit literals — never
#: computed as 1−α — because parse(0.7) and 1−parse(0.3) differ by one
#: ULP, which would break Spark↔DuckDB bit-parity of the recurrence.
HOLT_ALPHA = "0.3"
HOLT_ALPHA_C = "0.7"
HOLT_BETA = "0.1"
HOLT_BETA_C = "0.9"

_HOLT_FOLD = f"""
aggregate(
  slice(vals, 2, size(vals) - 1),
  named_struct(
    'l', element_at(vals, 1),
    't', element_at(vals, 2) - element_at(vals, 1)),
  (acc, x) -> named_struct(
    'l', {HOLT_ALPHA}D * x + {HOLT_ALPHA_C}D * (acc.l + acc.t),
    't', {HOLT_BETA}D * (({HOLT_ALPHA}D * x + {HOLT_ALPHA_C}D * (acc.l + acc.t)) - acc.l)
         + {HOLT_BETA_C}D * acc.t)
)
"""

_HOLT_ORACLE = f"""
    WITH RECURSIVE daily AS (
      SELECT l_partkey, CAST(l_shipdate AS DATE) AS day,
             CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS rev
      FROM lineitem WHERE year(l_shipdate) = 1997
      GROUP BY 1, 2
    ), arrs AS (
      SELECT l_partkey, list(rev ORDER BY day) AS vals
      FROM daily GROUP BY 1 HAVING count(*) >= 2
    ), s AS (
      SELECT l_partkey, vals, CAST(len(vals) AS INT) AS n, 1 AS k,
             vals[1] AS l, vals[2] - vals[1] AS t
      FROM arrs
      UNION ALL
      SELECT l_partkey, vals, n, k + 1,
             CAST({HOLT_ALPHA} AS DOUBLE) * vals[k + 1]
               + CAST({HOLT_ALPHA_C} AS DOUBLE) * (l + t),
             CAST({HOLT_BETA} AS DOUBLE) *
               ((CAST({HOLT_ALPHA} AS DOUBLE) * vals[k + 1]
                 + CAST({HOLT_ALPHA_C} AS DOUBLE) * (l + t)) - l)
               + CAST({HOLT_BETA_C} AS DOUBLE) * t
      FROM s WHERE k < n
    )
    SELECT l_partkey, n AS n_days,
           round(l, 6) AS level, round(t, 6) AS trend,
           round(l + t, 6) AS forecast_next
    FROM s WHERE k = n
"""


@register(
    "holt_linear_daily",
    oracle=_HOLT_ORACLE,
    doc="Holt double-exponential smoothing (α=0.3, β=0.1) over each "
        "product's 1997 daily revenue: level/trend recurrence as a "
        "row-local aggregate() fold over the sorted value array — the "
        "idiomatic Spark shape for a sequential recurrence (state is "
        "O(1), history collapses into one array per key, NO window-"
        "over-everything or driver loop). DuckDB oracle runs the same "
        "recurrence as a recursive CTE; identical literal complements "
        "keep float64 bit-parity, so the driver hash CONFIRMS every "
        "smoothing step transitively",
)
def q_holt_linear_daily(spark, sf_dir):
    from pyspark.sql import functions as F

    from ..catalog import table
    # range predicate (not year()==1997) so the filter reaches the
    # parquet scan's PushedFilters / row-group stats
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    daily = li.groupBy(
        "l_partkey", F.to_date("l_shipdate").alias("day")
    ).agg(dsum("l_extendedprice * (1 - l_discount)",
               "rev", dec="decimal(18,4)"))
    arrs = (
        daily.groupBy("l_partkey")
        .agg(F.array_sort(F.collect_list(F.struct("day", "rev"))).alias("s"))
        .select("l_partkey", F.expr("transform(s, x -> x.rev)").alias("vals"))
        .filter(F.size("vals") >= 2)
    )
    st = F.expr(_HOLT_FOLD)
    return arrs.select(
        "l_partkey",
        F.size("vals").cast("int").alias("n_days"),
        st.alias("st"),
    ).select(
        "l_partkey", "n_days",
        F.round(F.col("st.l"), 6).alias("level"),
        F.round(F.col("st.t"), 6).alias("trend"),
        F.round(F.col("st.l") + F.col("st.t"), 6).alias("forecast_next"),
    )


# ---------------------------------------------------------------------------
# Holt-Winters additive triple smoothing — level + trend + weekly season

HW_A, HW_AC = "0.2", "0.8"    # level α / complement (explicit literals:
HW_B, HW_BC = "0.1", "0.9"    # 1−parse(α) differs from parse(1−α) by a
HW_G, HW_GC = "0.3", "0.7"    # ULP and would break float64 bit-parity
HW_M = 7                       # weekly season
HW_DAYS = 365                  # dense 1997 grid


def _hw_chain(acc: str, lo: int, hi: int) -> str:
    """Left-assoc sum chain — both engines parse `a + b + c` the same."""
    return " + ".join(acc.format(i=i) for i in range(lo, hi + 1))


def _hw_oracle() -> str:
    el = "arr[{i}]"
    m1 = f"(({_hw_chain(el, 1, 7)}) / CAST(7 AS DOUBLE))"
    m2 = f"(({_hw_chain(el, 8, 14)}) / CAST(7 AS DOUBLE))"
    s0 = ", ".join(f"arr[{i}] - {m1}" for i in range(1, HW_M + 1))
    return f"""
    WITH RECURSIVE daily AS (
      SELECT l_partkey, CAST(l_shipdate AS DATE) AS day,
             CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY 1, 2
    ), keys AS (
      SELECT DISTINCT l_partkey FROM daily
    ), grid AS (
      SELECT k.l_partkey, gs.day, coalesce(d.rev, CAST(0 AS DOUBLE)) AS rev
      FROM keys k
      CROSS JOIN (SELECT CAST(unnest(generate_series(
           DATE '1997-01-01', DATE '1997-12-31', INTERVAL 1 DAY)) AS DATE)
           AS day) gs
      LEFT JOIN daily d ON d.l_partkey = k.l_partkey AND d.day = gs.day
    ), arrs AS (
      SELECT l_partkey, list(rev ORDER BY day) AS arr
      FROM grid GROUP BY 1
    ), rec AS (
      SELECT l_partkey, arr, {HW_M} AS k,
             {m1} AS l,
             ({m2} - {m1}) / CAST(7 AS DOUBLE) AS t,
             [{s0}]::DOUBLE[] AS s
      FROM arrs
      UNION ALL
      SELECT l_partkey, arr, k + 1, lnew,
             CAST({HW_B} AS DOUBLE) * (lnew - l)
               + CAST({HW_BC} AS DOUBLE) * t,
             list_append(s[2:{HW_M}],
                 CAST({HW_G} AS DOUBLE) * (x - lnew)
                   + CAST({HW_GC} AS DOUBLE) * s1)
      FROM (
        SELECT l_partkey, arr, k, l, t, s, s[1] AS s1, arr[k + 1] AS x,
               CAST({HW_A} AS DOUBLE) * (arr[k + 1] - s[1])
                 + CAST({HW_AC} AS DOUBLE) * (l + t) AS lnew
        FROM rec
      ) WHERE k < {HW_DAYS}
    )
    SELECT l_partkey,
           round(l, 6) AS level,
           round(t, 6) AS trend,
           round(s[1], 6) AS season_next,
           round(l + t + s[1], 6) AS forecast_next
    FROM rec WHERE k = {HW_DAYS}
    """


@register(
    "holt_winters_daily",
    oracle=_hw_oracle(),
    doc="Holt-Winters ADDITIVE triple smoothing (α=0.2, β=0.1, γ=0.3, "
        "weekly season m=7) over each product's dense zero-filled 1997 "
        "daily revenue — the DENSE fixed-length recurrence, so the "
        "Python boundary follows the DTW lesson: mapInPandas with the "
        "365-step loop VECTORIZED ACROSS KEYS per Arrow batch, and "
        "the dense grid scattered from sparse (idx, rev) pairs INSIDE "
        "the kernel (26 s at K=100). Two measured dead ends document "
        "why: the native aggregate() fold read 280 s (HOF lambdas "
        "evaluate on the interpreted expression path — 716M steps × "
        "~30 nodes is interpretation overhead, not arithmetic; the "
        "SPARSE-series holt_linear_daily keeps the fold, correctly), "
        "and a JVM map-lookup densify ALSO read 280 s "
        "(element_at(map) is an O(n) linear probe on "
        "ArrayBasedMapData — 365 × O(365) per key). Season init = "
        "first-week deviations from the "
        "first-week mean, trend init = week-over-week mean delta / 7. "
        "The DuckDB oracle runs the identical recurrence as a "
        "recursive CTE carrying the same 7-slot seasonal list, every "
        "complement an explicit literal, so all 358 float64 steps are "
        "bit-confirmed by the driver hash",
)
def q_holt_winters_daily(spark, sf_dir):
    from pyspark.sql import functions as F

    from ..catalog import table
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    daily = li.groupBy(
        "l_partkey", F.to_date("l_shipdate").alias("day")
    ).agg(dsum("l_extendedprice * (1 - l_discount)",
               "rev", dec="decimal(18,4)"))
    # the dense grid materializes INSIDE the numpy kernel as a scatter:
    # building it JVM-side with element_at(map, day) costs an O(|map|)
    # linear probe per lookup (ArrayBasedMapData has no hash index) —
    # 365 × O(365) per key was the actual 280 s at K=100, not the fold
    arrs = (
        daily.select(
            "l_partkey",
            F.datediff(F.col("day"),
                       F.lit("1997-01-01").cast("date")).cast("int")
            .alias("idx"),
            "rev",
        )
        .groupBy("l_partkey")
        .agg(F.collect_list(F.struct("idx", "rev")).alias("pairs"))
    )

    def hw_batches(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            v = np.zeros((len(pdf), HW_DAYS), dtype=np.float64)
            for row_i, pairs in enumerate(pdf["pairs"]):
                for p in pairs:
                    v[row_i, p["idx"]] = p["rev"]
            m1 = v[:, 0].copy()  # left-assoc chain, the oracle's order
            for i in range(1, HW_M):
                m1 = m1 + v[:, i]
            m1 = m1 / 7.0
            m2 = v[:, HW_M].copy()
            for i in range(HW_M + 1, 2 * HW_M):
                m2 = m2 + v[:, i]
            m2 = m2 / 7.0
            lv, tr = m1, (m2 - m1) / 7.0
            s = [v[:, i] - m1 for i in range(HW_M)]
            for k in range(HW_M, HW_DAYS):
                x = v[:, k]
                ln = 0.2 * (x - s[0]) + 0.8 * (lv + tr)
                tr = 0.1 * (ln - lv) + 0.9 * tr
                s = s[1:] + [0.3 * (x - ln) + 0.7 * s[0]]
                lv = ln
            yield pd.DataFrame({
                "l_partkey": pdf["l_partkey"],
                "l": lv, "t": tr, "s1": s[0],
            })

    st = arrs.mapInPandas(
        hw_batches, "l_partkey bigint, l double, t double, s1 double")
    return st.select(
        "l_partkey",
        F.round(F.col("l"), 6).alias("level"),
        F.round(F.col("t"), 6).alias("trend"),
        F.round(F.col("s1"), 6).alias("season_next"),
        F.round(F.col("l") + F.col("t") + F.col("s1"), 6)
        .alias("forecast_next"),
    )
