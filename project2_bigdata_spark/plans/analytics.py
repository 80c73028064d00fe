"""Round-2 time-series & customer-analytics surface: calendar gap-fill
with forward-fill, exact rolling medians, Pareto (80/20) concentration,
exact-arithmetic EWMA smoothing, RFM scoring, order-status Markov
transitions, scale-correct equi-depth bucketing, blocked fuzzy matching
(edit distance), and BM25 ranking.

These extend the reference's pandas time-series toolkit (SURVEY.md §2.8
— shift loops, resample, idxmax) with the standard analytics operators a
warehouse user expects, each expressed as one declarative Spark plan
with a DuckDB oracle. Engine-portability rules as in plans/curation.py:
decimal-exact money, identical float expression trees on both sides,
rounding before any rank on transcendental outputs, deterministic
ORDER BY everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import table
from ..functions.money import (
    cents, cents_to_double, dec_to_double, dsum, oracle_dsum,
)
from ..operators.rank import global_ntile
from ..operators.salesviews import sale_lines
from ..session import truncate_lineage
from .registry import register

# ---------------------------------------------------------------------------
# Shared DATE-typed daily grain (product × date → exact totals)
# ---------------------------------------------------------------------------


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        sale_lines(spark, sf_dir)
        .groupBy(F.col("sale_ts").cast("date").alias("date"), "product")
        .agg(
            dsum("quantity", "total_quantity"),
            dsum("revenue", "total_revenue"),
        )
    )


_DAILY_SQL = f"""
WITH sale_lines AS (
  SELECT o_orderdate AS sale_ts, p_name AS product,
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


# ---------------------------------------------------------------------------
# Calendar gap-fill + forward-fill (time-series interpolation)
# ---------------------------------------------------------------------------


@register(
    "gap_fill_forward",
    oracle=_DAILY_SQL + """
    , bounds AS (
      SELECT product, min(date) AS mn, max(date) AS mx FROM daily GROUP BY 1
    ), spine AS (
      SELECT product,
             CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
                                         CAST(mx AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS d
      FROM bounds
    )
    SELECT s.product,
           strftime(s.d, '%Y-%m-%d') AS date,
           last_value(daily.total_revenue IGNORE NULLS) OVER (
             PARTITION BY s.product ORDER BY s.d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS revenue_ffill,
           CAST(daily.total_revenue IS NULL AS INT) AS is_filled
    FROM spine s
    LEFT JOIN daily ON daily.product = s.product AND daily.date = s.d
    """,
    doc="Dense per-product calendar with gap days forward-filled from "
        "the last observed revenue. The time-series regularization step "
        "every forecasting pipeline needs before lag features; the "
        "reference gets it implicitly from pandas resample. Plan is "
        "spine-FREE: lead() gives each observed day its successor, and "
        "explode(sequence(date, next-1)) emits the gap run carrying the "
        "fill value — one fact aggregation (the spine+left-join oracle "
        "shape would scan the fact twice: pruning defeats exchange "
        "reuse), one per-product window, row-local explode.",
)
def q_gap_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spine-free plan: each observed day explodes into the date run
    # [date, next_observed_date) carrying its own revenue — the union of
    # runs IS the dense [min, max] calendar per product, and the carried
    # value IS the forward fill. Equivalent to the oracle's
    # spine + left join + last_value(IGNORE NULLS) row-for-row, but with
    # ONE _daily subtree instead of two (column pruning made the
    # spine/daily subtrees differ, so Spark could not reuse the
    # fact-join exchange: 100 TB would pay the dominant join twice) and
    # no spine join at all — just one lead() window on the daily
    # dimension relation and a row-local explode.
    daily = _daily(spark, sf_dir)
    nxt = F.lead("date").over(Window.partitionBy("product").orderBy("date"))
    return (
        daily.withColumn("next_d", nxt)
        .select(
            "product",
            "total_revenue",
            F.col("date").alias("obs_date"),
            F.explode(
                F.sequence(
                    "date",
                    F.coalesce(F.date_sub("next_d", 1), "date"),
                )
            ).alias("d"),
        )
        .select(
            "product",
            F.date_format("d", "yyyy-MM-dd").alias("date"),
            F.col("total_revenue").alias("revenue_ffill"),
            (F.col("d") != F.col("obs_date")).cast("int").alias("is_filled"),
        )
    )


@register(
    "gap_fill_linear",
    oracle=_DAILY_SQL + """
    , bounds AS (
      SELECT product, min(date) AS mn, max(date) AS mx FROM daily GROUP BY 1
    ), spine AS (
      SELECT product,
             CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
                                         CAST(mx AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS d
      FROM bounds
    ), joined AS (
      SELECT s.product, s.d, daily.total_revenue AS rev
      FROM spine s
      LEFT JOIN daily ON daily.product = s.product AND daily.date = s.d
    ), anch AS (
      SELECT product, d, rev,
        last_value(rev IGNORE NULLS) OVER w_prev AS prev_rev,
        last_value(CASE WHEN rev IS NOT NULL THEN d END IGNORE NULLS)
          OVER w_prev AS prev_d,
        first_value(rev IGNORE NULLS) OVER w_next AS next_rev,
        first_value(CASE WHEN rev IS NOT NULL THEN d END IGNORE NULLS)
          OVER w_next AS next_d
      FROM joined
      WINDOW w_prev AS (PARTITION BY product ORDER BY d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             w_next AS (PARTITION BY product ORDER BY d
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT product, strftime(d, '%Y-%m-%d') AS date,
           CASE WHEN rev IS NOT NULL THEN rev
                ELSE CAST((CAST(ROUND(prev_rev * 100) AS BIGINT)
                             * ((next_d - prev_d) - (d - prev_d))
                           + CAST(ROUND(next_rev * 100) AS BIGINT)
                             * (d - prev_d))
                          // (next_d - prev_d) AS DOUBLE) / 100.0
           END AS revenue_interp,
           CAST(rev IS NULL AS INT) AS is_filled
    FROM anch
    """,
    doc="Dense per-product calendar with gap days LINEARLY interpolated "
        "between the surrounding observed anchors — the other half of "
        "pandas resample().interpolate() next to gap_fill_forward's "
        "ffill; the regularization a value-continuous series (price, "
        "level, gauge) wants where a flow series wants ffill/zero. Same "
        "spine-FREE plan as the ffill twin: lead() hands each observed "
        "day its successor date AND value, explode(sequence) emits the "
        "gap run, and the interpolation is row-local arithmetic on the "
        "run offset — one fact aggregation, one per-product window, no "
        "spine join (the oracle's spine+anchor-window shape would scan "
        "the fact twice at 100 TB). Float parity: the interpolated "
        "value is floor-to-cent of the exact rational "
        "(prev·(n-k) + next·k)/n computed ENTIRELY in BIGINT cents — "
        "money has no sub-cents, and rounding an ambiguous double at a "
        "decimal boundary is exactly where Spark (exact-binary "
        "BigDecimal) and DuckDB (shortest-repr) disagree (observed "
        "1e-6 flips on the k/n power-of-two midpoints of a round(…,6) "
        "formulation). The numerator is non-negative so floor = "
        "truncation and every engine's integer division agrees; the "
        "final cents/100.0 is one correctly-rounded IEEE op. Observed "
        "days pass the exact decimal-summed anchor through untouched.",
)
def q_gap_fill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    w = Window.partitionBy("product").orderBy("date")
    d2 = daily.select(
        "product", "date", "total_revenue",
        F.lead("date").over(w).alias("next_d"),
        F.lead("total_revenue").over(w).alias("next_rev"),
    )
    exploded = d2.select(
        "product", "date", "total_revenue", "next_d", "next_rev",
        F.explode(
            F.sequence("date", F.coalesce(F.date_sub("next_d", 1), "date"))
        ).alias("d"),
    )
    k = F.datediff("d", "date").cast("long")
    n = F.datediff("next_d", "date").cast("long")
    prev_c = cents(F.col("total_revenue"))
    next_c = cents(F.col("next_rev"))
    staged = exploded.select(
        "product", "date", "total_revenue", "d",
        (prev_c * (n - k) + next_c * k).alias("num_c"),
        n.alias("n_days"),
    )
    interp = cents_to_double(F.expr("num_c div n_days"))
    return staged.select(
        "product",
        F.date_format("d", "yyyy-MM-dd").alias("date"),
        F.when(F.col("d") == F.col("date"), F.col("total_revenue"))
        .otherwise(interp)
        .alias("revenue_interp"),
        (F.col("d") != F.col("date")).cast("int").alias("is_filled"),
    )


# ---------------------------------------------------------------------------
# Exact rolling median (7-row frame)
# ---------------------------------------------------------------------------

# Daily quantity totals are integer-valued doubles, so the even-count
# midpoint (a+b)/2 is exact binary arithmetic on BOTH engines regardless
# of each engine's interpolation formula — no float-parity risk.


@register(
    "rolling_median_7d",
    oracle=_DAILY_SQL + """
    SELECT product, strftime(date, '%Y-%m-%d') AS date,
           CAST(count(*) OVER w AS INT) AS n_obs,
           median(total_quantity) OVER w AS med_qty
    FROM daily
    WINDOW w AS (PARTITION BY product ORDER BY date
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    doc="Exact rolling median of daily quantity over the trailing 7 "
        "observed days per product (ROWS frame). Spark has no exact "
        "median window over sliding frames, so the operator materializes "
        "the ≤7-element frame with collect_list + sort_array and indexes "
        "the midpoints — O(frame log frame) per row, frame bounded by "
        "construction. The robust-smoothing twin of moving_avg_7d.",
)
def q_rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("product").orderBy("date").rowsBetween(-6, 0)
    arr = F.sort_array(F.collect_list("total_quantity").over(w))
    n = F.size(arr)
    med = (
        F.element_at(arr, ((n + 1) / 2).cast("int"))
        + F.element_at(arr, (n / 2 + 1).cast("int"))
    ) / 2
    return _daily(spark, sf_dir).select(
        "product",
        F.date_format("date", "yyyy-MM-dd").alias("date"),
        n.cast("int").alias("n_obs"),
        med.alias("med_qty"),
    )


# ---------------------------------------------------------------------------
# Pareto 80/20 revenue concentration
# ---------------------------------------------------------------------------


@register(
    "pareto_revenue_80",
    oracle=_DAILY_SQL + """
    , totals AS (
      SELECT product, SUM(CAST(total_revenue AS DECIMAL(18,2))) AS rev
      FROM daily GROUP BY 1
    )
    SELECT product,
           CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS total_revenue,
           CAST(row_number() OVER ord AS INT) AS rnk,
           CAST(CAST(SUM(rev) OVER (ord ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
             / CAST(CAST(SUM(rev) OVER () AS VARCHAR) AS DOUBLE) AS cum_share,
           CAST(CAST(CAST(SUM(rev) OVER (ord ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) - rev AS VARCHAR) AS DOUBLE)
                < 0.8 * CAST(CAST(SUM(rev) OVER () AS VARCHAR) AS DOUBLE)
                AS INT) AS in_top80
    FROM totals
    WINDOW ord AS (ORDER BY rev DESC, product)
    """,
    doc="Pareto concentration: products ranked by exact cents revenue, "
        "cumulative share of total, and the 80%%-coverage flag (a product "
        "is in the head while the revenue BEFORE it covers <80%% of "
        "total). Cumulative sums ride exact BIGINT cents until the final cast so "
        "cum_share is bit-identical across engines/partitionings. Scale: "
        "the window runs over the product dimension (already aggregated), "
        "not the fact table.",
)
def q_pareto_revenue_80(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BIGINT-cents accumulation (r13): rev orders identically in cents,
    # every window sum/difference is exact integer arithmetic, and the
    # decimal(38,2)/100 widen + string round-trip reproduces the
    # oracle's decimal digits for each final double.
    totals = (
        _daily(spark, sf_dir)
        .groupBy("product")
        .agg(F.sum(cents(F.col("total_revenue"))).alias("rev"))
    )
    ord_w = Window.orderBy(F.desc("rev"), F.asc("product"))
    cum = F.sum("rev").over(ord_w.rowsBetween(Window.unboundedPreceding, 0))
    tot = F.sum("rev").over(Window.partitionBy())
    return totals.select(
        "product",
        cents_to_double(F.col("rev")).alias("total_revenue"),
        F.row_number().over(ord_w).cast("int").alias("rnk"),
        (cents_to_double(cum) / cents_to_double(tot)).alias("cum_share"),
        (cents_to_double(cum - F.col("rev")) < 0.8 * cents_to_double(tot))
        .cast("int").alias("in_top80"),
    )


# ---------------------------------------------------------------------------
# EWMA smoothing with exact binary arithmetic (alpha = 0.5)
# ---------------------------------------------------------------------------

_EWMA_SPAN = 30


@register(
    "ewma_halving",
    oracle=_DAILY_SQL + f"""
    , framed AS (
      SELECT product, date,
             list(total_quantity) OVER (
               PARTITION BY product ORDER BY date
               ROWS BETWEEN {_EWMA_SPAN - 1} PRECEDING AND CURRENT ROW
             ) AS arr
      FROM daily
    )
    SELECT product, strftime(date, '%Y-%m-%d') AS date,
           CAST(len(arr) AS INT) AS n_obs,
           list_sum(list_transform(list_reverse(arr),
                    (x, i) -> x * (1.0 / CAST(1::BIGINT << (i - 1) AS DOUBLE))))
             / (2.0 - 1.0 / CAST(1::BIGINT << (len(arr) - 1) AS DOUBLE))
             AS ewma_qty
    FROM framed
    """,
    doc="Exponentially-weighted moving average of daily quantity, "
        "alpha=1/2 over a 30-observation horizon (pandas ewm adjust=True "
        "semantics: sum(w_i*x_i)/sum(w_i), w_i=(1-alpha)^i). alpha=1/2 "
        "makes every weight an exact power of two, so weights, products, "
        "and the normalizer are EXACT doubles — the result is bit-"
        "identical across engines and summation orders with zero "
        "rounding tolerance. One window pass per product; frame bounded "
        "at 30 rows.",
)
def q_ewma_halving(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: the numerator is a FLAT sum of 30 lag() terms instead of a
    # collect_list window + aggregate() fold — the array path
    # materialized a 30-element array and a per-step struct accumulator
    # for every output row (4.5M element copies at sf0.1). Exactness
    # makes the two formulations bit-identical in ANY order: quantities
    # are integers, each weight is a power of two, so every term and
    # every partial sum is an exact double (< 53 significant bits) —
    # verified row-for-row against the fold on the full sf0.1 frame.
    # Missing lags (frame shorter than SPAN) contribute exact 0.
    wp = Window.partitionBy("product").orderBy("date")
    wf = wp.rowsBetween(-(_EWMA_SPAN - 1), 0)
    daily = _daily(spark, sf_dir)
    num = F.col("total_quantity") * F.lit(1.0)
    for i in range(1, _EWMA_SPAN):
        num = num + (
            F.coalesce(F.lag("total_quantity", i).over(wp), F.lit(0.0))
            * F.lit(0.5 ** i))
    staged = daily.select(
        "product",
        F.date_format("date", "yyyy-MM-dd").alias("date"),
        F.count("*").over(wf).cast("int").alias("n_obs"),
        num.alias("num"),
    )
    return staged.select(
        "product", "date", "n_obs",
        F.expr(
            "num / (cast(2.0 as double) - cast(1.0 as double) / "
            "cast(shiftleft(1L, n_obs - 1) as double))"
        ).alias("ewma_qty"),
    )


# ---------------------------------------------------------------------------
# RFM customer scoring
# ---------------------------------------------------------------------------


@register(
    "rfm_scores",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey AS custkey,
             date_diff('day', CAST(max(o_orderdate) AS DATE),
                       (SELECT CAST(max(o_orderdate) AS DATE) FROM orders)) AS rec_days,
             COUNT(*) AS freq,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
                  AS DOUBLE) AS monetary
      FROM orders GROUP BY 1
    )
    SELECT custkey, CAST(rec_days AS INT) AS rec_days, freq, monetary,
           CAST(ntile(4) OVER (ORDER BY rec_days ASC,  custkey) AS INT) AS r_score,
           CAST(ntile(4) OVER (ORDER BY freq  DESC,    custkey) AS INT) AS f_score,
           CAST(ntile(4) OVER (ORDER BY monetary DESC, custkey) AS INT) AS m_score,
           CAST(ntile(4) OVER (ORDER BY rec_days ASC,  custkey) AS VARCHAR) ||
           CAST(ntile(4) OVER (ORDER BY freq  DESC,    custkey) AS VARCHAR) ||
           CAST(ntile(4) OVER (ORDER BY monetary DESC, custkey) AS VARCHAR) AS rfm
    FROM per_cust
    """,
    doc="RFM (recency/frequency/monetary) quartile scoring per customer: "
        "days since last order vs the global max date (broadcast scalar), "
        "order count, exact decimal spend; ntile(4) with a unique "
        "tie-break (custkey) so quartile assignment is deterministic on "
        "both engines. Scale: quartiles computed by operators/rank.py's "
        "two-phase global_ntile (range shuffle + per-range window + "
        "broadcast prefix offsets) — no single-partition window over the "
        "customer population; for threshold-based fact-scale bucketing "
        "see length_quantile_buckets.",
)
def q_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    maxd = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("gmax"))
    per_cust = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
            F.count("*").alias("freq"),
            dsum("o_totalprice", "monetary"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "custkey",
            F.datediff("gmax", "last_d").cast("int").alias("rec_days"),
            "freq",
            "monetary",
        )
    )
    # NTILE over the full customer population with no rank predicate is
    # the one window shape InferWindowGroupLimit can't save — a naive
    # Window.orderBy here single-partitions |customers| rows. Route
    # through the two-phase global_ntile (range shuffle + per-range
    # window + broadcast offsets): bit-identical buckets (the custkey
    # tie-break makes the order total), fully parallel. operators/rank.py
    d = per_cust.select("custkey", "rec_days", "freq", "monetary")
    d = global_ntile(d, [F.asc("rec_days"), F.asc("custkey")], 4, out="r_score")
    d = global_ntile(d, [F.desc("freq"), F.asc("custkey")], 4, out="f_score")
    d = global_ntile(d, [F.desc("monetary"), F.asc("custkey")], 4, out="m_score")
    return d.select(
        "custkey", "rec_days", "freq", "monetary",
        "r_score", "f_score", "m_score",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("rfm"),
    )


# ---------------------------------------------------------------------------
# Order-status Markov transition matrix
# ---------------------------------------------------------------------------


@register(
    "markov_status_transitions",
    oracle="""
    WITH seq AS (
      SELECT o_custkey,
             o_orderstatus AS status,
             lag(o_orderstatus) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey) AS prev_status
      FROM orders
    )
    SELECT prev_status, status, COUNT(*) AS n,
           COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY prev_status)
                           AS DOUBLE) AS p
    FROM seq WHERE prev_status IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="First-order Markov transition matrix over each customer's "
        "order-status sequence (lag window ordered by date+key, then "
        "count per (prev,curr) with row-conditional probability). The "
        "sequence window shuffles once on custkey; the transition matrix "
        "is |states|^2 rows. Integer/integer division → identical "
        "doubles on both engines.",
)
def q_markov_status_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = (
        table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.col("o_orderstatus").alias("status"),
            F.lag("o_orderstatus").over(w).alias("prev_status"),
        )
        .where(F.col("prev_status").isNotNull())
    )
    counts = seq.groupBy("prev_status", "status").agg(F.count("*").alias("n"))
    tot = F.sum("n").over(Window.partitionBy("prev_status"))
    return counts.select(
        "prev_status", "status", "n", (F.col("n") / tot.cast("double")).alias("p")
    )


# ---------------------------------------------------------------------------
# Equi-depth bucketing at fact scale (histogram + threshold broadcast)
# ---------------------------------------------------------------------------


@register(
    "length_quantile_buckets",
    oracle="""
    WITH hist AS (
      SELECT n_chars, COUNT(*) AS c FROM documents GROUP BY 1
    ), cum AS (
      SELECT n_chars,
             SUM(c) OVER (ORDER BY n_chars
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             (SELECT COUNT(*) FROM documents) AS n
      FROM hist
    ), thr AS (
      SELECT min(CASE WHEN cw >= CAST(ceil(0.25 * n) AS BIGINT) THEN n_chars END) AS q1,
             min(CASE WHEN cw >= CAST(ceil(0.50 * n) AS BIGINT) THEN n_chars END) AS q2,
             min(CASE WHEN cw >= CAST(ceil(0.75 * n) AS BIGINT) THEN n_chars END) AS q3
      FROM cum
    )
    SELECT CAST(1 + CAST(d.n_chars > t.q1 AS INT)
                  + CAST(d.n_chars > t.q2 AS INT)
                  + CAST(d.n_chars > t.q3 AS INT) AS INT) AS bucket,
           COUNT(*) AS n_docs,
           min(d.n_chars) AS min_chars,
           max(d.n_chars) AS max_chars,
           SUM(d.n_chars) / CAST(COUNT(*) AS DOUBLE) AS avg_chars
    FROM documents d, thr t
    GROUP BY 1
    """,
    doc="Equi-depth quartile bucketing of documents by length, the "
        "100 TB-correct way: quantile thresholds come from a value-domain "
        "HISTOGRAM (group by n_chars, cumulate over the tiny distinct-"
        "value relation) instead of a global sort/ntile; the 1-row "
        "threshold relation is broadcast back over the corpus. Threshold "
        "selection is percentile_disc semantics (min value whose "
        "cumulative count reaches ceil(q*n)) — pure integer logic, "
        "engine-exact. The curriculum/length-sharding primitive for "
        "training-data pipelines.",
)
def q_length_quantile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    hist = docs.groupBy("n_chars").agg(F.count("*").alias("c"))
    cum = hist.select(
        "n_chars",
        F.sum("c")
        .over(Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cw"),
    ).crossJoin(F.broadcast(docs.agg(F.count("*").alias("n"))))
    thr = cum.agg(
        *[
            F.min(
                F.when(
                    F.col("cw") >= F.ceil(F.lit(q) * F.col("n")).cast("bigint"),
                    F.col("n_chars"),
                )
            ).alias(f"q{i}")
            for i, q in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    )
    bucketed = docs.crossJoin(F.broadcast(thr)).select(
        (
            F.lit(1)
            + (F.col("n_chars") > F.col("q1")).cast("int")
            + (F.col("n_chars") > F.col("q2")).cast("int")
            + (F.col("n_chars") > F.col("q3")).cast("int")
        ).cast("int").alias("bucket"),
        "n_chars",
    )
    return bucketed.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        (F.sum("n_chars") / F.count("*").cast("double")).alias("avg_chars"),
    )


@register(
    "length_decile_thresholds",
    # percentile_disc PARITY oracle (VERDICT r5 item 8): DuckDB computes
    # the thresholds with its OWN percentile_disc implementation, so
    # this row certifies that the value-domain-histogram device used by
    # length_quantile_buckets implements exact percentile_disc
    # semantics — not merely that two copies of the same device agree.
    # The rank identity is pure BIGINT: cw >= ceil(d*n/10)  ⟺
    # 10*cw >= d*n, and rank = (d*n + 9) // 10 — verified equal to
    # DuckDB percentile_disc for every (n <= 3000, d = 1..9) during
    # round 6, so no float quantile literal (0.3*n ceiling flips) can
    # diverge the engines.
    oracle="""
    WITH t AS (
      SELECT percentile_disc([0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])
               WITHIN GROUP (ORDER BY n_chars) AS ths,
             COUNT(*) AS n
      FROM documents
    )
    SELECT CAST(i AS INT) AS decile,
           CAST((i * n + 9) // 10 AS BIGINT) AS rank,
           CAST(ths[i] AS BIGINT) AS threshold
    FROM t, (SELECT unnest(range(1, 10)) AS i)
    """,
    doc="Equi-depth DECILE thresholds of document length via the "
        "100 TB value-domain histogram device (group by n_chars → "
        "cumulate over the tiny distinct-value relation → integer rank "
        "test 10*cw >= d*n), matching exact percentile_disc semantics — "
        "the DuckDB oracle calls percentile_disc itself, hardening the "
        "device against the engine's own implementation. Scale: the "
        "corpus contributes ONE count-by-value aggregation; the window "
        "and the 9-decile explode run over the distinct-LENGTH relation "
        "(bounded: lengths, not documents). For an unbounded value "
        "domain (continuous scores), approx_percentile / KLL sketches "
        "are the fallback, test-pinned to the exact thresholds in "
        "tests/test_analytics.py.",
)
def q_length_decile_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # the histogram feeds BOTH the cumulate and the total-count scalar;
    # materialize the tiny distinct-length relation once so the corpus
    # is scanned once (plan pin expects zero scans in the final plan),
    # and n comes from Σc instead of a second corpus scan
    hist = truncate_lineage(
        docs.groupBy("n_chars").agg(F.count("*").alias("c")))
    cum = hist.select(
        "n_chars",
        F.sum("c")
        .over(Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cw"),
    ).crossJoin(F.broadcast(hist.agg(F.sum("c").alias("n"))))
    return (
        cum.select(
            "n_chars", "cw", "n",
            F.explode(F.expr("sequence(1, 9)")).alias("decile"),
        )
        .groupBy("decile")
        .agg(
            F.max("n").alias("n_"),
            F.min(
                F.when(
                    F.lit(10) * F.col("cw") >= F.col("decile") * F.col("n"),
                    F.col("n_chars"),
                )
            ).alias("thr"),
        )
        .select(
            F.col("decile").cast("int").alias("decile"),
            # truncating integer DIV ≡ DuckDB // on non-negative BIGINTs
            F.expr("CAST((decile * n_ + 9) DIV 10 AS BIGINT)").alias("rank"),
            F.col("thr").cast("bigint").alias("threshold"),
        )
    )


@register(
    "kll_doc_length_quantiles",
    # Exact-regime parity: a KLL sketch retains EVERY item until its
    # level-0 buffer (k=2048) fills, so at the driver's correctness
    # scale (500 documents) the sketch quantiles are exact order
    # statistics — verified equal to DuckDB's own percentile_disc for
    # all nine deciles at sf0.01 before registration. Above ~2k rows
    # the sketch compacts and the thresholds carry bounded rank error
    # (~1.3% at k=2048) — that regime is exercised perf-only at K=100.
    oracle="""
    WITH t AS (
      SELECT percentile_disc([0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])
               WITHIN GROUP (ORDER BY n_chars) AS ths,
             COUNT(*) AS n
      FROM documents
    )
    SELECT CAST(i AS INT) AS decile,
           CAST(ths[i] AS BIGINT) AS threshold,
           CAST(n AS BIGINT) AS n_docs
    FROM t, (SELECT unnest(range(1, 10)) AS i)
    """,
    doc="Datasketches KLL quantile sketch over document lengths "
        "(k=2048): the UNBOUNDED-value-domain counterpart of "
        "length_decile_thresholds — where the histogram device needs a "
        "bounded distinct-value relation, the KLL sketch is constant "
        "memory per executor at ANY domain, merges map-side "
        "(partial aggregation), and re-aggregates like theta (sketch "
        "tables, incremental maintenance). Completes the Datasketches "
        "trio: theta (distinct algebra) / KLL (quantiles) / HLL "
        "(profile estimates). Exact-regime oracle vs DuckDB "
        "percentile_disc; estimation regime documented + K=100 row.",
)
def q_kll_doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # the sketch's rank argument must be a FOLDABLE literal: one wide
    # row of 9 literal-fraction probes, stacked to (decile, threshold)
    sk = docs.agg(
        F.kll_sketch_agg_bigint(F.col("n_chars").cast("bigint"),
                                F.lit(2048)).alias("sk"),
        F.count("*").alias("n_docs"),
    )
    wide = sk.select(
        "n_docs",
        *[
            F.kll_sketch_get_quantile_bigint(F.col("sk"), F.lit(d / 10.0))
            .cast("bigint").alias(f"t{d}")
            for d in range(1, 10)
        ],
    )
    pairs = ", ".join(f"{d}, t{d}" for d in range(1, 10))
    return wide.select(
        F.expr(f"stack(9, {pairs}) AS (decile, threshold)"),
        "n_docs",
    ).select(
        F.col("decile").cast("int").alias("decile"),
        "threshold",
        F.col("n_docs").cast("bigint").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Blocked fuzzy matching (edit distance) — record linkage
# ---------------------------------------------------------------------------

_FUZZY_TOPK = 3

#: Blocks bigger than this are excluded from the quadratic Levenshtein
#: stage (same discipline as operators/dedup.MAX_JACCARD_BLOCK): block
#: size grows linearly with catalog SF (measured 17 at sf0.01, 128 at
#: sf0.1 — the 20x scale-stress run showed the in-block quadratic as
#: the only super-linear stage in the suite), so an uncapped block is
#: unbounded at scale. Hot blocks belong to a finer-keyed linkage pass.
MAX_FUZZY_BLOCK = 500


@register(
    "fuzzy_match_parts",
    oracle=f"""
    WITH p AS (
      SELECT * FROM (
        SELECT p_partkey, p_name, p_brand,
               COUNT(*) OVER (PARTITION BY p_brand, substr(p_name, 1, 1))
                 AS block_n
        FROM part
      ) WHERE block_n <= {MAX_FUZZY_BLOCK}
    ), blocked AS (
      SELECT a.p_partkey AS key_a, a.p_name AS name_a,
             b.p_partkey AS key_b, b.p_name AS name_b,
             levenshtein(a.p_name, b.p_name) AS dist
      FROM p a JOIN p b
        ON a.p_brand = b.p_brand
       AND substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
       AND a.p_partkey < b.p_partkey
      WHERE a.p_name <> b.p_name
    )
    SELECT * FROM (
      SELECT key_a, name_a, key_b, name_b, dist,
             CAST(row_number() OVER (PARTITION BY key_a
                                     ORDER BY dist, key_b) AS INT) AS rn
      FROM blocked
    ) WHERE rn <= {_FUZZY_TOPK}
    """,
    doc="Blocked fuzzy self-match over the part catalog: candidate pairs "
        "share (brand, first letter) — an equi-join, never a cross "
        "product — then Levenshtein edit distance ranks the closest "
        f"{_FUZZY_TOPK} distinct-name candidates per part (deterministic "
        "tie-break on key). The record-linkage/entity-resolution "
        "primitive; blocking keys keep the quadratic stage off "
        "fact-scale data, and blocks over MAX_FUZZY_BLOCK are excluded "
        "entirely (mirrored in the oracle) — block size grows with "
        "catalog SF, so the in-block quadratic needs the same cap "
        "discipline as dedup_blocked_jaccard.",
)
def q_fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", F.substring("p_name", 1, 1).alias("initial")
    )
    block_n = F.count("*").over(Window.partitionBy("p_brand", "initial"))
    part = part.withColumn("block_n", block_n).filter(
        F.col("block_n") <= MAX_FUZZY_BLOCK
    ).drop("block_n")
    a = part.alias("a")
    b = part.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.initial") == F.col("b.initial"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .where(F.col("a.p_name") != F.col("b.p_name"))
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.col("b.p_name").alias("name_b"),
            F.levenshtein("a.p_name", "b.p_name").alias("dist"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("key_a").orderBy("dist", "key_b")
    )
    return pairs.withColumn("rn", rn.cast("int")).where(F.col("rn") <= _FUZZY_TOPK)


# ---------------------------------------------------------------------------
# BM25 ranking (fixed query terms)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "data", "join")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPN = 20


def _bm25_score_sql(term: str) -> str:
    """One term's BM25 contribution — IDENTICAL text for both engines
    (Spark SQL and DuckDB parse the same expression tree, so the float
    ops round identically; only ln() can drift a ULP, absorbed by the
    6dp round on the final score)."""
    tf = f"tf_{term}"
    return (
        f"ln(1.0 + ((n - df_{term}) + 0.5) / (df_{term} + 0.5)) * "
        f"(({tf} * ({_BM25_K1} + 1.0)) / "
        f"({tf} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl)))"
    )


@register(
    "bm25_scores",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS dl,
             {', '.join(
                 f"CAST(len(list_filter(string_split(lower(text), ' '), "
                 f"x -> x = '{t}')) AS DOUBLE) AS tf_{t}" for t in _BM25_TERMS)}
      FROM documents
    ), stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(dl) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
             {', '.join(
                 f"CAST(SUM(CAST(tf_{t} > 0 AS INT)) AS DOUBLE) AS df_{t}"
                 for t in _BM25_TERMS)}
      FROM tok
    )
    SELECT doc_id, score FROM (
      SELECT doc_id,
             round({' + '.join(_bm25_score_sql(t) for t in _BM25_TERMS)}, 6) AS score,
             row_number() OVER (
               ORDER BY round({' + '.join(_bm25_score_sql(t) for t in _BM25_TERMS)}, 6) DESC,
                        doc_id) AS rn
      FROM tok, stats
    ) WHERE rn <= {_BM25_TOPN}
    """,
    doc="BM25 document ranking for a fixed query "
        f"{_BM25_TERMS}: per-doc term frequencies via higher-order "
        "list_filter (JVM, no UDF), corpus stats (N, df, avgdl) as a "
        "broadcast 1-row aggregate, Robertson/Okapi scoring with "
        "k1=1.2 b=0.75, 6dp-rounded before the top-"
        f"{_BM25_TOPN} rank (doc_id tie-break) to absorb ln() ULP "
        "differences across engines. Search-relevance sibling of "
        "tfidf_top_terms; one corpus scan + a dimension-free rank.",
)
def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.size(F.split(F.lower("text"), " ")).cast("double").alias("dl"),
        *[
            F.expr(
                f"cast(size(filter(split(lower(text), ' '), x -> x = '{t}')) as double)"
            ).alias(f"tf_{t}")
            for t in _BM25_TERMS
        ],
    )
    stats = tok.agg(
        F.count("*").cast("double").alias("n"),
        (F.sum("dl") / F.count("*").cast("double")).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("int")).cast("double").alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    score = F.round(
        F.expr(" + ".join(_bm25_score_sql(t) for t in _BM25_TERMS)), 6
    )
    scored = tok.crossJoin(F.broadcast(stats)).select(
        "doc_id", score.alias("score")
    )
    rn = F.row_number().over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
    return (
        scored.withColumn("rn", rn)
        .where(F.col("rn") <= _BM25_TOPN)
        .select("doc_id", "score")
    )


# ---------------------------------------------------------------------------
# Rolling Pearson correlation (exact windowed moments)
# ---------------------------------------------------------------------------

_CORR_SPAN = 30


@register(
    "rolling_corr_30d",
    oracle=_DAILY_SQL + f"""
    SELECT product, date, n_obs,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
                THEN round((n * sxy - sx * sy)
                     / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
           END AS corr_qty_rev
    FROM (
      SELECT product, strftime(date, '%Y-%m-%d') AS date,
             CAST(COUNT(*) OVER w AS INT) AS n_obs,
             CAST(COUNT(*) OVER w AS DOUBLE) AS n,
             CAST(CAST(SUM(CAST(total_quantity AS DECIMAL(18,2))) OVER w AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(total_revenue AS DECIMAL(18,2))) OVER w AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(total_quantity * total_quantity AS DECIMAL(28,4))) OVER w AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(total_revenue * total_revenue AS DECIMAL(28,4))) OVER w AS VARCHAR) AS DOUBLE) AS syy,
             CAST(CAST(SUM(CAST(total_quantity * total_revenue AS DECIMAL(28,4))) OVER w AS VARCHAR) AS DOUBLE) AS sxy
      FROM daily
      WINDOW w AS (PARTITION BY product ORDER BY date
                   ROWS BETWEEN {_CORR_SPAN - 1} PRECEDING AND CURRENT ROW)
    )
    """,
    doc="Rolling Pearson corr(quantity, revenue) over the trailing 30 "
        "observed days per product — the windowed sibling of G10 "
        "(corr_revenue_quantity), same exact-moment recipe: all five "
        "moment sums accumulate as DECIMAL inside the window frame "
        "(scales the data hits exactly: totals=2dp, products=4dp) and "
        "only the final formula runs in double, identically on both "
        "engines. Degenerate frames (zero variance) yield NULL via the "
        "same CASE on both sides. One shuffle on product, O(frame) "
        "state — the demand-elasticity monitor of the reference's EDA, "
        "made incremental.",
)
def q_rolling_corr_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("product")
        .orderBy("date")
        .rowsBetween(-(_CORR_SPAN - 1), 0)
    )
    daily = _daily(spark, sf_dir)
    # 2dp window sums ride BIGINT cents (r13, VERDICT r12 item 4 — the
    # dsum device applied inside a window frame): total_quantity /
    # total_revenue are exact-2dp dsum outputs, so round(x*100) recovers
    # the same integer cents as the decimal(18,2) cast, the frame sum is
    # exact in either representation, and the decimal(38,2)/100 widen +
    # string round-trip reproduces the oracle's digits bit-for-bit. The
    # 4dp moment sums (sxx/syy/sxy) STAY decimal — their x10^4 cents
    # would genuinely overflow BIGINT at scale.
    m = daily.select(
        "product",
        F.date_format("date", "yyyy-MM-dd").alias("date"),
        F.count("*").over(w).cast("int").alias("n_obs"),
        F.count("*").over(w).cast("double").alias("n"),
        cents_to_double(
            F.sum(cents(F.col("total_quantity"))).over(w)).alias("sx"),
        cents_to_double(
            F.sum(cents(F.col("total_revenue"))).over(w)).alias("sy"),
        dec_to_double(
            F.sum(
                F.expr("total_quantity * total_quantity").cast("decimal(28,4)")
            ).over(w)
        ).alias("sxx"),
        dec_to_double(
            F.sum(
                F.expr("total_revenue * total_revenue").cast("decimal(28,4)")
            ).over(w)
        ).alias("syy"),
        dec_to_double(
            F.sum(
                F.expr("total_quantity * total_revenue").cast("decimal(28,4)")
            ).over(w)
        ).alias("sxy"),
    )
    varx = m.n * m.sxx - m.sx * m.sx
    vary = m.n * m.syy - m.sy * m.sy
    corr = F.when(
        varx * vary > 0,
        F.round((m.n * m.sxy - m.sx * m.sy) / F.sqrt(varx * vary), 6),
    )
    return m.select("product", "date", "n_obs", corr.alias("corr_qty_rev"))


# ---------------------------------------------------------------------------
# Weighted PageRank over the co-purchase graph (2 unrolled iterations)
# ---------------------------------------------------------------------------

_PR_PAIRS = """
flatten(
  transform(names, (x, i) ->
    flatten(transform(slice(names, i + 2, size(names)), y ->
      array(struct(x AS u, y AS v), struct(y AS u, x AS v))))))
"""


@register(
    "pagerank_2iter",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, p_name
      FROM lineitem JOIN part ON p_partkey = l_partkey
    ), pairs AS (
      SELECT a.p_name AS u, b.p_name AS v, COUNT(*) AS w
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.p_name < b.p_name
      GROUP BY 1, 2
    ), sym AS (
      SELECT u, v, w FROM pairs UNION ALL SELECT v AS u, u AS v, w FROM pairs
    ), wout AS (
      SELECT u, SUM(w) AS wout FROM sym GROUP BY 1
    ), nn AS (SELECT COUNT(*) AS n FROM wout),
    pr0 AS (SELECT u, floor(1.0 / n * 1e6 + 0.5) / 1e6 AS pr
            FROM wout CROSS JOIN nn),
    c1 AS (
      SELECT s.v AS u, floor(p.pr * s.w / wo.wout * 1e6 + 0.5) / 1e6 AS c
      FROM sym s JOIN pr0 p ON p.u = s.u JOIN wout wo ON wo.u = s.u
    ), pr1 AS (
      SELECT c.u,
             floor((0.15 / n
                    + 0.85 * CAST(CAST(SUM(CAST(c AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE))
                   * 1e6 + 0.5) / 1e6 AS pr
      FROM c1 c CROSS JOIN nn GROUP BY c.u, n
    ), c2 AS (
      SELECT s.v AS u, floor(p.pr * s.w / wo.wout * 1e6 + 0.5) / 1e6 AS c
      FROM sym s JOIN pr1 p ON p.u = s.u JOIN wout wo ON wo.u = s.u
    ), pr2 AS (
      SELECT c.u,
             floor((0.15 / n
                    + 0.85 * CAST(CAST(SUM(CAST(c AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE))
                   * 1e6 + 0.5) / 1e6 AS pr
      FROM c2 c CROSS JOIN nn GROUP BY c.u, n
    ), deg AS (SELECT u, COUNT(*) AS n_neighbors FROM sym GROUP BY 1)
    SELECT d.u AS product, d.n_neighbors, p1.pr AS pr_1, p2.pr AS pr_2
    FROM deg d JOIN pr1 p1 ON p1.u = d.u JOIN pr2 p2 ON p2.u = d.u
    """,
    doc="Weighted PageRank (damping 0.85) over the product co-purchase "
        "graph, two fully-unrolled iterations — the influence-ranking "
        "sibling of kmeans_lloyd_2iter and connected_components in the "
        "iterative-algorithm family. Edges are per-order DISTINCT "
        "product pairs built ROW-LOCALLY from the sorted item array (no "
        "per-order self-join on the Spark side), symmetrized; every "
        "node in the symmetrized graph has out-edges, so no dangling "
        "mass. Engine-exactness: per-edge contributions rounded to 6dp "
        "then summed as DECIMAL(18,6) — order-insensitive under any "
        "partitioning; all rounds use floor(x*1e6+0.5) half-up, the one "
        "rounding both engines compute identically on doubles. Scale shape per iteration: one edge-keyed join "
        "against the broadcast (node-sized) rank table + one node agg; "
        "the edge relation is |products|^2-bounded and never leaves the "
        "executors; more iterations repeat the same two stages",
)
def q_pagerank_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_name")
    # Both edge directions are emitted ROW-LOCALLY by _PR_PAIRS, so the
    # symmetrized relation is ONE aggregation over one fact scan. It is
    # reused by wout/deg and both iterations; truncate_lineage
    # materializes the (|products|^2-bounded) edge table once and
    # truncates lineage, instead of re-deriving it from the fact per
    # reference (measured: 28 fact-scan branches without it).
    sym = (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.array_distinct(F.collect_list("p_name"))).alias("names"))
        .select(F.explode(F.expr(_PR_PAIRS)).alias("e"))
        .groupBy(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        .agg(F.count("*").alias("w"))
    )
    sym = truncate_lineage(sym)
    wout = sym.groupBy("u").agg(F.sum("w").alias("wout"))
    nn = wout.agg(F.count("*").alias("n"))
    pr0 = (
        wout.select("u").crossJoin(F.broadcast(nn))
        .select("u", (F.floor(F.lit(1.0) / F.col("n") * 1e6 + 0.5) / 1e6).alias("pr"))
    )

    def one_iter(pr: DataFrame) -> DataFrame:
        contrib = (
            sym.join(F.broadcast(pr), "u")
            .join(F.broadcast(wout), "u")
            .select(
                F.col("v").alias("u"),
                (F.floor(F.col("pr") * F.col("w") / F.col("wout") * 1e6 + 0.5)
                 / 1e6).alias("c"),
            )
        )
        dec = dsum(F.col("c"), dec="decimal(18,6)")
        return (
            contrib.groupBy("u").agg(dec.alias("s"))
            .crossJoin(F.broadcast(nn))
            .select(
                "u",
                (F.floor(
                    (F.lit(0.15) / F.col("n") + F.lit(0.85) * F.col("s"))
                    * 1e6 + 0.5
                ) / 1e6).alias("pr"),
            )
        )

    pr1 = one_iter(pr0)
    pr2 = one_iter(pr1)
    deg = sym.groupBy("u").agg(F.count("*").alias("n_neighbors"))
    return (
        deg.join(pr1.withColumnRenamed("pr", "pr_1"), "u")
        .join(pr2.withColumnRenamed("pr", "pr_2"), "u")
        .select(F.col("u").alias("product"), "n_neighbors", "pr_1", "pr_2")
    )


# ---------------------------------------------------------------------------
# SCD2 dimension build (validity intervals from a change stream)
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH seq AS (
  SELECT o_custkey, o_orderkey, o_orderpriority,
         strftime(o_orderdate, '%Y-%m-%d') AS d,
         CASE WHEN lag(o_orderpriority) OVER w IS NULL
                OR lag(o_orderpriority) OVER w <> o_orderpriority
              THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), seg AS (
  SELECT o_custkey, o_orderpriority, d,
         CAST(SUM(chg) OVER (PARTITION BY o_custkey
                             ORDER BY d, o_orderkey
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS version
  FROM seq
), spans AS (
  SELECT o_custkey AS custkey, version,
         o_orderpriority AS priority,
         MIN(d) AS valid_from,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM seg GROUP BY 1, 2, 3
)
SELECT custkey, version, priority, valid_from,
       lead(valid_from) OVER (PARTITION BY custkey ORDER BY version)
         AS valid_to,
       n_orders,
       (lead(valid_from) OVER (PARTITION BY custkey ORDER BY version) IS NULL)
         AS is_current
FROM spans
"""


@register(
    "scd2_priority_history",
    oracle=_SCD2_ORACLE,
    doc="Slowly-changing-dimension (type 2) build: collapse each "
        "customer's order-priority sequence into validity intervals "
        "[valid_from, valid_to) with an is_current flag — the standard "
        "warehouse pattern for reconstructing attribute history from an "
        "append-only change stream (no reference analog; engine-surface "
        "extension like asof_join). Change detection is lag() + a "
        "running sum over one window, span rollup is one groupBy, and "
        "valid_to closes each span with lead() over the version "
        "sequence. Scale: every window partitions by custkey — state "
        "is one customer's history, never corpus-sized; two shuffles "
        "total (custkey, then the span rollup reuses the same key so "
        "AQE can pipeline it). Ties on order date resolve by orderkey "
        "on both engines.",
)
def q_scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    chg = (
        F.lag("o_orderpriority").over(w).isNull()
        | (F.lag("o_orderpriority").over(w) != F.col("o_orderpriority"))
    ).cast("int")
    seg = (
        o.select(
            "o_custkey", "o_orderkey", "o_orderpriority",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
            chg.alias("chg"),
        )
        .withColumn(
            "version",
            F.sum("chg").over(
                Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).cast("bigint"),
        )
    )
    spans = seg.groupBy(
        F.col("o_custkey").alias("custkey"), "version",
        F.col("o_orderpriority").alias("priority"),
    ).agg(
        F.min("d").alias("valid_from"),
        F.count("*").cast("bigint").alias("n_orders"),
    )
    vw = Window.partitionBy("custkey").orderBy("version")
    return spans.select(
        "custkey", "version", "priority", "valid_from",
        F.lead("valid_from").over(vw).alias("valid_to"),
        "n_orders",
        F.lead("valid_from").over(vw).isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Bucketized interval join (two LARGE sides — the batch band-join path)
# ---------------------------------------------------------------------------

_ATTR_ORACLE = """
SELECT v.event_id AS view_id, p.event_id AS purchase_id,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
FROM events v
JOIN events p
  ON p.user_id = v.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts > v.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
"""


@register(
    "attribution_window_join",
    oracle=_ATTR_ORACLE,
    doc="Batch interval join between two LARGE event sets: every "
        "purchase a user made within 1h after each of their views "
        "(view->purchase attribution). Spark has no native batch "
        "interval join, and a raw inequality join between two fact "
        "tables is a per-key cartesian blowup; this is the bucketize-"
        "the-range-key path asof.py's docstring points to: each view's "
        "(t, t+1h] window is tagged with the (at most 2) hour-buckets "
        "it touches -- a CONSTANT duplication factor, not "
        "data-dependent -- purchases carry their single hour-bucket, "
        "both sides equi-join on (user, bucket) so Catalyst plans a "
        "hash join, and the exact interval predicate filters within "
        "buckets. Scale: one shuffle on (user, hour) -- skewed users "
        "are split across their hour-buckets by construction; no "
        "nested-loop stage anywhere. (orders x events is structurally "
        "empty here: the corpora place orders in 1995-2001 and events "
        "in 2024, so the demo band-join is event-to-event.)",
)
def q_attribution_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    hour = lambda c: F.floor(F.col(c).cast("long") / F.lit(3600))  # noqa: E731
    v = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("vts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("pts"), hour("ts").alias("bucket"),
    )
    # each view window (t, t+1h] touches at most hour-buckets b and b+1
    vb = v.withColumn("bucket", F.explode(F.array(hour("vts"), hour("vts") + 1)))
    return (
        vb.join(p, ["user_id", "bucket"])
        .filter(
            (F.col("pts") > F.col("vts"))
            & (F.col("pts") <= F.col("vts") + F.expr("INTERVAL 1 HOUR"))
        )
        .select(
            "view_id", "purchase_id",
            F.date_format("vts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
            F.date_format("pts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        )
    )


# ---------------------------------------------------------------------------
# Triangle counting (degree-ordered) over the co-purchase graph
# ---------------------------------------------------------------------------

_TRI_ORACLE = """
WITH items AS (
  SELECT DISTINCT l_orderkey, p_name
  FROM lineitem JOIN part ON p_partkey = l_partkey
), edges AS (
  SELECT DISTINCT a.p_name AS u, b.p_name AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.p_name < b.p_name
), deg AS (
  SELECT x AS p, COUNT(*) AS d
  FROM (SELECT u AS x FROM edges UNION ALL SELECT v FROM edges)
  GROUP BY 1
), keyd AS (
  SELECT p, lpad(CAST(d AS VARCHAR), 10, '0') || '|' || p AS k FROM deg
), fw AS (
  SELECT CASE WHEN ku.k < kv.k THEN e.u ELSE e.v END AS src,
         CASE WHEN ku.k < kv.k THEN e.v ELSE e.u END AS dst,
         CASE WHEN ku.k < kv.k THEN kv.k ELSE ku.k END AS dst_k
  FROM edges e JOIN keyd ku ON ku.p = e.u JOIN keyd kv ON kv.p = e.v
), tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM fw e1
  JOIN fw e2 ON e2.src = e1.src AND e1.dst_k < e2.dst_k
  JOIN fw e3 ON e3.src = e1.dst AND e3.dst = e2.dst
)
SELECT p AS product, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (SELECT a AS p FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri)
GROUP BY 1
"""

#: Row-local (x, y) pairs with x < y from the sorted DISTINCT name array.
_TRI_PAIRS = """
flatten(
  transform(names, (x, i) ->
    transform(slice(names, i + 2, size(names)), y ->
      struct(x AS u, y AS v))))
"""


@register(
    "triangle_count",
    oracle=_TRI_ORACLE,
    doc="Per-product triangle participation counts over the co-purchase "
        "graph via DEGREE-ORDERED wedge closing (the MapReduce-classic "
        "Cohen / Suri-Vassilvitskii scheme): orient every edge from its "
        "lower-(degree, name) endpoint to the higher one, generate "
        "wedges only from pairs of OUT-edges of a common source, and "
        "close them against the oriented edge list. Each triangle has "
        "exactly one vertex with two out-edges in this orientation, so "
        "it is generated exactly once. Scale: the orientation bounds "
        "out-degree by O(sqrt(m)) regardless of natural degree skew -- "
        "a celebrity node's star produces NO wedges at the hub (its "
        "edges all point outward-by-order), killing the quadratic "
        "blowup a naive vertex-grouped enumeration hits; the wedge join "
        "and closing join are both equi-joins (src, then (src,dst)), "
        "sum-of-squared-OUT-degree = O(m^1.5) work. Edge derivation is "
        "the row-local sorted-distinct-pairs pattern shared with "
        "pagerank; the (deg|name) orientation key is a zero-padded "
        "string so both engines compare it identically. Degree table is "
        "node-sized -> broadcast to both endpoint lookups.",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_name")
    edges = (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.array_distinct(F.collect_list("p_name"))).alias("names"))
        .select(F.explode(F.expr(_TRI_PAIRS)).alias("e"))
        .select(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        .distinct()
    )
    edges = truncate_lineage(edges)
    deg = (
        edges.select(F.col("u").alias("p"))
        .unionAll(edges.select(F.col("v").alias("p")))
        .groupBy("p")
        .agg(F.count("*").alias("d"))
    )
    keyd = deg.select(
        "p", F.concat(F.lpad(F.col("d").cast("string"), 10, "0"),
                      F.lit("|"), F.col("p")).alias("k")
    )
    ku = keyd.select(F.col("p").alias("u"), F.col("k").alias("ku"))
    kv = keyd.select(F.col("p").alias("v"), F.col("k").alias("kv"))
    ordered = F.col("ku") < F.col("kv")
    fw = (
        edges.join(F.broadcast(ku), "u").join(F.broadcast(kv), "v")
        .select(
            F.when(ordered, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(ordered, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(ordered, F.col("kv")).otherwise(F.col("ku")).alias("dst_k"),
        )
    )
    e1 = fw.select(F.col("src"), F.col("dst").alias("b"), F.col("dst_k").alias("bk"))
    e2 = fw.select(F.col("src"), F.col("dst").alias("c"), F.col("dst_k").alias("ck"))
    wedges = e1.join(e2, "src").filter(F.col("bk") < F.col("ck"))
    closing = fw.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).select(
        F.col("src").alias("a"), "b", "c"
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("product"))
        .groupBy("product")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )


# ---------------------------------------------------------------------------
# Multi-touch attribution (linear + time-decay credit allocation)
# ---------------------------------------------------------------------------

_MTA_ORACLE = """
WITH touches AS (
  SELECT p.event_id AS purchase_id, v.event_id AS view_id,
         (epoch_us(p.ts) - epoch_us(v.ts)) // 1000000 AS dt_seconds
  FROM events p
  JOIN events v
    ON v.user_id = p.user_id
   AND p.event_type = 'purchase' AND v.event_type = 'view'
   AND v.ts < p.ts
   AND v.ts >= p.ts - INTERVAL 1 HOUR
), wtd AS (
  SELECT purchase_id, view_id, dt_seconds,
         round(power(0.5, CAST(dt_seconds AS DOUBLE) / 900.0), 9) AS raw
  FROM touches
), g AS (
  SELECT purchase_id, view_id, dt_seconds, raw,
         CAST(COUNT(*) OVER w AS BIGINT) AS n_touches,
         CAST(CAST(SUM(CAST(raw AS DECIMAL(18,9))) OVER w AS VARCHAR)
              AS DOUBLE) AS total_raw
  FROM wtd
  WINDOW w AS (PARTITION BY purchase_id)
)
SELECT purchase_id, view_id, dt_seconds, n_touches,
       round(1.0 / n_touches, 6) AS credit_linear,
       round(raw / total_raw, 6) AS credit_decay
FROM g
"""


@register(
    "multitouch_attribution",
    oracle=_MTA_ORACLE,
    doc="Multi-touch attribution: every view in the hour before a "
        "purchase shares the credit, linear (1/n) and time-decay "
        "(15-min half-life) — the marketing-analytics allocation that "
        "consumes the band-join relation. Same hour-bucketization as "
        "attribution_window_join (purchase lookback window [t-1h, t) "
        "touches <= 2 hour-buckets -> constant duplication, equi-join "
        "on (user, bucket), exact predicate inside; no nested-loop "
        "stage), then one window over purchase_id for the allocation. "
        "Exactness: decay weights are pow(0.5, dt/900) on integer dt "
        "(identical input doubles both engines), rounded to 9dp BEFORE "
        "the normalizing sum, which is an exact decimal(18,9) fold -- "
        "a float window-sum would be partition-order-dependent and flip "
        "the 6dp shares; credit_decay sums to 1 per purchase modulo "
        "terminal rounding. Scale: shuffle on (user, hour) then "
        "(purchase) -- both real keys, no skew amplification.",
)
def q_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    hour = lambda c: F.floor(F.col(c).cast("long") / F.lit(3600))  # noqa: E731
    v = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id",
        F.col("ts").alias("vts"), hour("ts").alias("bucket"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pts")
    )
    pb = p.withColumn("bucket", F.explode(F.array(hour("pts") - 1, hour("pts"))))
    touches = (
        pb.join(v, ["user_id", "bucket"])
        .filter(
            (F.col("vts") < F.col("pts"))
            & (F.col("vts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
        )
        .select(
            "purchase_id", "view_id",
            # exact micros difference, then integer-div to whole seconds:
            # casting each side to seconds first floors independently and
            # drifts ±1 vs the oracle when sub-second parts straddle.
            F.expr("(unix_micros(pts) - unix_micros(vts)) div 1000000")
            .cast("bigint").alias("dt_seconds"),
        )
    )
    raw = F.round(F.pow(F.lit(0.5), F.col("dt_seconds").cast("double") / 900.0), 9)
    w = Window.partitionBy("purchase_id")
    total_raw = dec_to_double(F.sum(F.col("raw").cast("decimal(18,9)")).over(w))
    return (
        touches.withColumn("raw", raw)
        .select(
            "purchase_id", "view_id", "dt_seconds",
            F.count("*").over(w).cast("bigint").alias("n_touches"),
            F.round(F.lit(1.0) / F.count("*").over(w), 6).alias("credit_linear"),
            F.round(F.col("raw") / total_raw, 6).alias("credit_decay"),
        )
    )


# ---------------------------------------------------------------------------
# MAD-based robust outlier detection (median absolute deviation)
# ---------------------------------------------------------------------------

_MAD_ORACLE = _DAILY_SQL + """
, med AS (
  SELECT product, median(total_quantity) AS med_qty FROM daily GROUP BY 1
), dev AS (
  SELECT d.product, d.total_quantity, m.med_qty,
         abs(d.total_quantity - m.med_qty) AS dv
  FROM daily d JOIN med m USING (product)
), mad AS (
  SELECT product, median(dv) AS mad_qty FROM dev GROUP BY 1
)
SELECT d.product, m.med_qty, a.mad_qty,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       -- threshold constant written multiplied-out (4.4478, one literal)
       -- on BOTH sides: Spark would compute 3 * double(1.4826) while
       -- DuckDB parses 3 * 1.4826 as exact DECIMAL — a ~2-ulp gap that
       -- could flip a borderline comparison
       CAST(SUM(CASE WHEN abs(d.total_quantity - m.med_qty)
                          > 4.4478 * a.mad_qty
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM daily d JOIN med m USING (product) JOIN mad a USING (product)
GROUP BY 1, 2, 3
"""


@register(
    "mad_outliers",
    oracle=_MAD_ORACLE,
    doc="Robust per-product outlier days via median absolute deviation: "
        "|qty - median| > 3 * 1.4826 * MAD -- the detector that, unlike "
        "the z-score of revenue_anomalies, is not dragged by the "
        "outliers it is hunting (median/MAD have a 50% breakdown point "
        "vs 0% for mean/std). Exactness needs NO rounding: daily "
        "quantities are integer-valued doubles, so exact-percentile "
        "medians interpolate to .0/.5 midpoints and MAD to .25 "
        "multiples -- all dyadic, bit-identical on both engines, and "
        "the threshold product is one identical double expression. "
        "Scale: one product's daily history is calendar-bounded "
        "(~2.4k values), so it is collected per group once and both "
        "medians + the outlier count fold row-locally over the sorted "
        "array; two shuffles total on (date,product) then (product), "
        "one fact aggregation, zero joins.",
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single-pass plan: the med→dev→mad→flag chain referenced the daily
    # relation four times, and column pruning kept the subtrees distinct
    # — Spark planned FOUR fact aggregations (no ReusedExchange; 19
    # exchanges measured). Instead collect each product's daily history
    # once (calendar-bounded, ≤ ~2.4k doubles — same bound the
    # per-product ML grid relies on) and compute both medians and the
    # outlier count row-locally from the sorted array: one fact
    # aggregation, one product shuffle, zero joins.
    # The median formula is written out (odd: middle; even: exact
    # dyadic midpoint) and equals both Spark's percentile(0.5) and
    # DuckDB's median on these integer-valued doubles.
    daily = _daily(spark, sf_dir).select("product", "total_quantity")
    arr = daily.groupBy("product").agg(
        F.collect_list("total_quantity").alias("q")
    )

    def _median(col: str) -> str:
        # element_at takes an INT index; div yields BIGINT, so cast
        return (
            f"CASE WHEN size({col}) % 2 = 1 "
            f"THEN element_at({col}, cast((size({col}) + 1) div 2 as int)) "
            f"ELSE (element_at({col}, cast(size({col}) div 2 as int)) "
            f"  + element_at({col}, cast(size({col}) div 2 + 1 as int))) / 2 "
            f"END"
        )

    arr = (
        arr.withColumn("s", F.expr("array_sort(q)"))
        .withColumn("med_qty", F.expr(_median("s")))
        .withColumn(
            "sdv", F.expr("array_sort(transform(q, x -> abs(x - med_qty)))")
        )
        .withColumn("mad_qty", F.expr(_median("sdv")))
    )
    # 4.4478 = 3 * 1.4826 multiplied out: the SAME literal as the oracle,
    # so both engines round the constant identically (see oracle comment)
    return arr.select(
        "product",
        "med_qty",
        "mad_qty",
        F.expr("cast(size(q) as bigint)").alias("n_days"),
        F.expr(
            "cast(size(filter(q, x -> abs(x - med_qty) > 4.4478 * mad_qty)) "
            "as bigint)"
        ).alias("n_outliers"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence test (priority x market segment)
# ---------------------------------------------------------------------------

_CHISQ_ORACLE = """
WITH o AS (
  SELECT o.o_orderpriority AS priority, c.c_mktsegment AS segment,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
), t AS (
  SELECT o.*, 
         SUM(n) OVER (PARTITION BY priority) AS row_tot,
         SUM(n) OVER (PARTITION BY segment) AS col_tot,
         SUM(n) OVER () AS grand_tot
  FROM o
), cells AS (
  SELECT priority, segment, n,
         round(CAST(row_tot AS DOUBLE) * col_tot / grand_tot, 6) AS expected,
         round(power(n - CAST(row_tot AS DOUBLE) * col_tot / grand_tot, 2)
               / (CAST(row_tot AS DOUBLE) * col_tot / grand_tot), 6) AS contrib
  FROM t
)
SELECT priority, segment, n, expected, contrib,
       CAST(CAST(SUM(CAST(contrib AS DECIMAL(18,6))) OVER () AS VARCHAR)
            AS DOUBLE) AS chi2_total
FROM cells
"""


@register(
    "chisq_priority_segment",
    oracle=_CHISQ_ORACLE,
    doc="Chi-square independence test of order priority vs customer "
        "market segment: the contingency-table screening every "
        "feature-selection / AB-analysis toolkit ships. Observed "
        "counts are exact integers; expected = row_tot*col_tot/N and "
        "each cell's (O-E)^2/E are single identical double expression "
        "trees rounded at 6dp; chi2_total folds the rounded "
        "contributions as exact decimal over the |R x C| cells (25 "
        "here) -- order-independent. Scale: one fact-dim join + one "
        "(priority, segment) rollup; everything after the rollup "
        "operates on a |R x C|-sized relation, so the window passes "
        "are trivially cheap at any corpus size.",
)
def q_chisq_priority_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    rt = F.sum("n").over(Window.partitionBy("priority"))
    ct = F.sum("n").over(Window.partitionBy("segment"))
    gt = F.sum("n").over(Window.partitionBy())
    expected_raw = rt.cast("double") * ct / gt
    with_e = cells.select(
        "priority", "segment", "n",
        F.round(expected_raw, 6).alias("expected"),
        F.round(
            F.pow(F.col("n") - expected_raw, F.lit(2)) / expected_raw, 6
        ).alias("contrib"),
    )
    chi2 = (
        dec_to_double(F.sum(F.col("contrib").cast("decimal(18,6)"))
                      .over(Window.partitionBy()))
    )
    return with_e.withColumn("chi2_total", chi2)


# ---------------------------------------------------------------------------
# k-core peeling (2 unrolled rounds, self-calibrating thresholds)
# ---------------------------------------------------------------------------

_KCORE_ORACLE = """
WITH items AS (
  SELECT DISTINCT l_orderkey, p_name
  FROM lineitem JOIN part ON p_partkey = l_partkey
), pw AS (
  SELECT a.p_name AS u, b.p_name AS v, CAST(COUNT(*) AS BIGINT) AS w
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.p_name < b.p_name
  GROUP BY 1, 2
), wm AS (SELECT median(w) AS wmed FROM pw),
strong AS (
  SELECT u, v FROM pw CROSS JOIN wm WHERE w >= wmed
), sym AS (
  SELECT u, v FROM strong UNION ALL SELECT v AS u, u AS v FROM strong
), deg0 AS (
  SELECT u AS p, CAST(COUNT(*) AS BIGINT) AS d0 FROM sym GROUP BY 1
), km AS (SELECT median(d0) AS kk FROM deg0),
v1 AS (
  SELECT p FROM deg0 CROSS JOIN km WHERE d0 >= kk
), deg1 AS (
  SELECT s.u AS p, CAST(COUNT(*) AS BIGINT) AS d1
  FROM sym s
  JOIN v1 a ON a.p = s.u
  JOIN v1 b ON b.p = s.v
  GROUP BY 1
)
SELECT g.p AS product, g.d0, d.d1,
       COALESCE(d.d1 >= (SELECT kk FROM km), FALSE) AS in_core
FROM deg0 g LEFT JOIN deg1 d ON d.p = g.p
"""


@register(
    "kcore_2round",
    oracle=_KCORE_ORACLE,
    doc="k-core peeling over the strong co-purchase graph, two unrolled "
        "rounds: keep edges with weight >= the exact median edge "
        "weight, then iteratively drop vertices with degree < the exact "
        "median initial degree -- the density-core extraction that "
        "complements connected components (reach), pagerank (influence) "
        "and triangle_count (closure) in the graph family. Both "
        "thresholds are SELF-CALIBRATING exact medians of integers "
        "(dyadic, engine-identical at any scale factor -- a fixed "
        "absolute threshold would silently empty the graph at small "
        "SF). Scale per round: degree agg + two node-list joins, node "
        "list broadcast (|products|-bounded); the edge table is the "
        "|products|^2-bounded rollup; more rounds repeat the same two "
        "stages, the standard distributed peel.",
)
def q_kcore_2round(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_name")
    pw = (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.array_distinct(F.collect_list("p_name"))).alias("names"))
        .select(F.explode(F.expr(_TRI_PAIRS)).alias("e"))
        .groupBy(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    pw = truncate_lineage(pw)
    wm = pw.agg(F.expr("percentile(w, 0.5)").alias("wmed"))
    strong = pw.crossJoin(F.broadcast(wm)).filter(F.col("w") >= F.col("wmed"))
    sym = strong.select("u", "v").unionAll(
        strong.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    sym = truncate_lineage(sym)
    deg0 = sym.groupBy(F.col("u").alias("p")).agg(
        F.count("*").cast("bigint").alias("d0")
    )
    km = deg0.agg(F.expr("percentile(d0, 0.5)").alias("kk"))
    v1 = (
        deg0.crossJoin(F.broadcast(km))
        .filter(F.col("d0") >= F.col("kk"))
        .select("p")
    )
    deg1 = (
        sym.join(F.broadcast(v1.select(F.col("p").alias("u"))), "u")
        .join(F.broadcast(v1.select(F.col("p").alias("v"))), "v")
        .groupBy(F.col("u").alias("p"))
        .agg(F.count("*").cast("bigint").alias("d1"))
    )
    return (
        deg0.join(deg1, "p", "left")
        .crossJoin(F.broadcast(km))
        .select(
            F.col("p").alias("product"), "d0", "d1",
            F.coalesce(F.col("d1") >= F.col("kk"), F.lit(False)).alias("in_core"),
        )
    )


# ---------------------------------------------------------------------------
# Session path transitions (Markov chain over in-session event sequences)
# ---------------------------------------------------------------------------

_PATH_ORACLE = """
WITH g AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, event_id, ts, event_type,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM g
), steps AS (
  SELECT lag(event_type) OVER sw AS from_type, event_type AS to_type
  FROM s
  WINDOW sw AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
), pairs AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM steps WHERE from_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       round(CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY from_type), 6) AS p
FROM pairs
"""


@register(
    "session_path_transitions",
    oracle=_PATH_ORACLE,
    doc="Markov transition matrix over IN-SESSION event sequences: "
        "sessionize (30-min gap, the sessionize_events logic), lag the "
        "event type within each session, roll up (from, to) counts and "
        "row-normalize -- the clickstream next-step model behind "
        "path-analysis and funnel-leak dashboards (the order-status "
        "sibling is markov_status_transitions; this one is event-grain "
        "with session boundaries cutting the chains). Exactness: "
        "probabilities are exact-integer ratios rounded at 6dp; gap "
        "detection compares exact microsecond differences. Scale: one "
        "shuffle on user_id serves both session assignment and the "
        "in-session lag (same partitioning, AQE reuses it); the final "
        "rollup is |event_types|^2-bounded.",
)
def q_session_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    uw = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(uw))
    s = (
        e.withColumn(
            "is_new", (gap_us.isNull() | (gap_us > 1800 * 1_000_000)).cast("int")
        )
        .withColumn(
            "session_id",
            F.sum("is_new").over(
                uw.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    sw = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    pairs = (
        s.select(F.lag("event_type").over(sw).alias("from_type"),
                 F.col("event_type").alias("to_type"))
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    return pairs.select(
        "from_type", "to_type", "n",
        F.round(
            F.col("n").cast("double")
            / F.sum("n").over(Window.partitionBy("from_type")), 6
        ).alias("p"),
    )


# ---------------------------------------------------------------------------
# Trimmed mean (rank-based 10% trim, order-statistics robust location)
# ---------------------------------------------------------------------------

_TRIM_ORACLE = _DAILY_SQL + """
, ranked AS (
  SELECT product, total_revenue,
         CAST(row_number() OVER (PARTITION BY product
                                 ORDER BY total_revenue, date) AS BIGINT) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY product) AS BIGINT) AS n
  FROM daily
)
SELECT product, MAX(n) AS n_days,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       round(CAST(CAST(SUM(CAST(total_revenue AS DECIMAL(18,2))) AS VARCHAR)
                  AS DOUBLE) / COUNT(*), 6) AS trimmed_mean
FROM ranked
WHERE rn > CAST(floor(n * 0.1) AS BIGINT)
  AND rn <= n - CAST(floor(n * 0.1) AS BIGINT)
GROUP BY product
"""


@register(
    "trimmed_mean_revenue",
    oracle=_TRIM_ORACLE,
    doc="10% trimmed mean of daily revenue per product: rank-trim the "
        "lowest and highest floor(n/10) observations (deterministic "
        "(value, date) tie order) and cents-fold the survivors -- the "
        "location estimate between mean (0% breakdown) and median (50%) "
        "that demand planning actually uses. Rank-based trimming beats "
        "percentile-threshold trimming for parity: the kept SET is an "
        "integer function of the ordering, so there is no threshold "
        "float to disagree on. One (date,product) rollup then one "
        "product-keyed window -- partitions bounded by a product's "
        "calendar.",
)
def q_trimmed_mean_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    w = Window.partitionBy("product").orderBy("total_revenue", "date")
    ranked = daily.select(
        "product", "total_revenue",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count("*").over(Window.partitionBy("product")).cast("bigint").alias("n"),
    )
    lo = F.floor(F.col("n") * 0.1).cast("bigint")
    kept = ranked.filter((F.col("rn") > lo) & (F.col("rn") <= F.col("n") - lo))
    dec_sum = dsum("total_revenue")
    return kept.groupBy("product").agg(
        F.max("n").alias("n_days"),
        F.count("*").cast("bigint").alias("n_kept"),
        F.round(dec_sum / F.count("*"), 6).alias("trimmed_mean"),
    )


# ---------------------------------------------------------------------------
# Inverted index postings (IR-engine term index, flattened)
# ---------------------------------------------------------------------------

_INVIDX_ORACLE = """
WITH tf AS (
  SELECT w AS term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY 1, 2
), stats AS (
  SELECT term, doc_id, tf,
         CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df,
         CAST(SUM(tf) OVER (PARTITION BY term) AS BIGINT) AS total_tf,
         CAST(row_number() OVER (PARTITION BY term
                                 ORDER BY tf DESC, doc_id ASC) AS INT) AS rk
  FROM tf
)
SELECT term, df, total_tf, rk, doc_id, tf
FROM stats WHERE rk <= 3
"""


@register(
    "inverted_index",
    oracle=_INVIDX_ORACLE,
    doc="Inverted-index construction: per term, document frequency, "
        "total term frequency, and the top-3 postings by tf (doc_id "
        "tiebreak) -- the index-build relation behind bm25_scores "
        "(which consumes idf at query time; this materializes the "
        "posting lists themselves, flattened one row per posting for "
        "exact cross-engine compare). Scale: one (term, doc) rollup "
        "with map-side combine, then one term-keyed window; hot terms "
        "(stopwords) bound the window partition by their document "
        "frequency -- the same skew profile as vocab_stats, and the "
        "reason real IR systems threshold stopwords first (tf floor "
        "composable here as a WHERE before the window).",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    tw = Window.partitionBy("term")
    rw = Window.partitionBy("term").orderBy(F.col("tf").desc(), F.col("doc_id").asc())
    return (
        tf.select(
            "term",
            F.count("*").over(tw).cast("bigint").alias("df"),
            F.sum("tf").over(tw).cast("bigint").alias("total_tf"),
            F.row_number().over(rw).cast("int").alias("rk"),
            "doc_id", "tf",
        )
        .filter(F.col("rk") <= 3)
    )


# ---------------------------------------------------------------------------
# Cohort LTV curves (signup-cohort revenue by account age)
# ---------------------------------------------------------------------------

_LTV_ORACLE = """
WITH firsts AS (
  SELECT o_custkey, date_trunc('month', MIN(o_orderdate)) AS cohort_m
  FROM orders GROUP BY 1
), aged AS (
  SELECT f.cohort_m,
         datediff('month', f.cohort_m,
                  date_trunc('month', o.o_orderdate)) AS age_months,
         o.o_custkey, o.o_totalprice
  FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
)
SELECT strftime(cohort_m, '%Y-%m') AS cohort,
       CAST(age_months AS INT) AS age_months,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
            AS DOUBLE) AS revenue
FROM aged GROUP BY 1, 2
"""


@register(
    "cohort_ltv",
    oracle=_LTV_ORACLE,
    doc="Cohort lifetime-value curves: customers bucketed by first-order "
        "month, revenue rolled up by months-since-acquisition -- the "
        "LTV/payback table every growth dashboard draws, and the "
        "revenue-weighted sibling of weekly_retention. Month ages come "
        "from month-truncated dates on both engines (integer month "
        "arithmetic, no day-count ambiguity); revenue is the standard "
        "exact cents fold. Scale: first-order rollup shuffles on "
        "custkey, the age join is custkey-co-partitioned (AQE reuses "
        "the exchange), final rollup is |cohorts x ages|-bounded -- "
        "calendar^2, independent of order volume.",
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.trunc(F.min("o_orderdate"), "MM").alias("cohort_m")
    )
    aged = o.join(firsts, "o_custkey").select(
        "cohort_m",
        F.months_between(F.trunc("o_orderdate", "MM"), F.col("cohort_m"))
        .cast("int").alias("age_months"),
        "o_custkey", "o_totalprice",
    )
    return aged.groupBy(
        F.date_format("cohort_m", "yyyy-MM").alias("cohort"), "age_months"
    ).agg(
        F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
        F.count("*").cast("bigint").alias("n_orders"),
        dsum("o_totalprice", "revenue"),
    )


# ---------------------------------------------------------------------------
# Ship-latency distribution (order -> line shipment lag)
# ---------------------------------------------------------------------------

_SHIPLAT_ORACLE = """
WITH lat AS (
  SELECT o.o_orderpriority AS priority,
         datediff('day', CAST(o.o_orderdate AS DATE),
                  CAST(l.l_shipdate AS DATE)) AS days
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT priority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(MIN(days) AS BIGINT) AS min_days,
       CAST(MAX(days) AS BIGINT) AS max_days,
       median(days) AS median_days,
       round(CAST(SUM(days) AS DOUBLE) / COUNT(*), 6) AS avg_days
FROM lat GROUP BY 1
"""


@register(
    "ship_latency_stats",
    oracle=_SHIPLAT_ORACLE,
    doc="Order-to-shipment latency distribution per order priority: "
        "count, min/max, exact median, mean of datediff(ship, order) "
        "days -- the fulfillment-SLA rollup. Day lags are exact "
        "integers, so the median interpolates to dyadic midpoints and "
        "the mean is an exact-integer ratio rounded at 6dp; "
        "deliberately NO interpolated p95 -- (1-g)a+gb with g=.05 "
        "steps is not dyadic and the two engines' interpolation "
        "formulas can differ in the last ulp (the histogram/equi-depth "
        "queries cover tail shape exactly instead). One orderkey join "
        "(co-partitioned fact-fact, the sales_daily shuffle) + a "
        "5-row rollup.",
)
def q_ship_latency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(F.col("l_shipdate").cast("date"),
                   F.col("o_orderdate").cast("date")).alias("days"),
    )
    return lat.groupBy("priority").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.min("days").cast("bigint").alias("min_days"),
        F.max("days").cast("bigint").alias("max_days"),
        F.expr("percentile(days, 0.5)").alias("median_days"),
        F.round(F.sum("days").cast("double") / F.count("*"), 6).alias("avg_days"),
    )


# ---------------------------------------------------------------------------
# Supplier dimension coverage (region-level supplier base)
# ---------------------------------------------------------------------------

_SUPP_ORACLE = """
WITH s AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         sup.s_suppkey, sup.s_name, sup.s_acctbal
  FROM supplier sup
  JOIN nation n ON n.n_nationkey = sup.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
)
SELECT region,
       CAST(COUNT(DISTINCT nation) AS BIGINT) AS n_nations,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS VARCHAR)
            AS DOUBLE) AS total_acctbal,
       round(CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS VARCHAR)
                  AS DOUBLE) / COUNT(*), 6) AS avg_acctbal,
       MIN(CASE WHEN rk = 1 THEN s_name END) AS top_supplier
FROM (
  SELECT *, row_number() OVER (PARTITION BY region
                               ORDER BY s_acctbal DESC, s_suppkey ASC) AS rk
  FROM s
) GROUP BY region
"""


@register(
    "supplier_region_stats",
    oracle=_SUPP_ORACLE,
    doc="Supplier-base rollup per region: nation coverage, headcount, "
        "exact decimal account-balance totals/means, and the "
        "top-balance supplier (argmax with s_suppkey tiebreak) -- "
        "closes the one base table (supplier) the rest of the surface "
        "never touched, so every table in the star schema now has "
        "oracle-checked coverage. Plan: supplier scan with BOTH dim "
        "joins broadcast (nation 25 rows, region 5), one region "
        "rollup; the argmax window partitions by the 5-row region key "
        "AFTER the dims collapse the key space -- trivially bounded.",
)
def q_supplier_region_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    s = (
        sup.join(F.broadcast(n), sup.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation"),
            "s_suppkey", "s_name", "s_acctbal",
        )
    )
    rw = Window.partitionBy("region").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey").asc()
    )
    ranked = s.withColumn("rk", F.row_number().over(rw))
    dec_sum = dsum("s_acctbal")
    return ranked.groupBy("region").agg(
        F.countDistinct("nation").cast("bigint").alias("n_nations"),
        F.count("*").cast("bigint").alias("n_suppliers"),
        dec_sum.alias("total_acctbal"),
        F.round(dec_sum / F.count("*"), 6).alias("avg_acctbal"),
        F.min(F.when(F.col("rk") == 1, F.col("s_name"))).alias("top_supplier"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP) per type x day
# ---------------------------------------------------------------------------

_TWAP_ORACLE = """
WITH seq AS (
  SELECT event_type, CAST(ts AS DATE) AS d, value,
         epoch_us(lead(ts) OVER w) - epoch_us(ts) AS dt_us
  FROM events
  WINDOW w AS (PARTITION BY event_type, CAST(ts AS DATE)
               ORDER BY ts, event_id)
), seg AS (
  SELECT event_type, d,
         round(value * (dt_us / 1000000.0), 6) AS contrib, dt_us
  FROM seq WHERE dt_us IS NOT NULL
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS date,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(dt_us) AS BIGINT) AS covered_us,
       round(CAST(CAST(SUM(CAST(contrib AS DECIMAL(28,6))) AS VARCHAR)
                  AS DOUBLE)
             / (CAST(SUM(dt_us) AS DOUBLE) / 1000000.0), 6) AS twap
FROM seg GROUP BY 1, 2
"""


@register(
    "twap_hourly",
    oracle=_TWAP_ORACLE,
    doc="Time-weighted average value per (event_type, day): each "
        "observation holds until the next one in its partition, so its "
        "weight is the exact microsecond gap to the successor (lead; "
        "the day's last segment is open-ended and excluded) -- the "
        "TWAP/TWA metric financial and metrics systems use where "
        "plain AVG over-weights bursts. Exactness: weights are exact "
        "integer micros; per-segment value*dt contributions are "
        "rounded at 6dp then decimal-folded; the denominator stays an "
        "exact BIGINT micros sum until one final division. Scale: one "
        "shuffle on (type, day) serving both the lead window and the "
        "rollup; partitions are one type-day of events.",
)
def q_twap_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    d = F.col("ts").cast("date")
    w = Window.partitionBy("event_type", d.alias("d")).orderBy("ts", "event_id")
    seq = e.select(
        "event_type", d.alias("d"), "value",
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts")))
        .alias("dt_us"),
    ).filter(F.col("dt_us").isNotNull())
    contrib = F.round(F.col("value") * (F.col("dt_us") / 1000000.0), 6)
    num = dsum(contrib, dec="decimal(28,6)")
    den_us = F.sum("dt_us").cast("bigint")
    return seq.groupBy("event_type", F.date_format("d", "yyyy-MM-dd").alias("date")).agg(
        F.count("*").cast("bigint").alias("n_segments"),
        den_us.alias("covered_us"),
        F.round(num / (den_us.cast("double") / 1000000.0), 6).alias("twap"),
    )


# ---------------------------------------------------------------------------
# Week-over-week top movers
# ---------------------------------------------------------------------------

_WOW_ORACLE = _DAILY_SQL + """
, weekly AS (
  SELECT product,
         CAST(date_trunc('week', date) AS DATE) AS week_start,
         SUM(CAST(total_revenue AS DECIMAL(18,2))) AS rev
  FROM daily GROUP BY 1, 2
), shifted AS (
  SELECT product, week_start,
         CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS rev,
         CAST(CAST(lag(rev) OVER (PARTITION BY product ORDER BY week_start)
                   AS VARCHAR) AS DOUBLE) AS prev_rev,
         CAST(date_trunc('week', week_start - INTERVAL 7 DAY) AS DATE)
           = lag(week_start) OVER (PARTITION BY product ORDER BY week_start)
           AS contiguous
  FROM weekly
), movers AS (
  SELECT product, strftime(week_start, '%Y-%m-%d') AS week_start,
         rev, prev_rev,
         round(rev - prev_rev, 2) AS delta,
         round((rev - prev_rev) / prev_rev, 6) AS pct_change
  FROM shifted
  WHERE contiguous AND prev_rev > 0
)
SELECT product, week_start, rev, prev_rev, delta, pct_change,
       CAST(rk AS INT) AS rk
FROM (
  SELECT *, row_number() OVER (ORDER BY abs(delta) DESC, product, week_start)
            AS rk
  FROM movers
) WHERE rk <= 25
"""


@register(
    "top_movers_wow",
    oracle=_WOW_ORACLE,
    doc="Week-over-week top movers: the 25 largest absolute revenue "
        "swings between CONTIGUOUS weeks per product (gap weeks "
        "excluded by checking lag(week) == week-7d, so a product "
        "returning after a dark month is not scored as a spike). "
        "Weekly sums are exact cents via the varchar round-trip; "
        "delta is a 2dp-exact difference and pct_change a 6dp-rounded "
        "ratio -- ranking on abs(delta) with (product, week) "
        "tiebreaks is deterministic. Scale: daily->weekly rollup "
        "shuffles on product (reused by the lag window); the final "
        "top-25 is a distributed sort+limit, ranked after the cut "
        "like triple_counts_topk.",
)
def q_top_movers_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    weekly = daily.groupBy(
        "product", F.date_trunc("week", "date").cast("date").alias("week_start")
    ).agg(
        F.sum(cents(F.col("total_revenue"))).alias("rev_c")
    )
    pw = Window.partitionBy("product").orderBy("week_start")
    shifted = weekly.select(
        "product", "week_start",
        cents_to_double(F.col("rev_c")).alias("rev"),
        cents_to_double(F.lag("rev_c").over(pw)).alias("prev_rev"),
        (F.date_sub(F.col("week_start"), 7) == F.lag("week_start").over(pw))
        .alias("contiguous"),
    )
    movers = (
        shifted.filter(F.col("contiguous") & (F.col("prev_rev") > 0))
        .select(
            "product",
            F.date_format("week_start", "yyyy-MM-dd").alias("week_start"),
            "rev", "prev_rev",
            F.round(F.col("rev") - F.col("prev_rev"), 2).alias("delta"),
            F.round((F.col("rev") - F.col("prev_rev")) / F.col("prev_rev"), 6)
            .alias("pct_change"),
        )
    )
    order = [F.abs(F.col("delta")).desc(), F.col("product").asc(),
             F.col("week_start").asc()]
    topk = movers.orderBy(*order).limit(25)
    return topk.withColumn(
        "rk", F.row_number().over(Window.orderBy(*order)).cast("int")
    )


# ---------------------------------------------------------------------------
# New vs returning customers per month
# ---------------------------------------------------------------------------

_NVR_ORACLE = """
WITH firsts AS (
  SELECT o_custkey, date_trunc('month', MIN(o_orderdate)) AS first_m
  FROM orders GROUP BY 1
), tagged AS (
  SELECT date_trunc('month', o.o_orderdate) AS m, o.o_custkey,
         date_trunc('month', o.o_orderdate) = f.first_m AS is_new,
         o.o_totalprice
  FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
)
SELECT strftime(m, '%Y-%m') AS month,
       CAST(COUNT(DISTINCT CASE WHEN is_new THEN o_custkey END) AS BIGINT)
         AS n_new,
       CAST(COUNT(DISTINCT CASE WHEN NOT is_new THEN o_custkey END) AS BIGINT)
         AS n_returning,
       CAST(CAST(SUM(CASE WHEN is_new
                          THEN CAST(o_totalprice AS DECIMAL(18,2))
                          ELSE CAST(0 AS DECIMAL(18,2)) END) AS VARCHAR)
            AS DOUBLE) AS new_revenue,
       CAST(CAST(SUM(CASE WHEN NOT is_new
                          THEN CAST(o_totalprice AS DECIMAL(18,2))
                          ELSE CAST(0 AS DECIMAL(18,2)) END) AS VARCHAR)
            AS DOUBLE) AS returning_revenue
FROM tagged GROUP BY 1
"""


@register(
    "new_vs_returning_monthly",
    oracle=_NVR_ORACLE,
    doc="Monthly new-vs-returning split: a customer is NEW in their "
        "first-order month and RETURNING in every later active month; "
        "distinct headcounts and exact cents revenue per bucket -- "
        "the acquisition/retention overview next to cohort_ltv. Same "
        "custkey-co-partitioned first-order join as cohort_ltv; the "
        "month rollup is calendar-bounded.",
)
def q_new_vs_returning_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL custkeys fall out of the oracle's inner join against firsts;
    # the window rewrite would keep them (NULLs form their own window
    # partition), so filter them explicitly to preserve join semantics.
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey").isNotNull())
    # first-order month as a window over the same custkey partition the
    # oracle's aggregate+join implies — one orders scan and one shuffle
    # instead of a second scan feeding a self-join
    first_m = F.trunc(
        F.min("o_orderdate").over(Window.partitionBy("o_custkey")), "MM"
    )
    tagged = o.select(
        F.trunc("o_orderdate", "MM").alias("m"),
        "o_custkey",
        (F.trunc("o_orderdate", "MM") == first_m).alias("is_new"),
        "o_totalprice",
    )
    dec = lambda cond: cents_to_double(  # noqa: E731
        F.sum(F.when(cond, cents(F.col("o_totalprice"))).otherwise(F.lit(0)))
    )
    return tagged.groupBy(F.date_format("m", "yyyy-MM").alias("month")).agg(
        F.countDistinct(F.when(F.col("is_new"), F.col("o_custkey")))
        .cast("bigint").alias("n_new"),
        F.countDistinct(F.when(~F.col("is_new"), F.col("o_custkey")))
        .cast("bigint").alias("n_returning"),
        dec(F.col("is_new")).alias("new_revenue"),
        dec(~F.col("is_new")).alias("returning_revenue"),
    )


# ---------------------------------------------------------------------------
# Repeat-purchase intervals (per market segment)
# ---------------------------------------------------------------------------

_REPUR_ORACLE = """
WITH gaps AS (
  SELECT o_custkey,
         datediff('day',
                  CAST(lag(o_orderdate) OVER w AS DATE),
                  CAST(o_orderdate AS DATE)) AS gap_days
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), seg AS (
  SELECT c.c_mktsegment AS segment, g.gap_days
  FROM gaps g JOIN customer c ON c.c_custkey = g.o_custkey
  WHERE g.gap_days IS NOT NULL
)
SELECT segment,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(MIN(gap_days) AS BIGINT) AS min_days,
       CAST(MAX(gap_days) AS BIGINT) AS max_days,
       median(gap_days) AS median_days,
       round(CAST(SUM(gap_days) AS DOUBLE) / COUNT(*), 6) AS avg_days
FROM seg GROUP BY 1
"""


@register(
    "repurchase_intervals",
    oracle=_REPUR_ORACLE,
    doc="Repeat-purchase cadence per market segment: the day gaps "
        "between each customer's consecutive orders (lag over "
        "(o_orderdate, o_orderkey) -- deterministic under same-day "
        "orders), rolled up to count/min/max/exact-median/mean per "
        "segment -- the inter-purchase-time metric behind replenishment "
        "and churn-risk models (a customer 3x past their segment median "
        "is drifting). Integer day gaps keep the median dyadic and the "
        "mean an exact ratio. One custkey shuffle for the lag, one "
        "broadcast dim join, a 5-row rollup.",
)
def q_repurchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    seg = gaps.join(F.broadcast(c), gaps.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"), "gap_days"
    )
    return seg.groupBy("segment").agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        F.min("gap_days").cast("bigint").alias("min_days"),
        F.max("gap_days").cast("bigint").alias("max_days"),
        F.expr("percentile(gap_days, 0.5)").alias("median_days"),
        F.round(F.sum("gap_days").cast("double") / F.count("*"), 6)
        .alias("avg_days"),
    )


# ---------------------------------------------------------------------------
# OLS trend per product (closed form from exact moments)
# ---------------------------------------------------------------------------

_OLS_ORACLE = _DAILY_SQL + """
, mn AS (SELECT MIN(CAST(date AS DATE)) AS d0 FROM daily),
pts AS (
  SELECT product,
         CAST(datediff('day', d0, CAST(date AS DATE)) AS BIGINT) AS x,
         CAST(total_quantity AS BIGINT) AS y
  FROM daily CROSS JOIN mn
), m AS (
  SELECT product,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM pts GROUP BY 1
)
SELECT product, n,
       CASE WHEN n * sxx - sx * sx <> 0
            THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                       / (n * sxx - sx * sx), 6) END AS slope,
       CASE WHEN n * sxx - sx * sx <> 0
            THEN round(CAST(sy * sxx - sx * sxy AS DOUBLE)
                       / (n * sxx - sx * sx), 6) END AS intercept
FROM m
"""


@register(
    "sales_trend_ols",
    oracle=_OLS_ORACLE,
    doc="Per-product OLS demand trend: slope and intercept of daily "
        "quantity against day index, computed in closed form from "
        "exact integer moment sums (n, Sx, Sy, Sxy, Sxx -- daily "
        "quantities are integer-valued, day indexes are integers, all "
        "sums fit BIGINT by construction), so the only float ops are "
        "two final divisions of identical exact integers -- the same "
        "moments discipline as volatility_cv and corr_revenue_"
        "quantity extended to regression. Degenerate single-day "
        "products yield NULL (zero determinant), not NaN. One "
        "(date,product) rollup + one product rollup; the global min "
        "date rides in as a 1-row broadcast.",
)
def q_sales_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    mn = daily.agg(F.min(F.col("date").cast("date")).alias("d0"))
    pts = daily.crossJoin(F.broadcast(mn)).select(
        "product",
        F.datediff(F.col("date").cast("date"), F.col("d0"))
        .cast("bigint").alias("x"),
        F.col("total_quantity").cast("bigint").alias("y"),
    )
    m = pts.groupBy("product").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return m.select(
        "product", "n",
        F.when(det != 0, F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("double") / det, 6)).alias("slope"),
        F.when(det != 0, F.round(
            (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy"))
            .cast("double") / det, 6)).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Revenue concentration metrics (Gini, HHI, top-k shares)
# ---------------------------------------------------------------------------

_CONC_ORACLE = _DAILY_SQL + """
, rev AS (
  SELECT product, SUM(CAST(total_revenue AS DECIMAL(18,2))) AS r
  FROM daily GROUP BY 1
), ranked AS (
  SELECT r, CAST(row_number() OVER (ORDER BY r ASC, product ASC) AS BIGINT)
         AS i
  FROM rev
), g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(CAST(SUM(r) AS VARCHAR) AS DOUBLE) AS total,
         CAST(CAST(SUM(i * r) AS VARCHAR) AS DOUBLE) AS weighted,
         CAST(CAST(SUM(CAST(r AS DECIMAL(38,4)) * r) AS VARCHAR) AS DOUBLE)
           AS sum_sq,
         CAST(CAST(SUM(CASE WHEN i > (SELECT COUNT(*) FROM rev) - 1
                            THEN r ELSE CAST(0 AS DECIMAL(18,2)) END)
                   AS VARCHAR) AS DOUBLE) AS top1,
         CAST(CAST(SUM(CASE WHEN i > (SELECT COUNT(*) FROM rev) - 5
                            THEN r ELSE CAST(0 AS DECIMAL(18,2)) END)
                   AS VARCHAR) AS DOUBLE) AS top5
  FROM ranked
)
SELECT n AS n_products,
       round(2.0 * weighted / (n * total) - (n + 1.0) / n, 6) AS gini,
       round(sum_sq / (total * total), 6) AS hhi,
       round(top1 / total, 6) AS top1_share,
       round(top5 / total, 6) AS top5_share
FROM g
"""


@register(
    "concentration_metrics",
    oracle=_CONC_ORACLE,
    doc="Revenue-concentration summary over products: Gini coefficient "
        "(rank formulation 2*sum(i*r)/(n*sum(r)) - (n+1)/n over the "
        "ascending (revenue, product) order), Herfindahl index "
        "sum(share^2) computed as an exact decimal sum of squares over "
        "total^2, and top-1/top-5 revenue shares -- the inequality "
        "dashboard next to pareto_revenue_80. Every accumulation is an "
        "exact decimal fold (i*r and r*r stay decimal); floats appear "
        "only in the final identical-expression divisions, rounded at "
        "6dp. Product-table-sized relation end to end after the daily "
        "rollup.",
)
def q_concentration_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    rev = daily.groupBy("product").agg(
        F.sum(F.col("total_revenue").cast("decimal(18,2)")).alias("r")
    )
    w = Window.orderBy(F.col("r").asc(), F.col("product").asc())
    ranked = rev.select("r", F.row_number().over(w).cast("bigint").alias("i"))
    nrow = rev.agg(F.count("*").cast("bigint").alias("n_products"))
    ranked = ranked.crossJoin(F.broadcast(nrow))
    dec0 = F.lit(0).cast("decimal(18,2)")
    g = ranked.agg(
        F.max("n_products").alias("n"),
        dec_to_double(F.sum("r")).alias("total"),
        dec_to_double(F.sum(F.col("i") * F.col("r"))).alias("weighted"),
        dec_to_double(F.sum(F.col("r").cast("decimal(38,4)") * F.col("r")))
        .alias("sum_sq"),
        dec_to_double(F.sum(
            F.when(F.col("i") > F.col("n_products") - 1, F.col("r"))
            .otherwise(dec0))).alias("top1"),
        dec_to_double(F.sum(
            F.when(F.col("i") > F.col("n_products") - 5, F.col("r"))
            .otherwise(dec0))).alias("top5"),
    )
    return g.select(
        F.col("n").alias("n_products"),
        F.round(2.0 * F.col("weighted") / (F.col("n") * F.col("total"))
                - (F.col("n") + 1.0) / F.col("n"), 6).alias("gini"),
        F.round(F.col("sum_sq") / (F.col("total") * F.col("total")), 6)
        .alias("hhi"),
        F.round(F.col("top1") / F.col("total"), 6).alias("top1_share"),
        F.round(F.col("top5") / F.col("total"), 6).alias("top5_share"),
    )


# ---------------------------------------------------------------------------
# CUSUM change-point detection (sequential drift, not pointwise outliers)
# ---------------------------------------------------------------------------


@register(
    "cusum_changepoints",
    oracle=_DAILY_SQL + f"""
    , cum AS (
      SELECT product, date,
             CAST(SUM(CAST(total_revenue AS DECIMAL(18,2))) OVER w * 100
                  AS BIGINT) AS cum_c,
             ROW_NUMBER() OVER w AS t
      FROM daily
      WINDOW w AS (PARTITION BY product ORDER BY date
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), tot AS (
      SELECT product, COUNT(*) AS n,
             CAST(SUM(CAST(total_revenue AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS tot_c,
             {oracle_dsum('total_revenue', 'sx')},
             {oracle_dsum('total_revenue * total_revenue',
                          'sxx', dec='DECIMAL(28,10)')}
      FROM daily GROUP BY 1
    )
    SELECT c.product, strftime(c.date, '%Y-%m-%d') AS date,
           CAST(n * cum_c - t * tot_c AS DOUBLE)
             / (CAST(n AS DOUBLE) * 100.0) AS cusum,
           CASE WHEN n > 1 AND (sxx - sx * sx / n) > 0 THEN
             CAST(ABS(CAST(n * cum_c - t * tot_c AS DOUBLE)
                      / (CAST(n AS DOUBLE) * 100.0))
                  > 3.0 * SQRT((sxx - sx * sx / n) / (n - 1))
                        * SQRT(CAST(t AS DOUBLE)) AS INT)
           ELSE 0 END AS is_drift
    FROM cum c JOIN tot USING (product)
    """,
    doc="CUSUM change-point detection over each product's daily revenue "
        "— SEQUENTIAL drift (a sustained level shift accumulates in the "
        "running sum of deviations), complementary to the pointwise "
        "outlier queries (mad_outliers, seasonal_anomalies) which only "
        "see individually-extreme days. Exactness: cusum_t = "
        "Σ_{{s<=t}}(x_s − μ) = (n·prefix_t − t·total)/n is computed as "
        "EXACT BIGINT cents in the numerator (running cent sum; "
        "n·prefix − t·total never touches a float), with ONE double "
        "division at the end — a windowed float cumsum would make the "
        "result accumulation-order-dependent and engine-divergent, and "
        "rounding the quotient would hit cross-engine half-way flips "
        "(the gap_fill_linear lesson), so the raw correctly-rounded "
        "quotient IS the output. Drift flag: |cusum| > 3σ√t (the "
        "random-walk null's envelope), σ from exact decimal moments, "
        "identical expression tree on both engines. Plan: one "
        "per-product ordered window over the daily relation + a "
        "broadcast of per-product totals — the window partitions by "
        "product, so a 100 TB run parallelizes across products and "
        "each partition is one product's calendar (bounded).",
)
def q_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # daily is consumed by TWO subplans (the ordered prefix window and
    # the per-product totals); materialize once so the 3-table fact
    # join isn't embedded per consumer (6 parquet scans → 0, pinned)
    daily = truncate_lineage(_daily(spark, sf_dir))
    wseq = Window.partitionBy("product").orderBy("date")
    wcum = wseq.rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "product", "date",
        F.sum(cents(F.col("total_revenue"))).over(wcum).alias("cum_c"),
        F.row_number().over(wseq).cast("bigint").alias("t"),
    )
    tot = daily.groupBy("product").agg(
        F.count("*").alias("n"),
        F.sum(cents(F.col("total_revenue"))).alias("tot_c"),
        dsum("total_revenue", "sx"),
        dsum("total_revenue * total_revenue", "sxx", dec="decimal(28,10)"),
    )
    j = cum.join(F.broadcast(tot), "product")
    num = F.col("n") * F.col("cum_c") - F.col("t") * F.col("tot_c")
    cusum = num.cast("double") / (F.col("n").cast("double") * F.lit(100.0))
    var_num = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    sd = F.sqrt(var_num / (F.col("n") - 1))
    is_drift = (
        F.when(
            (F.col("n") > 1) & (var_num > 0),
            (F.abs(cusum)
             > F.lit(3.0) * sd * F.sqrt(F.col("t").cast("double")))
            .cast("int"),
        ).otherwise(F.lit(0))
    )
    return j.select(
        "product",
        F.date_format("date", "yyyy-MM-dd").alias("date"),
        cusum.alias("cusum"),
        is_drift.alias("is_drift"),
    )


# ---------------------------------------------------------------------------
# Discrete-time churn hazard curve (Kaplan–Meier risk sets, exact ints)
# ---------------------------------------------------------------------------

#: Months of order silence before the observation cutoff that define
#: churn: a customer whose last order is ≤ (corpus end − 3 months) is
#: an observed churn event; later last-orders are right-CENSORED (we
#: know they survived to that tenure, not that they churned there).
_CH_SILENCE = 3

_CH_FINAL = [
    "k", "n_at_risk", "n_churned", "n_censored",
    "CAST(n_churned AS DOUBLE) / n_at_risk AS hazard",
]


@register(
    "churn_hazard_curve",
    oracle=f"""
    WITH m AS (
      SELECT o_custkey,
             CAST(EXTRACT(year FROM o_orderdate) * 12
                  + EXTRACT(month FROM o_orderdate) AS INT) AS mo
      FROM orders
    ), per_cust AS (
      SELECT o_custkey, MIN(mo) AS f, MAX(mo) AS l FROM m GROUP BY 1
    ), cutoff AS (
      SELECT MAX(mo) - {_CH_SILENCE} AS q FROM m
    ), tenure AS (
      SELECT l - f AS u,
             CASE WHEN l <= q THEN 1 ELSE 0 END AS e
      FROM per_cust CROSS JOIN cutoff
    ), hist AS (
      SELECT u, CAST(COUNT(*) AS BIGINT) AS w,
             CAST(SUM(e) AS BIGINT) AS d
      FROM tenure GROUP BY u
    ), curve AS (
      SELECT u AS k,
             CAST(SUM(w) OVER (ORDER BY u DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_at_risk,
             d AS n_churned,
             w - d AS n_censored
      FROM hist
    )
    SELECT {", ".join(_CH_FINAL)} FROM curve ORDER BY k
    """,
    doc="Discrete-time churn hazard: for each tenure k (months between "
        "a customer's first and last order), the Kaplan–Meier risk-set "
        "estimate h(k) = churned-at-k / at-risk-at-k, with customers "
        "still ordering near the corpus end right-CENSORED rather than "
        "counted as churned — the survival-analysis read that naive "
        "'inactive = churned' funnels get wrong. Everything is exact "
        "integers until the output: tenures are month-index "
        "differences, the risk set is a REVERSE cumulative sum over "
        "the tenure histogram (the registry's distinct-value "
        "histogram-window trick: the window runs over ≤ ~calendar "
        "months rows, never per customer), and the single division "
        "per output row is a shared final expression. Scale: one "
        "custkey-shuffled aggregate over orders, a 1-row cutoff "
        "broadcast, then histogram-sized work — the curve costs the "
        "same at 100 TB as at 1 GB past the rollup.",
)
def q_churn_hazard_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    mo = F.expr("year(o_orderdate) * 12 + month(o_orderdate)").cast("int")
    m = table(spark, sf_dir, "orders").select(
        "o_custkey", mo.alias("mo"))
    per_cust = m.groupBy("o_custkey").agg(
        F.min("mo").alias("f"), F.max("mo").alias("l"))
    cutoff = m.agg((F.max("mo") - _CH_SILENCE).alias("q"))
    tenure = per_cust.crossJoin(F.broadcast(cutoff)).select(
        (F.col("l") - F.col("f")).alias("u"),
        F.when(F.col("l") <= F.col("q"), 1).otherwise(0).alias("e"))
    hist = tenure.groupBy("u").agg(
        F.count("*").cast("bigint").alias("w"),
        F.sum("e").cast("bigint").alias("d"))
    w_desc = (Window.orderBy(F.col("u").desc())
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    curve = hist.select(
        F.col("u").alias("k"),
        F.sum("w").over(w_desc).cast("bigint").alias("n_at_risk"),
        F.col("d").alias("n_churned"),
        (F.col("w") - F.col("d")).alias("n_censored"))
    return curve.selectExpr(*_CH_FINAL).orderBy("k")


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of a lexical and a semantic retriever
# ---------------------------------------------------------------------------

_RRF_K0 = 60        # the standard RRF dampening constant (Cormack'09)
_RRF_POOL = 100     # per-retriever candidate list depth
_RRF_TOPN = 20
_RRF_QVEC = 0       # query = embedding of vec_id 0 (doc_id-aligned)

#: Sequential-fold dot product — same op order as DuckDB's
#: list_dot_product, so the doubles are bit-identical (the proven
#: similarity-module device).
_RRF_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> "
    "cast(x as double) * cast(y as double)), cast(0.0 as double), "
    "(acc, v) -> acc + v)"
)

#: RRF contribution of one (possibly missing) rank — shared text for
#: both engines: integer operands → identical doubles; a doc absent
#: from one retriever's pool contributes exactly 0.
def _rrf_term(rank_col: str) -> str:
    return (f"COALESCE(CAST(1 AS DOUBLE) / "
            f"CAST({_RRF_K0} + {rank_col} AS DOUBLE), CAST(0 AS DOUBLE))")


@register(
    "rrf_fusion_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS dl,
             {', '.join(
                 f"CAST(len(list_filter(string_split(lower(text), ' '), "
                 f"x -> x = '{t}')) AS DOUBLE) AS tf_{t}" for t in _BM25_TERMS)}
      FROM documents
    ), stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(dl) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
             {', '.join(
                 f"CAST(SUM(CAST(tf_{t} > 0 AS INT)) AS DOUBLE) AS df_{t}"
                 for t in _BM25_TERMS)}
      FROM tok
    ), lex AS (
      SELECT doc_id,
             row_number() OVER (
               ORDER BY round({' + '.join(_bm25_score_sql(t) for t in _BM25_TERMS)}, 6) DESC,
                        doc_id) AS r_lex
      FROM tok, stats
    ), q AS (
      SELECT embedding::DOUBLE[] AS qe FROM embeddings
      WHERE vec_id = {_RRF_QVEC}
    ), sem AS (
      SELECT vec_id AS doc_id,
             row_number() OVER (
               ORDER BY round(list_dot_product(qe, embedding::DOUBLE[]) /
                        (sqrt(list_dot_product(qe, qe)) *
                         sqrt(list_dot_product(embedding::DOUBLE[],
                                               embedding::DOUBLE[]))), 6) DESC,
                        vec_id) AS r_sem
      FROM embeddings, q
    ), fused AS (
      SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
             CAST(l.r_lex AS INT) AS r_lex,
             CAST(s.r_sem AS INT) AS r_sem,
             {_rrf_term('l.r_lex')} + {_rrf_term('s.r_sem')} AS rrf_score
      FROM (SELECT * FROM lex WHERE r_lex <= {_RRF_POOL}) l
      FULL OUTER JOIN (SELECT * FROM sem WHERE r_sem <= {_RRF_POOL}) s
        ON l.doc_id = s.doc_id
    )
    SELECT * FROM (
      SELECT doc_id, r_lex, r_sem, rrf_score,
             CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
                  AS INT) AS fused_rank
      FROM fused
    ) WHERE fused_rank <= {_RRF_TOPN} ORDER BY fused_rank
    """,
    doc="Reciprocal-rank fusion (Cormack et al., SIGIR'09) of the two "
        "retrieval modalities the registry already proves separately: "
        f"the BM25 lexical ranking over {_BM25_TERMS} and the cosine "
        "semantic ranking against a fixed query embedding — the "
        "standard hybrid-search combiner (1/(60+rank) summed across "
        "lists, docs missing from a pool contribute exactly 0 via a "
        "FULL OUTER join of the two top-100 lists). Engine-portable "
        "by construction: each retriever's float score is 6dp-rounded "
        "before its rank (the bm25/similarity device), so the INTEGER "
        "ranks agree across engines, and the fused score is a shared "
        "double expression over integer operands — rank ties (doc "
        "pairs with mirrored ranks sum to the identical double) break "
        "on doc_id. Scale: each retriever is one corpus scan + one "
        "per-query rank (partition by query_id in the multi-query "
        "generalization); the fusion join moves 2×pool rows per "
        "query — constant in corpus size.",
)
def q_rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.size(F.split(F.lower("text"), " ")).cast("double").alias("dl"),
        *[
            F.expr(
                f"cast(size(filter(split(lower(text), ' '), x -> x = '{t}')) as double)"
            ).alias(f"tf_{t}")
            for t in _BM25_TERMS
        ],
    )
    stats = tok.agg(
        F.count("*").cast("double").alias("n"),
        (F.sum("dl") / F.count("*").cast("double")).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("int")).cast("double").alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    score = F.round(
        F.expr(" + ".join(_bm25_score_sql(t) for t in _BM25_TERMS)), 6
    )
    lex = (
        tok.crossJoin(F.broadcast(stats))
        .select("doc_id", score.alias("score"))
        .withColumn(
            "r_lex",
            F.row_number().over(Window.orderBy(F.desc("score"), F.asc("doc_id"))),
        )
        .where(F.col("r_lex") <= _RRF_POOL)
        .select("doc_id", "r_lex")
    )
    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == _RRF_QVEC).select(
        F.col("embedding").alias("qe"))
    cos = F.round(
        F.expr(_RRF_DOT.format(a="qe", b="embedding"))
        / (F.sqrt(F.expr(_RRF_DOT.format(a="qe", b="qe")))
           * F.sqrt(F.expr(_RRF_DOT.format(a="embedding", b="embedding")))),
        6,
    )
    sem = (
        e.crossJoin(F.broadcast(q))
        .select(F.col("vec_id").alias("doc_id"), cos.alias("cos_sim"))
        .withColumn(
            "r_sem",
            F.row_number().over(Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"))),
        )
        .where(F.col("r_sem") <= _RRF_POOL)
        .select(F.col("doc_id").alias("sem_doc_id"), "r_sem")
    )
    fused = (
        lex.join(sem, lex.doc_id == sem.sem_doc_id, "full_outer")
        .select(
            F.coalesce("doc_id", "sem_doc_id").alias("doc_id"),
            F.col("r_lex").cast("int").alias("r_lex"),
            F.col("r_sem").cast("int").alias("r_sem"),
        )
        .withColumn(
            "rrf_score",
            F.expr(f"{_rrf_term('r_lex')} + {_rrf_term('r_sem')}"),
        )
    )
    return (
        fused.withColumn(
            "fused_rank",
            F.row_number()
            .over(Window.orderBy(F.desc("rrf_score"), F.asc("doc_id")))
            .cast("int"),
        )
        .where(F.col("fused_rank") <= _RRF_TOPN)
        .orderBy("fused_rank")
    )
