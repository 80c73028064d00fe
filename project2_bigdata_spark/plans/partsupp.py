"""TPC-H family closure: Q2 / Q11 / Q16 / Q20 via a DERIVED partsupp,
plus Q12 via a derived shipmode (VERDICT r7 item 3).

The driver's corpus has no ``partsupp`` table and no
shipmode/commit/receipt dates on lineitem, so the four partsupp
classics and Q12 were the only TPC-H queries the registry could not
state. This module derives the missing relation the same way the Q4/Q21
adaptations derived their fault markers — deterministically from
columns that DO exist, with the identical arithmetic stated on both
engines:

* ``partsupp`` := the distinct ``(l_partkey, l_suppkey)`` pairs that
  actually traded, with ``ps_supplycost`` / ``ps_availqty`` as integer
  hash mixes of the two keys (exact DECIMAL/INT on both engines — no
  floats anywhere in the derivation). At 100 TB the distinct is one
  map-side-combinable shuffle of two BIGINT columns; every query below
  then treats the result as the dimension-sized relation it is in real
  TPC-H (|parts| x avg-suppliers-per-part, far smaller than lineitem).
* ``l_shipmode`` := a 7-way CASE over ``(l_orderkey*13 + l_linenumber)
  % 7`` — row-local, exact, identical text on both engines, and the
  multiplier coprime to 7 so both key components actually mix.

Cross-engine exactness follows ``functions/money.py``: all money stays
decimal until one final string→double round-trip; the Q11 HAVING
fraction is an INTEGER inequality (``2000 * part_value > total``), not
a float multiply.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.money import dec_to_double
from .registry import register

# ---------------------------------------------------------------------------
# the derived relation (shared by Q2/Q11/Q16/Q20)
# ---------------------------------------------------------------------------

#: DuckDB CTE mirror of :func:`partsupp_df` — prepended to every oracle.
ORACLE_PARTSUPP = """
    WITH partsupp AS (
      SELECT ps_partkey, ps_suppkey,
             CAST(1 + (ps_partkey * 13 + ps_suppkey * 7) % 1000
                  AS DECIMAL(12,2)) AS ps_supplycost,
             CAST(1 + (ps_partkey * 31 + ps_suppkey * 17) % 9999
                  AS INT) AS ps_availqty
      FROM (SELECT DISTINCT l_partkey AS ps_partkey,
                            l_suppkey AS ps_suppkey FROM lineitem)
    )
"""


def partsupp_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived partsupp relation (see module docstring).

    Cost/qty are pure integer hash mixes of the key pair, so both
    engines compute bit-identical values: DECIMAL(12,2) holds the
    1..1000 integral cost exactly, ps_availqty is 1..9999.
    """
    pairs = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("ps_partkey"),
                F.col("l_suppkey").alias("ps_suppkey"))
        .distinct()
    )
    return pairs.select(
        "ps_partkey", "ps_suppkey",
        (F.lit(1) + (F.col("ps_partkey") * 13 + F.col("ps_suppkey") * 7)
         % 1000).cast("decimal(12,2)").alias("ps_supplycost"),
        (F.lit(1) + (F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 17)
         % 9999).cast("int").alias("ps_availqty"),
    )


def _supplier_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(table(spark, sf_dir, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q2: minimum-cost supplier (correlated min, decorrelated)
# ---------------------------------------------------------------------------

_Q2_REGION = "EUROPE"
_Q2_TYPE = "STANDARD"
_Q2_MAX_SIZE = 5


@register(
    "tpch_q2_min_cost_supplier",
    oracle=ORACLE_PARTSUPP + f""",
    eligible AS (
      SELECT ps.ps_partkey, ps.ps_supplycost, s.s_name, s.s_acctbal, n.n_name
      FROM partsupp ps
      JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      JOIN part p     ON p.p_partkey = ps.ps_partkey
      WHERE r.r_name = '{_Q2_REGION}'
        AND p.p_type = '{_Q2_TYPE}' AND p.p_size <= {_Q2_MAX_SIZE}
    )
    SELECT e.s_acctbal, e.s_name, e.n_name,
           e.ps_partkey AS p_partkey,
           CAST(CAST(e.ps_supplycost AS VARCHAR) AS DOUBLE) AS supplycost
    FROM eligible e
    JOIN (SELECT ps_partkey, MIN(ps_supplycost) AS min_cost
          FROM eligible GROUP BY 1) m
      ON e.ps_partkey = m.ps_partkey AND e.ps_supplycost = m.min_cost
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p_partkey
    LIMIT 100
    """,
    doc="TPC-H Q2 on the derived partsupp: for each small STANDARD part, "
        "the EUROPE supplier(s) offering the region-minimum supply cost. "
        "The classic statement correlates a MIN subquery per part; the "
        "plan here decorrelates it the way a 100 TB engine must: the "
        "part filter pushes BELOW the min (per-part min over a filtered "
        "partkey set equals the filtered per-part min — minimum is "
        "per-key), so the grouped min runs over only the surviving "
        "parts, and the tiny (partkey, min_cost) table BROADCASTS back "
        "onto the eligible pairs (VERDICT r7: 'broadcast the per-part "
        "min'). supplier x nation x region is a broadcast dimension "
        "chain; partsupp never shuffles on anything but its own "
        "derivation. s_acctbal passes through untouched (no float "
        "arithmetic); supplycost doubles via the canonical string "
        "round-trip; the ORDER BY key is unique so the LIMIT is "
        "deterministic.",
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    pfilt = table(spark, sf_dir, "part").where(
        (F.col("p_type") == _Q2_TYPE) & (F.col("p_size") <= _Q2_MAX_SIZE)
    ).select("p_partkey")
    region = table(spark, sf_dir, "region").where(F.col("r_name") == _Q2_REGION)
    sn = (
        _supplier_nation(spark, sf_dir)
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    from ..session import truncate_lineage

    # eligible feeds TWO consumers (the per-part min and the join-back);
    # without truncation each re-derives partsupp from a full lineitem
    # scan (measured: 2 scans, no ReuseExchange — the aggregate breaks
    # exchange reuse). The relation is tiny (surviving parts × region
    # suppliers), so materializing it is the 100 TB move: one fact scan
    # total, both consumers read the truncated frame.
    eligible = truncate_lineage(
        partsupp_df(spark, sf_dir)
        .join(F.broadcast(pfilt), F.col("ps_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sn), F.col("ps_suppkey") == F.col("s_suppkey"))
        .select("ps_partkey", "ps_supplycost", "s_name", "s_acctbal", "n_name")
    )
    mins = eligible.groupBy("ps_partkey").agg(
        F.min("ps_supplycost").alias("min_cost"))
    return (
        eligible.alias("e")
        .join(
            F.broadcast(mins).alias("m"),
            (F.col("e.ps_partkey") == F.col("m.ps_partkey"))
            & (F.col("e.ps_supplycost") == F.col("m.min_cost")),
        )
        .select(
            "e.s_acctbal", "e.s_name", "e.n_name",
            F.col("e.ps_partkey").alias("p_partkey"),
            dec_to_double(F.col("e.ps_supplycost"))
            .alias("supplycost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# TPC-H Q11: important stock identification (global-fraction HAVING)
# ---------------------------------------------------------------------------

_Q11_NATION = "NATION_19"  # has suppliers at every driver SF (sf0.001–0.1)
_Q11_DENOM = 2000  # HAVING part_value > total/2000, stated as an int inequality


@register(
    "tpch_q11_important_stock",
    oracle=ORACLE_PARTSUPP + f""",
    eligible AS (
      SELECT ps_partkey,
             CAST(ps_supplycost * ps_availqty AS DECIMAL(38,2)) AS v
      FROM partsupp
      JOIN supplier ON ps_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = '{_Q11_NATION}'
    )
    SELECT ps_partkey, CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) AS stock_value
    FROM eligible
    GROUP BY 1
    HAVING SUM(v) * {_Q11_DENOM} > (SELECT SUM(v) FROM eligible)
    ORDER BY stock_value DESC, ps_partkey
    """,
    doc="TPC-H Q11 on the derived partsupp: parts whose stock value at "
        "one nation's suppliers exceeds a fixed fraction of that "
        "nation's total stock value. The global-total subquery is the "
        "interesting shape: Spark computes the one-row total from the "
        "SAME per-part aggregate (decimal sums re-aggregate exactly) "
        "and attaches it via broadcast crossJoin — the standard scalar "
        "attach, no second scan of partsupp and no correlated rescan "
        "per group. The fraction threshold is the integer inequality "
        "part_value * 2000 > total (float-free, engine-exact). The "
        "nation filter broadcasts into partsupp; one shuffle on "
        "ps_partkey does the rest. stock_value doubles via the string "
        "round-trip only in the output.",
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    sn = _supplier_nation(spark, sf_dir).where(
        F.col("n_name") == _Q11_NATION).select("s_suppkey")
    v = (F.col("ps_supplycost") * F.col("ps_availqty")).cast("decimal(38,2)")
    per_part = (
        partsupp_df(spark, sf_dir)
        .join(F.broadcast(sn), F.col("ps_suppkey") == F.col("s_suppkey"))
        .groupBy("ps_partkey")
        .agg(F.sum(v).cast("decimal(38,2)").alias("v"))
    )
    total = per_part.agg(F.sum("v").cast("decimal(38,2)").alias("tot"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("v") * _Q11_DENOM > F.col("tot"))
        .select(
            "ps_partkey",
            dec_to_double(F.col("v")).alias("stock_value"),
        )
        .orderBy(F.col("stock_value").desc(), "ps_partkey")
    )


# ---------------------------------------------------------------------------
# TPC-H Q16: supplier count per part attribute (anti-join exclusion)
# ---------------------------------------------------------------------------

_Q16_SIZES = (1, 4, 9, 16, 25, 36, 49)
_Q16_BRAND = "Brand#1"
_Q16_TYPE = "PROMO"


@register(
    "tpch_q16_supplier_part_count",
    oracle=ORACLE_PARTSUPP + f"""
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp
    JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> '{_Q16_BRAND}'
      AND p_type <> '{_Q16_TYPE}'
      AND p_size IN {_Q16_SIZES}
      AND ps_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 on the derived partsupp: how many distinct suppliers "
        "can deliver each (brand, type, size) bucket, excluding one "
        "brand, one type, and the complaint suppliers — adapted to the "
        "available columns as the DEFICIT suppliers (s_acctbal < 0; the "
        "driver's supplier has no comment field, same adaptation family "
        "as Q4/Q21's returnflag fault marker). The NOT IN is a "
        "broadcast LEFT ANTI join (suppkey is non-null, so anti-join "
        "and NOT IN agree); the filtered part dimension broadcasts; "
        "the COUNT(DISTINCT) shuffles once on the (brand, type, size) "
        "group key with partial dedup map-side. Nothing here touches "
        "lineitem beyond the shared partsupp derivation.",
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    deficit = table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0).select("s_suppkey")
    pfilt = table(spark, sf_dir, "part").where(
        (F.col("p_brand") != _Q16_BRAND)
        & (F.col("p_type") != _Q16_TYPE)
        & F.col("p_size").isin(*_Q16_SIZES)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        partsupp_df(spark, sf_dir)
        .join(F.broadcast(deficit),
              F.col("ps_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(pfilt), F.col("ps_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").cast("bigint")
             .alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# TPC-H Q20: excess-stock suppliers of promo parts (nested semi-joins)
# ---------------------------------------------------------------------------

_Q20_NATION = "NATION_3"
_Q20_LO, _Q20_HI = "1997-01-01", "1998-01-01"


@register(
    "tpch_q20_excess_stock_suppliers",
    oracle=ORACLE_PARTSUPP + f""",
    ship AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '{_Q20_LO}'
        AND l_shipdate <  TIMESTAMP '{_Q20_HI}'
      GROUP BY 1, 2
    )
    SELECT s_name, n_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = '{_Q20_NATION}'
      AND s_suppkey IN (
        SELECT ps.ps_suppkey
        FROM partsupp ps
        JOIN part ON p_partkey = ps.ps_partkey AND p_type = 'PROMO'
        JOIN ship ON l_partkey = ps.ps_partkey AND l_suppkey = ps.ps_suppkey
        WHERE 2 * ps.ps_availqty > qty)
    ORDER BY s_name
    """,
    doc="TPC-H Q20 on the derived partsupp: suppliers in one nation "
        "holding EXCESS stock (availqty > half the year's shipped "
        "quantity) of promo-type parts — the canonical nested-semi-join "
        "query. The correlated per-(part,supplier) quantity subquery "
        "decorrelates into ONE grouped scan of the date-windowed "
        "lineitem (both shipdate bounds pushed to parquet), equi-joined "
        "back to partsupp on the pair key; pairs with no shipments in "
        "the window drop out exactly as the classic's NULL comparison "
        "drops them. The half threshold is the integer inequality "
        "2*availqty > qty (quantities are integral — summed as BIGINT, "
        "float-free). The qualifying-supplier set feeds a broadcast "
        "LEFT SEMI into the nation-filtered supplier dimension, so the "
        "big relations are touched once each.",
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    ship = (
        li.where(
            (F.col("l_shipdate") >= F.lit(_Q20_LO).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(_Q20_HI).cast("timestamp")))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint")
             .alias("qty"))
    )
    promo = table(spark, sf_dir, "part").where(
        F.col("p_type") == "PROMO").select("p_partkey")
    qualifying = (
        partsupp_df(spark, sf_dir)
        .join(F.broadcast(promo), F.col("ps_partkey") == F.col("p_partkey"))
        .join(ship, (F.col("l_partkey") == F.col("ps_partkey"))
              & (F.col("l_suppkey") == F.col("ps_suppkey")))
        .where(2 * F.col("ps_availqty") > F.col("qty"))
        .select("ps_suppkey")
    )
    return (
        _supplier_nation(spark, sf_dir)
        .where(F.col("n_name") == _Q20_NATION)
        .join(F.broadcast(qualifying),
              F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi")
        .select("s_name", "n_name", "s_acctbal")
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# TPC-H Q12: shipmode vs order priority (derived shipmode)
# ---------------------------------------------------------------------------

#: Row-local derived shipmode — identical text on both engines. The
#: multiplier must be COPRIME to the modulus: (k*7 + ln) % 7 collapses
#: to ln % 7, a fixed 1:1 function of line number (and MAIL only ever
#: on rare 7th lines) — caught in the r8 self-review; 13 mixes both
#: key components like the partsupp cost derivations above.
_SHIPMODE_EXPR = (
    "CASE CAST((l_orderkey * 13 + l_linenumber) % 7 AS INT) "
    "WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' WHEN 2 THEN 'AIR' "
    "WHEN 3 THEN 'RAIL' WHEN 4 THEN 'TRUCK' WHEN 5 THEN 'FOB' "
    "ELSE 'REG AIR' END"
)
_Q12_MODES = ("MAIL", "SHIP")
_Q12_LO, _Q12_HI = "1997-01-01", "1998-01-01"
_Q12_HIGH = ("1-URGENT", "2-HIGH")


@register(
    "tpch_q12_shipmode_priority",
    oracle=f"""
    SELECT l_shipmode,
           CAST(SUM(CASE WHEN o_orderpriority IN {_Q12_HIGH}
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN {_Q12_HIGH}
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM (SELECT l_orderkey, {_SHIPMODE_EXPR} AS l_shipmode
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '{_Q12_LO}'
            AND l_shipdate <  TIMESTAMP '{_Q12_HI}') l
    JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipmode IN {_Q12_MODES}
    GROUP BY 1 ORDER BY 1
    """,
    doc="TPC-H Q12's shape on the available columns: line counts by "
        "priority class for two ship modes over one shipping year. The "
        "driver's lineitem has no shipmode or commit/receipt dates, so "
        "shipmode derives row-locally from the line identity (the same "
        "adaptation family as Q4/Q21's returnflag markers) and the "
        "late-delivery predicate becomes the shipdate year window — "
        "both stated as IDENTICAL expression text on both engines. "
        "Plan: the mode filter and both date bounds evaluate in the "
        "lineitem scan stage (the CASE is row-local — no join needed "
        "to filter), the surviving ~2/7 of the year's lines shuffle "
        "once against orders on the orderkey, and the two conditional "
        "counts are one pass (no Expand, no distinct).",
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit(_Q12_LO).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(_Q12_HI).cast("timestamp")))
        .select("l_orderkey", F.expr(_SHIPMODE_EXPR).alias("l_shipmode"))
        .where(F.col("l_shipmode").isin(*_Q12_MODES))
    )
    high = F.col("o_orderpriority").isin(*_Q12_HIGH)
    return (
        li.join(table(spark, sf_dir, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint")
            .alias("low_line_count"),
        )
        .orderBy("l_shipmode")
    )
