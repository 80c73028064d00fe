"""Round-13 optimization guards.

1. The cents precondition (VERDICT r12 item 9): every money column the
   BIGINT-cents paths consume must be exactly-2dp at the test SFs —
   ``CAST(x AS DECIMAL(18,2)) <> x`` returns 0 rows. A future caller
   feeding 4dp data into a cents path would silently lose precision;
   this property makes that a loud test failure instead.
2. The cents window-sum rewrite is value-identical to the decimal
   window sum it replaced (rolling_corr/moving_avg/cumulative shape).
3. The SUM(DISTINCT cents) rewrite is value-identical to
   SUM(DISTINCT decimal) (distinct_aggregates shape).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SF_DIRS = [d for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01")
           if os.path.isdir(d)]
needs_testdata = pytest.mark.skipif(
    not SF_DIRS, reason="no sf0.001/sf0.01 testdata on this host")

#: (table, column) pairs consumed by dsum/cents call sites (directly or
#: via sale_lines/tickets projections).
MONEY_COLS = [
    ("lineitem", "l_extendedprice"),
    ("lineitem", "l_quantity"),
    ("orders", "o_totalprice"),
    ("customer", "c_acctbal"),
    ("supplier", "s_acctbal"),
    ("events", "value"),
]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_money_columns_are_2dp_exact(spark, sf_dir):
    for tbl, col in MONEY_COLS:
        df = spark.read.parquet(f"{sf_dir}/{tbl}.parquet")
        if col not in df.columns:
            continue
        bad = df.filter(
            F.col(col).cast("decimal(18,2)").cast("double") != F.col(col)
        ).count()
        assert bad == 0, (
            f"{tbl}.{col} at {sf_dir} has {bad} non-2dp values — the "
            "BIGINT-cents aggregation paths (functions/money.py dsum and "
            "the r12/r13 inline conversions) require exactly-2dp inputs")


@needs_testdata
def test_dsum_outputs_are_2dp_exact(spark):
    """Derived dsum outputs (sale_lines daily totals) are themselves
    exact-2dp doubles — the precondition for SECOND-level cents sums
    (customer_rollup, pareto, top_movers, the windowed family)."""
    from project2_bigdata_spark.plans.windowed import _daily

    sf_dir = SF_DIRS[0]
    d = _daily(spark, sf_dir)
    bad = d.filter(
        (F.col("total_revenue").cast("decimal(18,2)").cast("double")
         != F.col("total_revenue"))
        | (F.col("total_quantity").cast("decimal(18,2)").cast("double")
           != F.col("total_quantity"))
    ).count()
    assert bad == 0


@needs_testdata
def test_cents_window_sum_matches_decimal_window_sum(spark):
    from project2_bigdata_spark.functions.money import (
        cents, cents_to_double,
    )
    from project2_bigdata_spark.plans.windowed import _daily

    d = _daily(spark, SF_DIRS[0])
    w = (Window.partitionBy("product").orderBy("date")
         .rowsBetween(-6, Window.currentRow))
    both = d.select(
        cents_to_double(
            F.sum(cents(F.col("total_revenue"))).over(w)).alias("c"),
        F.sum(F.col("total_revenue").cast("decimal(18,2)")).over(w)
        .cast("string").cast("double").alias("dec"),
    )
    assert both.filter(F.col("c") != F.col("dec")).count() == 0


@needs_testdata
def test_sum_distinct_cents_matches_decimal(spark):
    from project2_bigdata_spark.functions.money import (
        cents, cents_to_double,
    )

    o = spark.read.parquet(f"{SF_DIRS[0]}/orders.parquet")
    row = o.agg(
        cents_to_double(
            F.sum_distinct(cents(F.col("o_totalprice")))).alias("c"),
        F.sum_distinct(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("string").cast("double").alias("dec"),
    ).collect()[0]
    assert row["c"] == row["dec"]
