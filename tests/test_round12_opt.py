"""Round-12 optimization pins: the rewritten internals must stay
value-identical to the expressions they replaced.

The oracle suite already pins every registered query end-to-end; these
tests pin the two REUSABLE internals (money.dsum, ingest._dedup_delta)
against their reference formulations on adversarial inputs the sf
corpora don't contain (sums past 2^53 cents, all-null groups, a
non-orderable column forcing the dedup fallback path).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from project2_bigdata_spark.functions.money import DEC, dec_to_double, dsum
from project2_bigdata_spark.sources.ingest import _dedup_delta


def _old_dsum(col: str):
    """The pre-r12 decimal-accumulator formulation (reference)."""
    return dec_to_double(F.sum(F.col(col).cast(DEC)))


def test_dsum_matches_decimal_reference_adversarial(spark):
    # negatives, nulls, zero, a value that pushes the sum past 2^53
    # cents (where a naive double(S)/100.0 finish would double-round)
    rows = [(1234.56,), (-0.01,), (None,), (0.0,), (999999999.99,),
            (0.07,), (-8765.43,)]
    df = spark.createDataFrame(rows * 100_000, "x double")
    old = df.agg(_old_dsum("x").alias("v")).collect()[0].v
    new = df.agg(dsum("x", "v")).collect()[0].v
    assert old == new
    assert new * 100 > 2**53  # the cent sum actually crossed 2^53


def test_dsum_matches_decimal_reference_grouped_nulls(spark):
    df = spark.createDataFrame(
        [("a", 1.23), ("a", 4.56), ("b", None), ("c", -7.89)],
        "k string, x double")
    old = {r.k: r.v for r in
           df.groupBy("k").agg(_old_dsum("x").alias("v")).collect()}
    new = {r.k: r.v for r in
           df.groupBy("k").agg(dsum("x", "v")).collect()}
    assert old == new
    assert old["b"] is None  # all-null group stays null on both paths


def _window_dedup(delta, keys, order_cols):
    """The pre-r12 row_number formulation (reference)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(
        *[F.desc(c) for c in order_cols])
    return (delta.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


@pytest.fixture()
def _delta(spark):
    # unique order_cols per key (the documented determinism
    # precondition), nulls in the leading order col, negative payloads
    rows = [
        ("k1", "2020-01-01", 1, 10.0),
        ("k1", "2020-01-03", 2, -1.0),   # winner (latest date)
        ("k1", None, 3, 99.0),           # null order value loses
        ("k2", "2019-05-05", 4, 0.0),    # sole row wins
        ("k3", None, 5, 1.0),            # all-null order: max id wins
        ("k3", None, 6, 2.0),
    ]
    return spark.createDataFrame(
        rows, "k string, d string, id long, v double").withColumn(
        "d", F.col("d").cast("date"))


def test_dedup_delta_agg_path_matches_window(_delta):
    got = _dedup_delta(_delta, ["k"], ["d", "id"])
    ref = _window_dedup(_delta, ["k"], ["d", "id"])
    assert got.columns == _delta.columns  # original order preserved
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, ref.collect()))


def test_dedup_delta_map_column_uses_window_fallback(_delta):
    # a MapType column is not orderable: the fast path must not plan
    # (max(struct) over it raises at analysis); the fallback window
    # path must still produce the winner
    with_map = _delta.withColumn(
        "m", F.create_map(F.lit("a"), F.col("v")))
    got = _dedup_delta(with_map, ["k"], ["d", "id"])
    winners = {r.k: r.id for r in got.collect()}
    assert winners == {"k1": 2, "k2": 4, "k3": 6}
