"""Money → double conversions, bit for bit.

``cents_to_double`` (one IEEE division for |S| < 2^53, the exact decimal
path past it) and ``dec_to_double`` (a plain cast) must return exactly
the double of the spelled-out decimal→string→double path, which is the
form the DuckDB oracle uses, and the correctly rounded double of the
exact value, which Python's integer true division computes independently
of Spark. Near-tie inputs (exact values closest to the midpoint of two
adjacent doubles) are where a second rounding would show. No testdata:
a Spark or JDK upgrade that changes ``Decimal.toDouble`` fails here.
"""

from __future__ import annotations

import math
import random
import struct
from decimal import Decimal
from fractions import Fraction

from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, LongType, StructField, StructType

from project2_bigdata_spark.functions.money import (
    cents_to_double, dec_to_double,
)

_P53 = 2 ** 53
_LONG_MIN, _LONG_MAX = -2 ** 63, 2 ** 63 - 1


def _bits(x: float | None) -> bytes | None:
    return None if x is None else struct.pack("<d", x)


def _near_ties(rng: random.Random, lo: int, hi: int, den: int) -> list[int]:
    """Integers U in [lo, hi) whose U/den lies as close as integers allow
    to the midpoint of the two doubles around it."""
    d = rng.randrange(lo, hi) / den
    mid = (Fraction(d) + Fraction(math.nextafter(d, math.inf))) / 2
    u = round(mid * den)
    return [u - 1, u, u + 1]


def _signed(vals):
    return [s * v for v in vals for s in (1, -1)]


def _cent_sums() -> list[int | None]:
    rng = random.Random(53)
    vals = [0, 1, _P53 - 1, _P53, _P53 + 1]
    vals += [rng.randrange(1, 2 ** 62) for _ in range(300)]
    vals += [rng.randrange(1, _P53) for _ in range(300)]
    # halfway cents: x.50, and the x.05 / x.15 / … cents that have no
    # exact binary form
    vals += [100 * rng.randrange(0, 2 ** 40) + 50 for _ in range(100)]
    vals += [100 * rng.randrange(0, 2 ** 40) + c for c in (5, 15, 25, 35)
             for _ in range(25)]
    for e in range(8, 62):
        vals += _near_ties(rng, 2 ** e, 2 ** (e + 1), 100)
    vals = _signed(v for v in vals if v <= _LONG_MAX)
    return vals + [_LONG_MAX, _LONG_MIN, None]


def test_cents_to_double_is_the_exact_quotient(spark):
    sums = _cent_sums()
    df = spark.createDataFrame([(s,) for s in sums],
                               StructType([StructField("s", LongType())]))
    s = F.col("s")
    rows = df.select(
        "s",
        cents_to_double(s).alias("fast"),
        (s.cast("decimal(38,2)") / F.lit(100)).cast("string")
        .cast("double").alias("spelled"),
    ).collect()
    assert len(rows) == len(sums)
    bad = [
        (r.s, r.fast, r.spelled) for r in rows
        if _bits(r.fast) != _bits(r.spelled)
        or _bits(r.fast) != _bits(None if r.s is None else r.s / 100)
    ]
    assert bad == [], bad[:10]


_PRECISIONS = (18, 28, 38)
_SCALES = (2, 4, 6, 9, 10)


def _decimal(u: int, scale: int) -> Decimal:
    return Decimal((int(u < 0), tuple(map(int, str(abs(u)))), -scale))


def _unscaled(rng: random.Random, p: int, scale: int) -> list[int]:
    top = 10 ** p
    vals = [0, 1, top - 1, 10 ** scale, 5 * 10 ** (scale - 1)]
    vals += [rng.randrange(1, 10 ** rng.randint(1, p)) for _ in range(200)]
    for e in range(4, int(math.log2(top)) - 1):
        vals += [u for u in _near_ties(rng, 2 ** e, 2 ** (e + 1), 10 ** scale)
                 if 0 < u < top]
    return _signed(vals)


def test_dec_to_double_is_the_correctly_rounded_value(spark):
    rng = random.Random(38)
    cols = {(p, s): _unscaled(rng, p, s)
            for p in _PRECISIONS for s in _SCALES}
    n = max(len(v) for v in cols.values()) + 1  # + a NULL in every column
    names = {k: f"d{k[0]}_{k[1]}" for k in cols}
    schema = StructType([StructField(names[k], DecimalType(*k))
                         for k in cols])
    data = [
        tuple(_decimal(v[i], k[1]) if i < len(v) else None
              for k, v in cols.items())
        for i in range(n)
    ]
    df = spark.createDataFrame(data, schema)
    sel = []
    for name in names.values():
        c = F.col(name)
        sel += [dec_to_double(c).alias(f"{name}_cast"),
                c.cast("string").cast("double").alias(f"{name}_spelled")]
    rows = df.select(*sel).collect()
    assert len(rows) == n
    bad = []
    for k, v in cols.items():
        name = names[k]
        for i, r in enumerate(rows):
            want = v[i] / 10 ** k[1] if i < len(v) else None
            got, spelled = r[f"{name}_cast"], r[f"{name}_spelled"]
            if _bits(got) != _bits(want) or _bits(got) != _bits(spelled):
                bad.append((k, v[i] if i < len(v) else None, got, spelled))
    assert bad == [], bad[:10]
