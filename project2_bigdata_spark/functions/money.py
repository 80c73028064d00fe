"""Exact-money aggregation: the engine's one money policy.

The reference sums Decimal128 prices after an early float cast
(SURVEY.md §2.11 quirk 5), which makes its checksum order-dependent.
We instead sum exactly (BIGINT cents, or DECIMAL for wider scales —
order-insensitive, safe under any partitioning / AQE re-plan) and turn
only the exact *result* into a double, rounded once and correctly, so
the value is bit-identical between Spark and the DuckDB oracle (which
spells the same rounding as a decimal→string→double round-trip) no
matter how rows are partitioned. At 100 TB this also means the
checksum is stable across reruns, which float summation is not.

Both conversions are single correctly-rounded steps, so neither needs
the string round-trip on the Spark side:

* cents → double (:func:`cents_to_double`): for |S| < 2^53 the long S
  converts to a double exactly and 100.0 is exact, and IEEE 754
  division is correctly rounded — ``double(S) / 100.0`` IS the nearest
  double to the exact rational S/100. Wider sums keep the exact decimal
  path.
* decimal → double (:func:`dec_to_double`): Spark's ``Decimal.toDouble``
  is ``toBigDecimal.doubleValue`` (Spark 4.1), and JDK 17's
  ``BigDecimal.doubleValue`` is correctly rounded, so a plain cast
  equals the nearest double to the exact decimal value.
  ``tests/test_money.py`` pins both against the spelled-out string path
  and against Python's correctly rounded integer division, so a Spark
  or JDK upgrade that changes either fails loudly.

Every money formula lives here: :func:`dsum` is the aggregate entry
point and :func:`oracle_dsum` its DuckDB twin; :func:`cents` and
:func:`cents_to_double` serve the multi-stage, windowed and distinct
cent sums that one aggregate call cannot express; :func:`dec_to_double`
is the one decimal→double conversion.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Decimal type used for exact cent-level accumulation. decimal(18,2)
#: sums promote to decimal(28,2) in Spark — headroom to ~1e26 cents.
DEC = "decimal(18,2)"


def dec_to_double(c: Column) -> Column:
    """Decimal → the nearest double to its exact value.

    A plain cast: ``Decimal.toDouble`` is ``BigDecimal.doubleValue``,
    correctly rounded on JDK 17, so it equals the string round-trip the
    oracle spells (decimal→string is exact digits, string→double is
    correctly rounded) for every DECIMAL input — without the per-row
    string formatting and parsing. The 1-ULP drift that once motivated
    the round-trip was DuckDB's int128/10^s conversion, which is why
    :func:`oracle_dsum` keeps it on the DuckDB side. DECIMAL inputs
    only: a FLOAT's cast differs from its string round-trip.
    """
    return c.cast("double")


def cents(c: Column) -> Column:
    """Exact 2dp value as integer cents (round-half-up, same as the
    decimal(18,2) cast for every value this engine sums — see dsum)."""
    return F.round(c * 100).cast("bigint")


def cents_to_double(s: Column) -> Column:
    """BIGINT cent sum → the nearest double to the exact S/100.

    Below 2^53 both ``double(S)`` and 100.0 are exact, so the one IEEE
    division rounds the exact quotient once — the same double the
    string→double conversion of the exact decimal S/100 gives. From
    2^53 on ``double(S)`` itself may round (a second rounding could
    drift 1 ULP), so those sums (≈ 9e13 money units and up) go through
    the exact decimal S/100 instead. Rounding is monotonic and 2^53 is
    a double, so |double(S)| < 2^53 exactly when |S| < 2^53; the test
    takes ``abs`` of the double, never of the long, because under ANSI
    mode ``abs(Long.MIN_VALUE)`` raises.
    """
    d = s.cast("double")
    return F.when(F.abs(d) < 2 ** 53, d / F.lit(100.0)).otherwise(
        dec_to_double(s.cast("decimal(38,2)") / F.lit(100)))


def dsum(x: Column | str, alias: str | None = None, *,
         dec: str | None = None) -> Column:
    """Exact order-insensitive sum, value-identical to
    ``sum(cast(x as <dec>))::double`` (the committed oracle form, see
    :func:`oracle_dsum`). ``x`` is a Column or a SQL expression string
    (a bare column name is one).

    Precondition: with ``dec=None`` every input must be an exactly-2dp
    money value (parquet money columns, CASE branches over them, or
    prior dsum outputs). Inputs that are not exactly 2dp — 4dp products,
    6dp rounded terms, integers past 2^63 cents — must pass ``dec=``
    with a scale the values hit exactly: casting arbitrary doubles to a
    high-scale decimal can round a half-boundary differently across
    engines.

    ``dec=None`` sums integer CENTS in a plain BIGINT instead of a
    decimal accumulator: decimal aggregation pays a per-row scale-check
    + overflow-check + 128-bit add, measured ~1.5× the whole agg stage
    on the headline queries (OPTIMIZATION_r12.md §dsum), while the long
    sum rides whole-stage codegen at integer speed. Equivalence with
    ``dec="decimal(18,2)"`` holds under the precondition (enforced by the
    oracle hash parity of all ~200 dsum-bearing queries): ``round(x*100)``
    and the decimal(18,2) cast recover the same integer cents, and
    summation order cannot matter in either representation. Headroom:
    |Σ| < 2^63 cents ≈ 9.2e16 money units — ~10× above a 100 TB lineitem
    revenue total. With ``dec`` set the sum runs in that decimal type.
    """
    c = F.expr(x) if isinstance(x, str) else x
    if dec is None:
        out = cents_to_double(F.sum(cents(c)))
    else:
        out = dec_to_double(F.sum(c.cast(dec)))
    return out.alias(alias) if alias else out


def safe_div(num: Column, den: Column, default: float = 0.0) -> Column:
    """num/den with a zero-guard (ref dashboard.py:138-141) — pure
    expression, no UDF."""
    return F.when(den != 0, num / den).otherwise(F.lit(default))


def oracle_dsum(sql: str, alias: str, dec: str = "DECIMAL(18,2)") -> str:
    """DuckDB-side twin of :func:`dsum` for oracle SQL strings."""
    return (f"CAST(CAST(SUM(CAST({sql} AS {dec.upper()})) AS VARCHAR) "
            f"AS DOUBLE) AS {alias}")
