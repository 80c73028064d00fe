"""Exact-money aggregation: the engine's one money policy.

The reference sums Decimal128 prices after an early float cast
(SURVEY.md §2.11 quirk 5), which makes its checksum order-dependent.
We instead sum exactly (BIGINT cents, or DECIMAL for wider scales —
order-insensitive, safe under any partitioning / AQE re-plan) and turn
the *result* into a double through a string round-trip, so the value is
bit-identical between Spark and the DuckDB oracle no matter how rows
are partitioned. At 100 TB this also means the checksum is stable
across reruns, which float summation is not.

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
    """Decimal → double via a string round-trip.

    Direct decimal→double conversion is NOT correctly rounded identically
    across engines (observed 1-ULP drift between Spark's BigDecimal path
    and DuckDB's int128/10^s path). decimal→string is exact digits and
    string→double is correctly rounded in both JVMs and DuckDB, so this
    path is bit-deterministic everywhere.
    """
    return c.cast("string").cast("double")


def cents(c: Column) -> Column:
    """Exact 2dp value as integer cents (round-half-up, same as the
    decimal(18,2) cast for every value this engine sums — see dsum)."""
    return F.round(c * 100).cast("bigint")


def cents_to_double(s: Column) -> Column:
    """BIGINT cent sum → the same double the decimal path produced.

    The cent sum is widened to decimal BEFORE the /100 so the exact
    rational S/100 goes through the same string→double correct rounding
    as the decimal path — ``double(S)/100.0`` would round twice and can
    drift 1 ULP once S exceeds 2^53 (≈ 9e13 money units).
    """
    return dec_to_double(s.cast("decimal(38,2)") / F.lit(100))


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
