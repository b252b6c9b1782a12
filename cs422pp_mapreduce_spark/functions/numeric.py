"""Exact-arithmetic rules, each Spark column helper beside its DuckDB twin.

Floating-point SUM is order-dependent, and a distributed engine never
guarantees accumulation order — so cross-engine verification (and
re-runs at different parallelism!) of double sums is inherently flaky.
The engine's rule (SURVEY.md §7 "float hashing"): route money/measure
sums through DECIMAL, which is exact and therefore partitioning- and
engine-independent, then surface DOUBLE for a friendly schema.

This is the only module that spells a decimal precision. The precision
each kind of value gets:

- a 2- or 4-decimal measure stored as double: ``decimal(18,s)``;
- a group total, or the square of a measure: ``decimal(28,s)``;
- a unit-scale double summed at a fine fixed scale: ``decimal(38,s)``;
- money and rates (the TPC-H price/discount/tax inputs):
  ``decimal(12,2)`` and ``decimal(4,2)``;
- integers: ``decimal(20,0)`` holds any LONG, ``decimal(38,0)`` is the
  widest exact integer both engines share.

Helpers ending in ``_sql`` build DuckDB SQL text (the oracle side) for
the same value as the column helper above them; ``spark_*_sql`` build
Spark SQL text for the ``spark.sql`` surface. Spark 4 runs with ANSI
on, so a value past a helper's documented bound raises instead of
wrapping or truncating.

The decimal→double step differs by engine. Spark's decimal→double is
correctly rounded. DuckDB's direct CAST(DECIMAL(38,s) AS DOUBLE)
double-rounds (hugeint→double, then the scale division) and can land
1 ulp off — observed on tpch_q1's sum_charge at sf1 (exact decimal
...637948 → Spark ...63795, DuckDB ...637955). decimal→VARCHAR is exact
and VARCHAR→DOUBLE is correctly rounded, so the DuckDB twins route
through VARCHAR and both engines agree bit for bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec


def _col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _named(out: Column, alias: str | None) -> Column:
    return out.alias(alias) if alias else out


def _sum_sql(expr: str, precision: int, scale: int, over: str = "") -> str:
    window = f" OVER {over}" if over else ""
    return f"SUM(CAST({expr} AS DECIMAL({precision},{scale}))){window}"


def _duck_double(dec_sql: str) -> str:
    return f"CAST(CAST({dec_sql} AS VARCHAR) AS DOUBLE)"


# --- (a) exact decimal sums surfaced as double --------------------------
#
# Inputs are s-decimal business values stored as double. Casting to
# decimal(18,s) recovers the exact intended value when x has at most s
# decimals and 15 significant digits (both engines then read the same
# decimal from the double); the cast raises for |x| ≥ 10^(18−s). SUM
# widens to decimal(28,s) in Spark and DECIMAL(38,s) in DuckDB, and
# the final double is exact for |Σ| < 2^53 / 10^s, correctly rounded
# beyond.


def exact_sum(col: Column | str, scale: int = 4, alias: str | None = None) -> Column:
    """Order-independent SUM of an s-decimal measure → double.

    Bound: |x| < 10^(18−scale) per row (15 significant digits for
    bit-identity with ``exact_sum_sql``)."""
    return _named(F.sum(_col(col).cast(f"decimal(18,{scale})")).cast("double"), alias)


def exact_sum_sql(expr: str, scale: int = 4) -> str:
    return _duck_double(_sum_sql(expr, 18, scale))


def spark_exact_sum_sql(expr: str, scale: int = 4) -> str:
    """``exact_sum`` as Spark SQL text (Spark's decimal→double is
    already correctly rounded, so no VARCHAR step)."""
    return f"CAST({_sum_sql(expr, 18, scale)} AS DOUBLE)"


def exact_avg(col: Column | str, scale: int = 4, alias: str | None = None) -> Column:
    """AVG as exact-decimal SUM divided by COUNT (one double division —
    bit-identical across engines given identical inputs). Bound as
    ``exact_sum``; an all-NULL group gives NULL."""
    c = _col(col)
    return _named(exact_sum(c, scale) / F.count(c), alias)


def exact_avg_sql(expr: str, scale: int = 4) -> str:
    return f"{exact_sum_sql(expr, scale)} / COUNT({expr})"


def exact_sum_over(col: Column | str, window: WindowSpec, scale: int = 4) -> Column:
    """``exact_sum`` as a window aggregate over ``window`` (running or
    framed sums). Bound as ``exact_sum``."""
    return F.sum(_col(col).cast(f"decimal(18,{scale})")).over(window).cast("double")


def exact_sum_over_sql(expr: str, window: str, scale: int = 4) -> str:
    """``window`` is the SQL text after OVER: ``()``, ``w`` or
    ``(PARTITION BY ... ORDER BY ...)``."""
    return _duck_double(_sum_sql(expr, 18, scale, window))


def spark_exact_sum_over_sql(expr: str, window: str, scale: int = 4) -> str:
    return f"CAST({_sum_sql(expr, 18, scale, window)} AS DOUBLE)"


def exact_sum_wide(
    col: Column | str, scale: int = 4, alias: str | None = None
) -> Column:
    """``exact_sum`` for values that are already group totals or
    squares of a measure. Bound: |x| < 10^(28−scale) per row and
    |Σ| < 10^(38−scale)."""
    return _named(F.sum(_col(col).cast(f"decimal(28,{scale})")).cast("double"), alias)


def exact_sum_wide_sql(expr: str, scale: int = 4) -> str:
    return _duck_double(_sum_sql(expr, 28, scale))


def fine_sum(col: Column | str, scale: int, alias: str | None = None) -> Column:
    """Order-independent SUM of a unit-scale double at ``scale``
    decimals → double. Not exact: a double carries more binary digits
    than ``scale`` decimals, and the engines round the tail of the
    per-row cast differently, so callers round the result (to 6
    decimals) before it is compared. Bound: |Σ| < 10^(38−scale)."""
    return _named(F.sum(_col(col).cast(f"decimal(38,{scale})")).cast("double"), alias)


def fine_sum_sql(expr: str, scale: int) -> str:
    return _duck_double(_sum_sql(expr, 38, scale))


# --- (b) doubles as fixed-point longs -----------------------------------


def fixed_long(col: Column | str, scale: int) -> Column:
    """A k-decimal double as the exact LONG x·10^k, via decimal(18,k).

    Bound: the cast raises for |x| ≥ 10^(18−k), which keeps x·10^k
    under 10^18 < 2^63; bit-identity with ``fixed_long_sql`` needs x to
    have at most k decimals and 15 significant digits."""
    return (_col(col).cast(f"decimal(18,{scale})") * 10**scale).cast("long")


def fixed_long_sql(expr: str, scale: int) -> str:
    # the HUGEINT factor lifts the product to DECIMAL(38,k): DuckDB
    # multiplies DECIMAL(18,k) by an INTEGER inside 18 digits and would
    # raise already at |x| ≥ 10^(18−2k)
    return (
        f"CAST(CAST({expr} AS DECIMAL(18,{scale}))"
        f" * CAST({10**scale} AS HUGEINT) AS BIGINT)"
    )


def rate_long(col: Column | str) -> Column:
    """A 2-decimal rate (discount/tax) as the exact LONG x·100, via
    ``rate_dec``. Bound: |x| < 100."""
    return (rate_dec(col) * 100).cast("long")


def rate_long_sql(expr: str) -> str:
    return f"CAST({rate_dec_sql(expr)} * 100 AS BIGINT)"


# --- (c) exact integers and centered co-moments -------------------------


def long_dec(col: Column | str) -> Column:
    """A LONG as decimal(20,0), so sums and products of LONGs widen
    instead of wrapping past 2^63."""
    return _col(col).cast("decimal(20,0)")


def exact_int(col: Column | str) -> Column:
    """An integer as decimal(38,0), the widest exact integer both
    engines share (DuckDB's HUGEINT). Bound: |x| < 10^38."""
    return _col(col).cast("decimal(38,0)")


def comoment(
    n: Column | str, s_ab: Column | str, s_a: Column | str, s_b: Column | str
) -> Column:
    """n·Σab − Σa·Σb in exact decimal(38,0): the division-free centered
    co-moment (n² times the covariance) behind OLS, correlation and
    z-score tests. Bound: |n·Σab| and |Σa·Σb| < 10^38."""
    return exact_int(n) * exact_int(s_ab) - exact_int(s_a) * exact_int(s_b)


def comoment_sql(n: str, s_ab: str, s_a: str, s_b: str) -> str:
    return f"CAST({n} AS HUGEINT) * {s_ab} - CAST({s_a} AS HUGEINT) * {s_b}"


# --- (d) quantized float sums -------------------------------------------


def quantized(col: Column | str, unit: float) -> Column:
    """floor(x·unit) as an exact decimal(38,0) integer. Multiply and
    floor are single IEEE-double ops, so the integer is identical in
    any engine, and sums of it are exact. Bound: |x·unit| < 2^63."""
    return F.floor(_col(col) * F.lit(unit)).cast("decimal(38,0)")


def quantized_sql(expr: str, unit: str) -> str:
    return f"CAST(FLOOR({expr} * {unit}) AS HUGEINT)"


# --- (e) exact-decimal money products -----------------------------------
#
# Casting a DOUBLE PRODUCT to decimal is engine-dependent at .5
# rounding boundaries: Spark rounds HALF_UP on the double's shortest
# decimal repr (BigDecimal.valueOf), DuckDB rounds the binary value —
# observed as a half-ulp sum_charge divergence on exactly 1 row in 6 M
# at the r05 sf1 gate (tpch_q1). The INPUTS are 2-decimal business
# values whose double→decimal conversion IS boundary-safe (the
# shortest repr is the 2-decimal literal itself, identically in both
# engines); converting the inputs first and multiplying in decimal
# arithmetic keeps every intermediate exact, so both engines produce
# the IDENTICAL decimal sum. Precisions are chosen so no product ever
# hits Spark's 38-digit cap (no precision-loss rescaling): price
# (12,2) × (1−disc) (5,2) → (18,4); × (1+tax) (5,2) → (24,6).


def money_dec(col: Column | str) -> Column:
    """Exact decimal form of a 2-decimal money double (|x| < 10^10)."""
    return _col(col).cast("decimal(12,2)")


def money_dec_sql(expr: str) -> str:
    return f"CAST({expr} AS DECIMAL(12,2))"


def rate_dec(col: Column | str) -> Column:
    """Exact decimal form of a 2-decimal rate double (|x| < 100)."""
    return _col(col).cast("decimal(4,2)")


def rate_dec_sql(expr: str) -> str:
    return f"CAST({expr} AS DECIMAL(4,2))"


def disc_price_dec(
    price: Column | str = "l_extendedprice",
    disc: Column | str = "l_discount",
) -> Column:
    """price × (1 − disc) in exact decimal arithmetic → decimal(18,4)."""
    return money_dec(price) * (rate_dec(F.lit(1)) - rate_dec(disc))


def charge_dec(
    price: Column | str = "l_extendedprice",
    disc: Column | str = "l_discount",
    tax: Column | str = "l_tax",
) -> Column:
    """price × (1 − disc) × (1 + tax) exactly → decimal(24,6)."""
    return disc_price_dec(price, disc) * (rate_dec(F.lit(1)) + rate_dec(tax))


def disc_rev_dec(
    price: Column | str = "l_extendedprice",
    disc: Column | str = "l_discount",
) -> Column:
    """price × disc exactly → decimal(16,4) (the TPC-H Q6 shape)."""
    return money_dec(price) * rate_dec(disc)


DISC_PRICE_SQL = (
    f"({money_dec_sql('l_extendedprice')} * (1 - {rate_dec_sql('l_discount')}))"
)
CHARGE_SQL = f"({DISC_PRICE_SQL} * (1 + {rate_dec_sql('l_tax')}))"
DISC_REV_SQL = f"({money_dec_sql('l_extendedprice')} * {rate_dec_sql('l_discount')})"
