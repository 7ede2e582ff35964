"""Exact cross-engine arithmetic — the expression builders that make
value-hash oracle comparison deterministic.

Float aggregation diverges across engines in two ways: summation order
(parallel partial sums reassociate) and rounding at half boundaries
(IEEE-754 binary vs decimal half-up — the round-1 flagship bug:
Spark's round(avg(double), 2) gave 15.84 where DuckDB gave 15.85 on
the exact binary double 15.844999999999999). Every numeric aggregate
in the engine therefore goes through one of these exact forms:

1. **Integer units + half-up DIV identity.** Monetary/ratio values are
   scaled to exact integers (cents, 1e-4 units); the k-decimal
   half-up rounding of n/d is computed as
   ``(2*n*10^k + d) DIV (2*d) / 10^k`` — pure int64 ops, identical
   everywhere. Never ``floor(a / b)`` with float division: when the
   true quotient is an exactly-representable integer the float
   quotient can land one ulp below it and floor off-by-one.

2. **DECIMAL accumulation for float-derived values.** Vector dot
   products cast each double product to DECIMAL before summing:
   float->double widening is exact, the double multiply is
   IEEE-identical in every engine, the decimal cast is deterministic,
   and decimal addition is exact and order-independent — so both
   engines hold bit-identical totals before any final rounding.

A third rule lives at call sites: SQL-parsed literals like ``10000.0``
are DECIMAL in Spark's parser, so expression-level divisions carry an
explicit ``cast(... as double)`` to keep output schemas double.
"""

from __future__ import annotations

# round(n/d, 4) over long columns named in the enclosing plan.
# Usage: select the named longs first, then F.expr(RATIO4.format(...)).
RATIO4 = "cast(((2 * {n} * 10000 + {d}) DIV (2 * {d})) / 10000.0 as double)"


def decimal_dot(a: str, b: str) -> str:
    """Spark SQL: exact decimal dot product of two array<float|double>
    columns (rule 2 above). The accumulator is DECIMAL(37,12) because
    Spark types DECIMAL(37,12)+DECIMAL(30,12) as DECIMAL(38,12) and
    the re-cast back is exact; a DECIMAL(38,12) accumulator would be
    widened to DECIMAL(38,11) by every addition, rounding each running
    sum to 11 dp."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"  cast(cast(x as double) * cast(y as double) as decimal(30,12))), "
        f"cast(0 as decimal(37,12)), (acc, v) -> cast(acc + v as decimal(37,12)))"
    )


# DuckDB twin of decimal_dot for oracle SQL (list_zip + list_transform).
DUCKDB_DECIMAL_DOT = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) AS DECIMAL(30,12)))) "
    "AS DECIMAL(38,12))"
)
