"""Cross-engine-exact scalar helpers.

Money math runs in DECIMAL so sums are association-order independent
(a float sum over a 100 TB shuffle is nondeterministic run-to-run).
The final DOUBLE cast goes through DECIMAL(38,3): with scale 3 the
unscaled value stays below 2^53 for any realistic sum, so the
decimal->double conversion is a single correctly-rounded step in both
Spark (BigDecimal.doubleValue) and DuckDB (int128 divide) — at higher
scales DuckDB double-rounds and drifts 1 ulp from Spark.

Integer money kernel.  A decimal ``SUM`` costs a BigDecimal update per
row; these helpers compute the same value from primitive longs.  They
return SQL expression strings, so a query builds its kernel in one
``selectExpr`` and one ``F.expr`` per aggregate, a handful of Py4J
calls.

- :func:`unscaled` is the exact unscaled long of
  ``CAST(x AS DECIMAL(p,s))`` for a DOUBLE ``x``.  That cast rounds the
  shortest decimal representation of ``x`` HALF_UP, so the fast path
  ``floor(x·10^s + 0.5)`` agrees with it whenever ``y = x·10^s`` (in
  double) is far enough from a half-integer.  With ``|y| < 2^31`` the
  distance between ``y`` and the exact ``repr(x)·10^s`` is at most
  about 1.5 ulp(y) ≤ 3.6e-7, below the guard's 1e-6, so a row more than
  1e-6 from a half-integer rounds to the same long on both paths.  The
  fast path is also limited to ``|y| < 10^p - 1`` so it never accepts a
  value the cast rejects.  Every other row (half boundaries such as
  1.005 and 2.675, large values, NULL, NaN, ±Inf) takes the cast
  itself, and with it the cast's result (NULL for NaN and ±Inf) or its
  ANSI error.
- :func:`money_sum` sums a long column as three 21-bit limbs
  (``u >> 42`` signed, then two unsigned 21-bit fields), each a long
  ``sum``.  ``u = l2·2^42 + l1·2^21 + l0`` holds for every long, and
  each limb is below 2^21 in magnitude, so each limb sum is exact for
  fewer than 2^42 rows per group (past that the long ``sum`` raises
  under ANSI).  Once per group the total is rebuilt as an exact
  DECIMAL: each limb sum times the exact literal ``2^(21k) / 10^s``
  (below 2^106 / 10^s in all, far inside 38 digits).  Integer addition
  is associative, so the result is the exact decimal sum whatever the
  partitioning or merge order: the value a decimal ``SUM`` of the
  same values produces, typed DECIMAL(38,s).
- Products stay in longs on the unscaled values: ``ext·(1-disc)`` is
  ``ext_u·(10^4 - disc_u)`` at scale 6 and ``ext·(1-disc)·(1+tax)`` is
  ``ext_u·(10^4 - disc_u)·(10^4 + tax_u)`` at scale 10, the scales
  Spark's exact decimal products have.  A row whose product does not
  fit a long (a charge above 9.2e8 at scale 10) raises
  ARITHMETIC_OVERFLOW, since the session runs ANSI, instead of
  wrapping.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column

_LIMB_BITS = 21
_LIMB_MASK = (1 << _LIMB_BITS) - 1
# the guard's distance to a half-integer, above the fast path's error
_HALF_EPS = "1.0E-6D"
# the largest scale whose rebuilt total Spark types without precision loss
_MAX_SUM_SCALE = 15


def dec_to_double(c: Column) -> Column:
    """DECIMAL aggregate -> hash-stable DOUBLE (see module docstring)."""
    return c.cast("decimal(38,3)").cast("double")


def unscaled(x: str, p: int, s: int) -> str:
    """SQL for the exact unscaled BIGINT of ``CAST(x AS DECIMAL(p,s))``,
    ``x`` a DOUBLE expression (guard and error bound in the module
    docstring)."""
    y = f"({x} * {10 ** s}.0D)"
    bound = min(2 ** 31, 10 ** p - 1)
    return (
        f"CASE WHEN abs({y}) < {bound}.0D AND abs({y} - floor({y}) - 0.5D) > {_HALF_EPS} "
        f"THEN floor({y} + 0.5D) "
        f"ELSE CAST(CAST({x} AS DECIMAL({p},{s})) * {10 ** s} AS BIGINT) END"
    )


def money_sum(u: str, s: int, over: str = "") -> str:
    """SQL for the exact DECIMAL(38,s) sum of the BIGINT unscaled money
    column ``u`` (limb layout and limits in the module docstring).
    ``over`` is an optional window spec, e.g. ``PARTITION BY k ORDER BY
    t``, for a windowed sum.  NULLs are ignored; a group with no
    non-NULL value sums to NULL, as ``SUM`` does."""
    if not 0 <= s <= _MAX_SUM_SCALE:
        raise ValueError(f"money_sum scale must be in 0..{_MAX_SUM_SCALE}, got {s}")
    w = f" OVER ({over})" if over else ""
    limbs = (
        (2 * _LIMB_BITS, f"shiftright({u}, {2 * _LIMB_BITS})"),
        (_LIMB_BITS, f"shiftright({u}, {_LIMB_BITS}) & {_LIMB_MASK}"),
        (0, f"{u} & {_LIMB_MASK}"),
    )
    # a limb sum is a long (DECIMAL(20,0)); times its DECIMAL(<=15,s)
    # weight it stays below 38 digits, so Spark keeps scale s exactly
    total = " + ".join(
        f"CAST(sum({limb}){w} AS DECIMAL(20,0)) * {Decimal(1 << shift).scaleb(-s):f}BD"
        for shift, limb in limbs
    )
    return f"CAST({total} AS DECIMAL(38,{s}))"
