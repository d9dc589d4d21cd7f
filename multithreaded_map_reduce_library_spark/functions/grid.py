"""Cross-engine-stable numeric display helpers (the "integer grid" rule).

Why this module exists: the driver compares Spark output against a DuckDB
oracle by hashing values. A displayed ``ROUND(x, k)`` DOUBLE is hash-fragile
even when both engines compute the *same* IEEE double ``x``, because the two
engines' ``round`` implementations resolve decimal ties differently (Spark
routes doubles through BigDecimal HALF_UP; DuckDB uses its own float
rounding). The repo-wide discipline (established round 2, enforced round 3,
see VERDICT.md r2 items 1/3) is therefore:

* never display a raw or ROUNDed double quotient;
* display ``FLOOR(x * 10^k + 0.5)`` cast to BIGINT — every step of that
  expression is ordinary IEEE arithmetic that both engines execute
  identically, so identical inputs give identical (integer) outputs;
* when numerator and denominator are both exact integers, skip doubles
  entirely: ``(n * 10^k + d DIV 2) DIV d`` is pure integer arithmetic.

The helpers come in Spark/DuckDB pairs so a registered query and its oracle
can share one definition of the grid.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def grid(x: Column, k: int = 6) -> Column:
    """Half-up fixed-point display of a double on a 10^-k grid, as BIGINT.

    ``FLOOR(x * 10^k + 0.5)`` — deterministic across engines for identical
    input doubles (multiply, add, floor are all correctly-rounded IEEE ops;
    no library ``round`` involved). Use for ratios/averages whose inputs are
    already cross-engine exact.
    """
    return F.floor(x * F.lit(float(10**k)) + F.lit(0.5)).cast("bigint")


def duck_grid(expr: str, k: int = 6) -> str:
    """DuckDB twin of :func:`grid` (FLOOR of double is exact; the cast of an
    integral double to BIGINT is exact, so DuckDB's round-on-cast quirk does
    not bite)."""
    return f"CAST(FLOOR(({expr}) * {float(10 ** k)!r} + 0.5) AS BIGINT)"


def int_ratio(num: Column, den: Column, k: int = 6) -> Column:
    """Exact integer half-up ratio display: ``(num*10^k + den DIV 2) DIV den``
    as BIGINT — no doubles anywhere. Both engines agree on ALL operands
    (Spark ``div`` and DuckDB ``//`` both truncate toward zero, e.g.
    ``-7 // 2 = -3`` in DuckDB); the result is the half-up rounding of
    ``num/den`` only for num >= 0, den > 0 — for negative numerators it is
    still cross-engine-identical, just a truncation-flavored rounding."""
    scale = F.lit(10**k).cast("bigint")
    d = den.cast("bigint")
    n = num.cast("bigint") * scale + F.call_function("div", d, F.lit(2).cast("bigint"))
    return F.call_function("div", n, d)


def duck_int_ratio(num: str, den: str, k: int = 6) -> str:
    """DuckDB twin of :func:`int_ratio` (integer ``//`` truncates toward
    zero, exactly like Spark's ``div``)."""
    return f"CAST((({num}) * {10 ** k} + ({den}) // 2) // ({den}) AS BIGINT)"


def int_ratio_big(num: Column, den: Column, k: int = 6) -> Column:
    """Overflow-safe :func:`int_ratio` for numerators near the BIGINT
    ceiling: splits ``num = q*den + r`` first so the ``10^k`` scale only
    multiplies the remainder (``r < den``), never ``num`` itself.
    ``q*10^k + (r*10^k + den DIV 2) DIV den`` — identical result, works
    whenever ``num`` itself fits BIGINT. Same nonneg/den>0 contract."""
    scale = F.lit(10**k).cast("bigint")
    d = den.cast("bigint")
    nm = num.cast("bigint")
    q = F.call_function("div", nm, d)
    r = nm - q * d
    half = F.call_function("div", d, F.lit(2).cast("bigint"))
    return q * scale + F.call_function("div", r * scale + half, d)


def duck_int_ratio_big(num: str, den: str, k: int = 6) -> str:
    """DuckDB twin of :func:`int_ratio_big`."""
    n, d, s = f"({num})", f"({den})", 10**k
    return (
        f"CAST(({n} // {d}) * {s} + (({n} % {d}) * {s} + {d} // 2) // {d} AS BIGINT)"
    )


def gsum(x: Column, k: int) -> Column:
    """Exact integer sum of a k-decimal column: quantize PER ITEM
    (``FLOOR(x*10^k + 0.5)`` — exact when x is a k-decimal value stored as
    its nearest double, the case for every money/measure column in the
    test tables), then sum as BIGINT. This is the pipeline8 rule for SUMs:
    a raw double SUM's low bits depend on add order, which differs between
    engines (and, on a cluster, between runs), so any ROUND(SUM(dbl), k)
    display is a latent tie-break hash flake; the per-item integer grid
    makes the aggregate bit-exact in any order. BIGINT headroom: items are
    bounded by 10^k * max|x|; 2^63 leaves ~9.2e18, comfortably above any
    per-group sum at benchmark scales — beyond that, widen the item cast
    to DECIMAL(38,0) (Spark) whose sum is still exact."""
    return F.sum(F.floor(x * F.lit(float(10**k)) + F.lit(0.5)).cast("bigint"))


def duck_gsum(expr: str, k: int) -> str:
    """DuckDB twin of :func:`gsum` (SUM over BIGINT widens to INT128 —
    exact; the final BIGINT cast keeps the output type aligned)."""
    return f"CAST(SUM(CAST(FLOOR(({expr}) * {float(10 ** k)!r} + 0.5) AS BIGINT)) AS BIGINT)"


def gavg(x: Column, k_item: int, k_extra: int = 2) -> Column:
    """Exact integer average display: per-item quantized sum (:func:`gsum`)
    divided by the non-null count with half-up integer division, scaled to
    ``10^(k_item + k_extra)``. E.g. ``gavg(price, 2, 2)`` shows the mean of
    a 2-decimal column on a 1e-4 grid as BIGINT."""
    return int_ratio(gsum(x, k_item), F.count(x), k_extra)
