"""Vector math over ``array<float/double>`` columns — pure JVM expressions.

:func:`dot` is the package's one JVM dot product: a ``zip_with`` +
``aggregate`` fold computing ``0.0 + t0 + t1 + ...`` left to right in
double precision, with ``t_i = double(a_i) * double(b_i)``. Every norm,
cosine and similarity operator calls it. The DuckDB oracles spell the
chain ``t0 + t1 + ...`` (plans/similarity_q.py::_dot), and IEEE-754 gives
the same bits, because ``0.0 + t0 == t0`` — except for signed zero: when
every product is ``-0.0`` the fold returns ``+0.0``, the bare chain
``-0.0``. ``tests/test_similarity.py`` pins the raw doubles.

The fold is one Spark SQL string (:func:`dot_sql`) that each helper parses
with one ``F.expr``, over column names. Spelled with ``F.zip_with``,
``F.aggregate`` and Python lambdas, one :func:`dot` sent 63 py4j commands
(5.5 ms) with call-site capture off; parsed, it sends 3 (0.19 ms) for the
same analyzed tree, so values and physical plans are unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def quote(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def dot_sql(a: str, b: str, finish: str = "") -> str:
    """The dot-product fold over two SQL array expressions. ``finish``, an
    expression over the sum ``acc``, is applied to the fold's result."""
    prods = f"zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))"
    if finish:
        return f"aggregate({prods}, 0D, (acc, v) -> acc + v, acc -> {finish})"
    return f"aggregate({prods}, 0D, (acc, v) -> acc + v)"


def dot(a: str, b: str) -> Column:
    """Sum of element-wise products, computed in double precision."""
    return F.expr(dot_sql(quote(a), quote(b)))


def l2_norm(a: str) -> Column:
    return F.expr(f"sqrt({dot_sql(quote(a), quote(a))})")


def cosine(a: str, b: str) -> Column:
    qa, qb = quote(a), quote(b)
    return F.expr(f"{dot_sql(qa, qb)} / (sqrt({dot_sql(qa, qa)}) * sqrt({dot_sql(qb, qb)}))")
