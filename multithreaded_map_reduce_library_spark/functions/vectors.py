"""Vector math over ``array<float/double>`` columns — pure JVM expressions.

:func:`dot` is the package's one JVM dot product: a ``zip_with`` +
``aggregate`` fold computing ``0.0 + t0 + t1 + ...`` left to right in
double precision, with ``t_i = double(a_i) * double(b_i)``. Every norm,
cosine and similarity operator calls it. The DuckDB oracles spell the
chain ``t0 + t1 + ...`` (plans/similarity_q.py::_dot), and IEEE-754 gives
the same bits, because ``0.0 + t0 == t0`` — except for signed zero: when
every product is ``-0.0`` the fold returns ``+0.0``, the bare chain
``-0.0``. ``tests/test_similarity.py`` pins the raw doubles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Sum of element-wise products, computed in double precision."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))
