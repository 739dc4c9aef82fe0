"""Vector expressions over ``array<float>`` embedding columns.

All JVM-side (``F.zip_with`` / ``F.aggregate`` run inside codegen) — no
Python UDF in the similarity hot path.  Arithmetic is done in double
precision (Spark promotes float elements on cast) so results match the
DuckDB oracle bit-for-bit after rounding.

Norms are computed once per vector, never per pair or per element: a
relation that feeds a pair join carries ``l2_norm`` as a column
(``operators/similarity.py::normed``) and ``cosine`` reads it, the
shape of the oracle's ``dot / (nq.nrm * nc.nrm)``.  This is exact:
``l2_norm`` is a deterministic sequential fold over one vector, so
evaluating it once per vector yields the same double it yields when
re-folded for every pair or element — no output bit depends on where
it is evaluated.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two numeric arrays (sequential left-to-right sum,
    matching an ORDER BY-ordinality sum in SQL engines)."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    sq = F.transform(_c(a), lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column | str, na: Column | str,
           b: Column | str, nb: Column | str) -> Column:
    """Cosine of vectors ``a``, ``b`` with precomputed norms ``na``,
    ``nb``; NULL when either norm is zero."""
    return dot(a, b) / F.nullif(_c(na) * _c(nb), F.lit(0.0))
