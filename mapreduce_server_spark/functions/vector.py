"""Vector math over array embedding columns, built as Spark SQL text.

Rules:

- **SQL text only.** Every dot product, L2 norm, cosine and squared L2
  distance in the package is built here, as SQL text that the caller
  wraps in one ``F.expr``. Spark parses it in one py4j round trip. The
  same expression built from Column objects costs one round trip per
  node: about 15,000 for a cosine against a 64-element literal.
- **Operands are SQL text:** a column name, a field path (``c.cvec``),
  any array expression (``reverse(embedding)``), or a literal array
  from :func:`vec_sql`.
- **Exact.** Each element is cast to DOUBLE before it is multiplied
  (float→double is exact) and the sum is a sequential left fold seeded
  with ``0.0``: the same double operations in the same order as the
  DuckDB oracle's ``list_zip``/``list_sum`` (:data:`DUCK_DOT`,
  :data:`DUCK_NORM`), so the results are bit-identical.
- **Fold by default.** The fold uses the higher-order functions
  ``zip_with``/``transform``/``aggregate``, which Spark evaluates
  interpreted, outside whole-stage codegen.
- **Guarded unroll only where a plan evaluates one distance per row at
  volume** (``unroll=True``). When every operand has :data:`FAST_DIM`
  elements, the sum is written out as ``0.0 + p0 + p1 + …``: the fold's
  operations in the fold's order, signed zeros included, so the same
  bits, but compiled by codegen. Any other length, or a NULL, takes the
  fold. An element of a :func:`vec_sql` literal is inlined as its
  constant, so the unrolled text stays small.
- **Stacked literal distances always fold.** Many unrolled distances in
  one projection (32 LSH planes, 16 IVF centroids) outgrow the codegen
  method-size limit and run interpreted-unrolled, slower than the fold.

Scale: a distance is O(dim) per row with no shuffle. The cost of a
similarity operator is its candidate-pair generation, which is the
operator's concern, not this module's.
"""

from __future__ import annotations

from collections.abc import Callable
from math import isinf, isnan

from pyspark.sql import Column
from pyspark.sql import functions as F

#: dimensionality of the committed embedding fixtures — the only length
#: the guarded unroll is generated for.
FAST_DIM = 64


def fsum(arr: Column) -> Column:
    """Sequential left-to-right double fold (matches list_sum order)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _dlit(v: float) -> str:
    """Exact Spark SQL DOUBLE literal: repr round-trips the double and
    Spark's parser is correctly rounded, so the JVM sees the same bits."""
    v = float(v)
    if isnan(v) or isinf(v):
        raise ValueError(f"vector literal element must be finite, got {v!r}")
    return repr(v) + "D"


class _VecSql(str):
    """SQL text of a literal array that keeps its element literals, so
    an unrolled builder can inline element ``i`` as a constant."""

    items: list[str]


def vec_sql(vec: list[float]) -> str:
    """A literal DOUBLE array operand, e.g. a query vector or a plane."""
    items = [_dlit(v) for v in vec]
    s = _VecSql("array(" + ", ".join(items) + ")")
    s.items = items
    return s


def _at(a: str, i: int) -> str:
    """Element ``i`` of operand ``a`` as a DOUBLE."""
    if isinstance(a, _VecSql):
        return a.items[i]
    return f"CAST({a}[{i}] AS DOUBLE)"


def _sum_sql(hof: str) -> str:
    return f"aggregate({hof}, 0.0D, (acc, x) -> acc + x)"


def _guarded(
    unroll: bool,
    arrs: tuple[str, ...],
    term: Callable[[int], str],
    fold: str,
    outer: str = "{}",
) -> str:
    """``outer`` around the ``fold`` text; with ``unroll``, a CASE that
    takes ``outer`` around ``0.0 + term(0) + … + term(FAST_DIM - 1)``
    when every operand has FAST_DIM elements. A literal of another
    length can never match, so it folds without a guard."""
    if not unroll or any(
        isinstance(a, _VecSql) and len(a.items) != FAST_DIM for a in arrs
    ):
        return outer.format(fold)
    cond = " AND ".join(f"(size({a}) = {FAST_DIM})" for a in arrs)
    fast = "0.0D + " + " + ".join(term(i) for i in range(FAST_DIM))
    return (
        f"CASE WHEN {cond} THEN ({outer.format(fast)}) "
        f"ELSE ({outer.format(fold)}) END"
    )


def dot(a: str, b: str, *, unroll: bool = False) -> str:
    """Dot product in double precision."""
    return _guarded(
        unroll,
        (a, b),
        lambda i: f"{_at(a, i)} * {_at(b, i)}",
        _sum_sql(
            f"zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))"
        ),
    )


def norm(a: str, *, unroll: bool = False) -> str:
    """L2 norm in double precision. Unrolled over a :func:`vec_sql`
    literal it is all constants, which the optimizer folds to one
    double; the fold form is evaluated per row."""
    return _guarded(
        unroll,
        (a,),
        lambda i: f"{_at(a, i)} * {_at(a, i)}",
        _sum_sql(f"transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"),
        outer="sqrt({})",
    )


def cosine(a: str, b: str, *, unroll: bool = False) -> str:
    """Cosine similarity: ``dot / (norm · norm)``."""
    return (
        f"({dot(a, b, unroll=unroll)}) / "
        f"(({norm(a, unroll=unroll)}) * ({norm(b, unroll=unroll)}))"
    )


def sq_l2(a: str, b: str, *, unroll: bool = False) -> str:
    """Squared L2 distance in double precision (the oracle's
    ``list_reduce(list_prepend(0.0, …))`` fold order)."""

    def term(i: int) -> str:
        d = f"({_at(a, i)} - {_at(b, i)})"
        return f"{d} * {d}"

    return _guarded(
        unroll,
        (a, b),
        term,
        _sum_sql(
            f"zip_with({a}, {b}, (x, y) -> "
            f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
            f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)))"
        ),
    )


def l2sq_int_lit_sql(col_sql: str, centroid: list[int]) -> str:
    """SQL text of the exact int64 squared L2 distance between a
    micro-unit BIGINT array column and a literal integer centroid, as a
    fold (K stacked centroid distances per projection)."""
    arr = "array(" + ", ".join(f"{int(c)}L" for c in centroid) + ")"
    return (
        f"aggregate(zip_with({col_sql}, {arr}, "
        f"(x, y) -> (x - y) * (x - y)), 0L, (acc, x) -> acc + x)"
    )


#: DuckDB oracle fragment mirroring :func:`dot` exactly (same fold order).
DUCK_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), p -> p[1]::DOUBLE * p[2]::DOUBLE))"
)
#: DuckDB oracle fragment mirroring :func:`norm`.
DUCK_NORM = "sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"
