"""Vector scalar functions as JVM-side column expressions.

Reference semantics: ``/root/reference/app/utils/embedding.py:66-140`` —
``cosine_similarity`` (zero-norm -> exactly 0.0, embedding.py:82-84),
``euclidean_distance``, ``dot_product``, ``normalize_vector`` (zero vector
returned unchanged, embedding.py:111-112).

Implementation notes (scale + oracle parity):

- All of these are SQL higher-order functions (``zip_with`` + ``aggregate``)
  so they run inside whole-stage codegen on the JVM — no Python in the hot
  path, vectorized by Tungsten, usable in any filter/join/sort expression
  that Catalyst can push around.
- Accumulation is sequential left-to-right with a DOUBLE accumulator and
  per-element casts.  The DuckDB oracle fragments in
  ``vector_database_api_spark.functions.oracle`` use the *same* operation
  order and precision (``list_zip``/``list_transform``/``list_reduce`` with
  DOUBLE casts), making results bit-identical between Spark and DuckDB —
  which keeps top-k ordering stable across both engines.
- The ``*_np`` twins score the rows of a driver-side matrix with the same
  operation order: one dimension at a time, vectorised across rows, in
  DOUBLE, so they are bit-equal to the Column forms (pinned by
  tests/test_vector_functions.py).  ``VectorEngine.search_timed`` serves
  small libraries with them.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot_product(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Sum a_i * b_i (reference embedding.py:98-104)."""
    a, b = _col(a), _col(b)
    products = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(products, F.lit(0.0).cast("double"), lambda acc, v: acc + v)


def norm2(a: ColumnOrName) -> Column:
    """Squared L2 norm — building block shared by cosine/normalize."""
    a = _col(a)
    squares = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.aggregate(squares, F.lit(0.0).cast("double"), lambda acc, v: acc + v)


def cosine_similarity(a: ColumnOrName, b: ColumnOrName) -> Column:
    """dot/(|a||b|); exactly 0.0 when either norm is zero
    (reference embedding.py:69-85)."""
    a, b = _col(a), _col(b)
    na2, nb2 = norm2(a), norm2(b)
    return F.when(
        (na2 == F.lit(0.0)) | (nb2 == F.lit(0.0)), F.lit(0.0)
    ).otherwise(dot_product(a, b) / (F.sqrt(na2) * F.sqrt(nb2)))


def norm2_sql(a: str) -> str:
    """SQL-text twin of :func:`norm2` for single-pass ``spark.sql``
    query construction (r11, guide §5: one sql() call analyzes a whole
    tree once instead of per chained Dataset op).  Same functions, same
    operation order, same casts -> the parser builds the IDENTICAL
    Catalyst expressions, so values are bit-equal to the Column form
    (pinned by tests/test_vector_functions.py)."""
    return (
        f"aggregate(transform({a}, x -> CAST(x AS DOUBLE) * "
        f"CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def dot_product_sql(a: str, b: str) -> str:
    """SQL-text twin of :func:`dot_product` (see :func:`norm2_sql`)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
        f"CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def cosine_similarity_sql(a: str, b: str) -> str:
    """SQL-text twin of :func:`cosine_similarity` (see
    :func:`norm2_sql`): dot/(|a||b|), exactly 0.0 when either norm is
    zero.  The norm subexpressions appear twice (condition + else
    branch) exactly as the Column form references them twice; codegen
    subexpression elimination collapses both the same way."""
    na2, nb2 = norm2_sql(a), norm2_sql(b)
    return (
        f"CASE WHEN ({na2} = CAST(0.0 AS DOUBLE)) OR "
        f"({nb2} = CAST(0.0 AS DOUBLE)) THEN CAST(0.0 AS DOUBLE) "
        f"ELSE {dot_product_sql(a, b)} / (sqrt({na2}) * sqrt({nb2})) END"
    )


def euclidean_distance(a: ColumnOrName, b: ColumnOrName) -> Column:
    """L2 distance (reference embedding.py:87-96)."""
    a, b = _col(a), _col(b)
    diffs2 = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.sqrt(F.aggregate(diffs2, F.lit(0.0).cast("double"), lambda acc, v: acc + v))


def norm2_np(mat: np.ndarray) -> np.ndarray:
    """NumPy twin of :func:`norm2` for every row of ``mat`` (n, d)."""
    acc = np.zeros(len(mat))
    for j in range(mat.shape[1]):
        x = np.asarray(mat[:, j], dtype=np.float64)
        acc = acc + x * x
    return acc


def dot_product_np(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """NumPy twin of :func:`dot_product`: each row of ``mat`` with ``q``."""
    acc = np.zeros(len(mat))
    for j in range(mat.shape[1]):
        acc = acc + np.asarray(mat[:, j], dtype=np.float64) * float(q[j])
    return acc


def euclidean_distance_np(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """NumPy twin of :func:`euclidean_distance`."""
    acc = np.zeros(len(mat))
    for j in range(mat.shape[1]):
        diff = np.asarray(mat[:, j], dtype=np.float64) - float(q[j])
        acc = acc + diff * diff
    return np.sqrt(acc)


def cosine_similarity_np(
    mat: np.ndarray, q: np.ndarray, na2: np.ndarray | None = None
) -> np.ndarray:
    """NumPy twin of :func:`cosine_similarity`, with the rows' squared
    norms ``na2`` passed in when already staged."""
    na2 = norm2_np(mat) if na2 is None else na2
    qn2 = norm2_np(np.asarray(q)[None, :])[0]
    dot = dot_product_np(mat, q)
    with np.errstate(divide="ignore", invalid="ignore"):
        sim = dot / (np.sqrt(na2) * np.sqrt(qn2))
    return np.where((na2 == 0.0) | (qn2 == 0.0), 0.0, sim)


def normalize_vector(a: ColumnOrName) -> Column:
    """a/|a|, zero vector unchanged (reference embedding.py:106-113).
    Returns ARRAY<DOUBLE>."""
    a = _col(a)
    n2 = norm2(a)
    return F.when(n2 == F.lit(0.0), F.transform(a, lambda x: x.cast("double"))).otherwise(
        F.transform(a, lambda x: x.cast("double") / F.sqrt(n2))
    )


def normalize_with_staged_norm(vec: ColumnOrName, n2: ColumnOrName) -> Column:
    """``normalize_vector`` with the squared norm supplied as an already-
    projected COLUMN instead of recomputed inside the element lambda.

    Interpreted higher-order functions re-evaluate their lambda body per
    element, so the inline ``x / sqrt(norm2(a))`` form costs O(d^2) per
    row; staging ``n2`` in the preceding projection makes the division a
    bound-reference lookup, O(d) per row (measured ~1.4x on bulk
    normalize at d=64).  Bit-identical values — same operations, same
    order."""
    vec, n2 = _col(vec), _col(n2)
    return F.when(
        n2 == F.lit(0.0), F.transform(vec, lambda x: x.cast("double"))
    ).otherwise(F.transform(vec, lambda x: x.cast("double") / F.sqrt(n2)))
