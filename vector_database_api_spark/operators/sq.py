"""Scalar quantization (SQ8) — the no-Python quantized ANN path.

Completes the quantization family next to PQ (``operators/pq.py``): where
the reference keeps every raw float vector in its indexes
(app/database/indexes.py:107, :317), SQ8 stores one int8 code per
dimension — a 64-d float32 vector becomes 64 bytes (4x compression) with
far less quantization error than PQ's 8-16 B codes.  FAISS ships the same
trade-off as ``ScalarQuantizer(QT_8bit)``.

Spark-first shape — and unlike PQ, **every stage is a JVM expression**:

- **Train** = per-dimension ``min``/``max`` over the (normalized) corpus:
  ``posexplode`` + ``groupBy(dim)`` — a map-side-combinable aggregation
  whose result is ``d`` rows, collected to the driver and folded into the
  encode expression as array literals (same bounded-driver-state posture
  as IVF centroids / PQ codebooks).
- **Encode** = ``transform(vec, (x, i) -> floor(clamped-affine))`` —
  whole-stage-codegen HOFs, no pandas UDF anywhere.
- **Search** uses the affine decomposition of the dequantized dot
  product:

      dot(dq(codes), q) = sum_i vmin_i q_i  +  sum_i codes_i * (vdiff_i q_i / 255)
                        = bias              +  dot(codes, w)

  so serving scans only the int8 codes and evaluates ONE fused
  ``aggregate(zip_with(codes, w-literal))`` per row — never
  materializing the dequantized vector.  ``sq_dequant_score`` keeps the
  literal dequantize-then-dot form whose operation order is mirrored
  bit-for-bit by the DuckDB oracle (queries.py::sq8_search_topk, where
  train/encode/score are ALL hash-checked — the only ANN path whose
  training is oracle-verified too).

Rounding is ``floor(x*255 + 0.5)`` on both engines (identical half-up
semantics; Spark ``round`` and DuckDB ``round`` disagree on ties).
Degenerate dimensions (vmax == vmin) encode to 0 and dequantize back to
``vmin`` exactly.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vector_database_api_spark.functions.vector import (
    dot_product,
    norm2,
    normalize_with_staged_norm,
)


@dataclass
class SQIndex:
    vmins: np.ndarray  # (d,) float64 — per-dim min of normalized corpus
    vmaxs: np.ndarray  # (d,) float64
    codes_df: DataFrame  # (id, codes array<int>)
    dim: int


def _lit_array(values) -> Column:
    return F.array(*[F.lit(float(v)) for v in values])


def dim_stats(df: DataFrame, vec_col: str = "nv") -> DataFrame:
    """(i, vmin, vmax) per 1-based dimension — the training aggregation.
    posexplode is a narrow map stage; the groupBy reduces to ``d`` rows
    with map-side partial min/max, so shuffle volume is O(d * partitions)
    regardless of corpus size."""
    return (
        df.select(F.posexplode(F.col(vec_col)).alias("i0", "x"))
        .groupBy((F.col("i0") + 1).alias("i"))
        .agg(F.min("x").alias("vmin"), F.max("x").alias("vmax"))
    )


def encode_expr(vec: Column, vmins: Column, vmaxs: Column) -> Column:
    """int codes from a (normalized) vector against per-dim bounds:
    floor(clamp01((x - vmin)/(vmax - vmin)) * 255 + 0.5); degenerate
    dims -> 0.  Pure HOF — identical arithmetic in the DuckDB oracle.

    Shape matters: the indexed-lambda ``transform(vec, (x, i) -> ...)``
    references ``vec`` exactly once.  The tempting alternative —
    ``transform(sequence(1, d), i -> element_at(vec, i))`` — makes the
    optimizer inline whatever expression produced ``vec`` d times (and
    any downstream consumer d^2 times), a measured 64x codegen blowup."""

    def one(x: Column, i0: Column) -> Column:
        lo = F.element_at(vmins, i0 + 1)
        hi = F.element_at(vmaxs, i0 + 1)
        frac = (x.cast("double") - lo) / (hi - lo)
        clamped = F.least(F.greatest(frac, F.lit(0.0)), F.lit(1.0))
        return F.when(hi == lo, F.lit(0)).otherwise(
            F.floor(clamped * F.lit(255.0) + F.lit(0.5)).cast("int")
        )

    return F.transform(vec, one)


def dequant_expr(codes: Column, vmins: Column, vmaxs: Column) -> Column:
    """vmin_i + codes_i/255 * (vmax_i - vmin_i) — the literal inverse;
    same single-reference indexed-lambda shape as ``encode_expr``."""

    def one(c: Column, i0: Column) -> Column:
        lo = F.element_at(vmins, i0 + 1)
        hi = F.element_at(vmaxs, i0 + 1)
        return lo + c.cast("double") / F.lit(255.0) * (hi - lo)

    return F.transform(codes, one)


def build_sq(
    df: DataFrame, id_col: str = "id", vec_col: str = "embedding"
) -> SQIndex:
    """Train per-dim bounds on the L2-normalized corpus, then encode every
    row.  Driver state is 2*d floats (constant in corpus size); the encode
    runs as codegen'd HOFs over the full corpus."""
    first = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is None:
        raise ValueError("cannot build SQ index on an empty DataFrame")
    dim = first["d"]
    rows = (
        df.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            norm2(vec_col).alias("n2"),
        )
        .select("id", normalize_with_staged_norm("v", "n2").alias("nv"))
    )
    stats = {
        r["i"]: (r["vmin"], r["vmax"])
        for r in dim_stats(rows, "nv").collect()
    }
    vmins = np.array([stats[i + 1][0] for i in range(dim)], dtype=np.float64)
    vmaxs = np.array([stats[i + 1][1] for i in range(dim)], dtype=np.float64)
    codes_df = encode_with_bounds(df, vmins, vmaxs, id_col=id_col, vec_col=vec_col)
    return SQIndex(vmins=vmins, vmaxs=vmaxs, codes_df=codes_df, dim=dim)


def encode_with_bounds(
    df: DataFrame,
    vmins: np.ndarray,
    vmaxs: np.ndarray,
    id_col: str = "id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode rows against FROZEN bounds (the incremental-add path, like
    ``pq.encode_codes``: new/updated vectors are coded without
    retraining; coordinates outside the trained range clamp)."""
    rows = (
        df.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            norm2(vec_col).alias("n2"),
        )
        .select("id", normalize_with_staged_norm("v", "n2").alias("nv"))
    )
    return rows.select(
        "id",
        encode_expr(F.col("nv"), _lit_array(vmins), _lit_array(vmaxs)).alias(
            "codes"
        ),
    )


def sq_query_weights(
    vmins: np.ndarray, vmaxs: np.ndarray, query_vec: np.ndarray
) -> tuple[np.ndarray, float]:
    """The (w, bias) of the affine score ``bias + dot(codes, w)`` for a
    query: w_i = vdiff_i * q_i / 255 and bias = dot(vmins, q) on the
    normalized query."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)
    if qn > 0:
        q = q / qn
    return (vmaxs - vmins) * q / 255.0, float(vmins @ q)


def sq_search(index: SQIndex, query_vec: np.ndarray, k: int = 5) -> DataFrame:
    """Affine-decomposed ADC: score = bias + dot(codes, w) with
    w_i = vdiff_i * q_i / 255 and bias = dot(vmins, q) folded on the
    driver — one fused zip_with/aggregate over the int codes per row,
    deterministic ``ORDER BY similarity DESC, id LIMIT k``."""
    w, bias = sq_query_weights(index.vmins, index.vmaxs, query_vec)
    return (
        index.codes_df.select(
            "id",
            (F.lit(bias) + dot_product(F.col("codes"), _lit_array(w))).alias(
                "similarity"
            ),
        )
        .orderBy(F.desc("similarity"), F.col("id"))
        .limit(k)
    )


def sq_dequant_score(index: SQIndex, query_vec: np.ndarray, k: int = 5) -> DataFrame:
    """Literal dequantize-then-dot form (bit-exact twin of the oracle's
    arithmetic; the affine form reassociates the sum and may differ in the
    last ulp).  Used by tests to pin the decomposition equality."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)
    if qn > 0:
        q = q / qn
    vmins, vmaxs = _lit_array(index.vmins), _lit_array(index.vmaxs)
    dq = dequant_expr(F.col("codes"), vmins, vmaxs)
    return (
        index.codes_df.select(
            "id", dot_product(dq, _lit_array(q)).alias("similarity")
        )
        .orderBy(F.desc("similarity"), F.col("id"))
        .limit(k)
    )
