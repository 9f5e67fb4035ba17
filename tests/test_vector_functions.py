"""Vector scalar functions vs NumPy ground truth.

Covers the reference edge cases: zero-norm cosine -> exactly 0.0
(embedding.py:82-84), zero-vector normalize unchanged (embedding.py:111-112).
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, StructField, StructType

from vector_database_api_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    euclidean_distance,
    normalize_vector,
)

SCHEMA = StructType(
    [
        StructField("a", ArrayType(FloatType())),
        StructField("b", ArrayType(FloatType())),
    ]
)


def _eval(spark, a, b):
    df = spark.createDataFrame([(a, b)], SCHEMA)
    row = df.select(
        dot_product("a", "b").alias("dot"),
        cosine_similarity("a", "b").alias("cos"),
        euclidean_distance("a", "b").alias("euc"),
    ).collect()[0]
    return row["dot"], row["cos"], row["euc"]


def test_against_numpy(spark):
    rng = np.random.default_rng(7)
    for _ in range(5):
        a = rng.normal(size=16).astype(np.float32)
        b = rng.normal(size=16).astype(np.float32)
        dot, cos, euc = _eval(spark, [float(x) for x in a], [float(x) for x in b])
        ad, bd = a.astype(np.float64), b.astype(np.float64)
        assert dot == pytest.approx(float(ad @ bd), rel=1e-12)
        assert cos == pytest.approx(
            float(ad @ bd / (np.linalg.norm(ad) * np.linalg.norm(bd))), rel=1e-12
        )
        assert euc == pytest.approx(float(np.linalg.norm(ad - bd)), rel=1e-12)


def test_cosine_sql_text_twin_is_bit_exact(spark, sf_dir):
    """cosine_similarity_sql (the sql()-built queries' form, r11) must
    be BIT-identical to the Column form on real corpus vectors — the
    top-k legs order by the unrounded value, so even a 1-ulp drift
    could flip a near-tie.  Checked over every (embedding, query-0)
    pair of the test corpus, plus the zero-norm edge."""
    from vector_database_api_spark.functions.vector import (
        cosine_similarity_sql,
    )
    from vector_database_api_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    both = (
        emb.crossJoin(qv.hint("broadcast"))
        .select(
            "vec_id",
            cosine_similarity("embedding", "qv").alias("col_form"),
            F.expr(cosine_similarity_sql("embedding", "qv")).alias(
                "sql_form"
            ),
        )
        .collect()
    )
    assert both
    for r in both:
        assert r["col_form"] == r["sql_form"], r  # exact doubles
    zero = spark.sql(
        "SELECT "
        + cosine_similarity_sql(
            "array(CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT))",
            "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))",
        )
        + " AS c"
    ).collect()[0]["c"]
    assert zero == 0.0


def test_zero_norm_cosine_is_exactly_zero(spark):
    zero = [0.0] * 4
    other = [1.0, 2.0, 3.0, 4.0]
    _, cos, _ = _eval(spark, zero, other)
    assert cos == 0.0 and not math.isnan(cos)
    _, cos2, _ = _eval(spark, zero, zero)
    assert cos2 == 0.0


def test_normalize(spark):
    df = spark.createDataFrame([([3.0, 4.0], [0.0, 0.0])], SCHEMA)
    row = df.select(
        normalize_vector("a").alias("na"), normalize_vector("b").alias("nb")
    ).collect()[0]
    assert row["na"] == pytest.approx([0.6, 0.8])
    assert row["nb"] == [0.0, 0.0]  # zero vector returned unchanged


def test_dim_mismatch_yields_null_not_garbage(spark):
    """Deliberate deviation from the reference, pinned: the reference
    RAISES on dimension mismatch (embedding.py:76-78, single-process);
    in a distributed scan one poison row must not kill the job, so the
    HOF expressions yield NULL (zip_with pads the shorter array with
    NULL, which nulls the whole accumulation).  NULL — never a silently
    truncated or garbage score."""
    df = spark.createDataFrame([([1.0, 2.0, 3.0], [1.0, 2.0])], SCHEMA)
    row = df.select(
        dot_product("a", "b").alias("d"),
        cosine_similarity("a", "b").alias("c"),
        euclidean_distance("a", "b").alias("e"),
    ).collect()[0]
    assert row["d"] is None and row["c"] is None and row["e"] is None


def test_md5_embedder_matches_duckdb_bit_exact():
    """functions/embedding.py::md5_text_to_vector vs the DuckDB CTE twin
    (duck_md5_embed_cte) — bit-exact on ASCII, unicode, empty, and NULL
    text, so the embed_texts_deterministic oracle rests on proven
    per-row parity, not just the aggregated round-6 hash."""
    import duckdb

    from vector_database_api_spark.functions import embedding as emb

    texts = ["hello world", "naïve café — 試験", "", None, "O'Brien \\ quote"]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, ?)" for i in range(len(texts)))
        + ") v(i, text)",
        texts,
    )
    rows = con.execute(
        f"WITH {emb.duck_md5_embed_cte('t', 'text')} "
        f"SELECT i, {', '.join(f'nc{j}' for j in range(emb.MD5_DIM))} "
        "FROM emb ORDER BY i"
    ).fetchall()
    for i, text in enumerate(texts):
        expected = emb.md5_text_to_vector(text)
        assert list(rows[i][1:]) == expected, (text, rows[i][1:], expected)


def test_numpy_twins_are_bit_exact(spark):
    """The *_np twins (the driver plane of VectorEngine.search_timed)
    equal their Column forms to the bit, on random float32 vectors
    including a zero vector, as row and as query."""
    from vector_database_api_spark.functions.vector import (
        cosine_similarity_np,
        dot_product_np,
        euclidean_distance_np,
        norm2,
        norm2_np,
    )

    rng = np.random.default_rng(11)
    mat = rng.normal(size=(40, 24)).astype(np.float32)
    mat[5] = 0.0
    for q in (rng.normal(size=24).astype(np.float32), np.zeros(24, np.float32)):
        df = spark.createDataFrame(
            [([float(x) for x in row], [float(x) for x in q]) for row in mat],
            SCHEMA,
        )
        got = df.select(
            norm2("a").alias("n2"),
            dot_product("a", "b").alias("dot"),
            cosine_similarity("a", "b").alias("cos"),
            euclidean_distance("a", "b").alias("euc"),
        ).collect()
        twins = {
            "n2": norm2_np(mat),
            "dot": dot_product_np(mat, q),
            "cos": cosine_similarity_np(mat, q),
            "euc": euclidean_distance_np(mat, q),
        }
        for name, values in twins.items():
            assert [r[name] for r in got] == values.tolist(), name
