"""SQL-text references and literals used by the sql()-built queries:
view names never collide across sf_dirs, and degenerate statistics or
candidate pools render valid SQL."""

from __future__ import annotations

from vector_database_api_spark import queries as q


def test_view_names_are_distinct_per_sf_dir(spark, monkeypatch):
    sizes = {"/corpus/a": 1, "/corpus/b": 2}
    monkeypatch.setattr(
        q, "load_table", lambda spark, sf_dir, name: spark.range(sizes[sf_dir])
    )
    table_views = [q._sql_ref(spark, d, "probe") for d in sizes]
    frame_views = [
        q._sql_ref_df(spark.range(n), d, "_probe_art") for d, n in sizes.items()
    ]
    for views in (table_views, frame_views):
        assert views[0] != views[1]
        counts = [spark.sql(f"SELECT count(*) FROM {v}").first()[0] for v in views]
        assert counts == [1, 2]  # each view still reads its own corpus


def test_null_statistic_renders_sql_null(spark):
    cols = q._stats_literal_cols({"avgdl": None, "n_docs": 0})
    row = spark.sql(f"SELECT {cols}").first()
    assert row["avgdl"] is None and row["n_docs"] == 0


def test_ltr_feature_matrix_empty_pool(spark, sf_dir, monkeypatch):
    from vector_database_api_spark.operators import bm25 as bm25_ops

    monkeypatch.setattr(bm25_ops, "collect_parallel", lambda *dfs: [[], []])
    assert q.ltr_feature_matrix(spark, sf_dir).count() == 0
