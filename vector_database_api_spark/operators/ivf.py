"""IVF — inverted file over k-means centroids: build + probe search.

Reference: ``/root/reference/app/database/indexes.py:193-393`` — train
k-means centroids (nlist=100, <=10 iterations; indexes.py:228-265), assign
each vector to its nearest centroid into inverted lists (indexes.py:310-321),
probe search = top-nprobe clusters by centroid L2 distance -> exact cosine
re-rank of their members that survive the filtered chunk set
(indexes.py:340-379).  Degenerate semantics mirrored: an untrained index
(fewer vectors than nlist ever seen) returns EMPTY results
(indexes.py:343-344 via the lazy-train gate at indexes.py:276-291), and the
reference never retrains once trained (``not self._is_trained`` guard) — our
build is a one-shot batch job, matching that.

Spark-first design:

- Training is MLlib ``KMeans`` (seeded; the reference is unseeded NumPy —
  SURVEY §7 risk 2 — so correctness tests compare against invariants and a
  simulation seeded with *our* centroids, not reference bit-output).
- The index is ``(id, cluster_id, embedding)``.  At scale it is written
  ``partitionBy("cluster_id")`` so ``cluster_id IN (probed)`` is partition
  pruning — the physical skip the reference gets from inverted lists.
- Centroids are nlist x dim (100 x 1024 in the reference) — driver-local
  NumPy by design, exactly like the broadcastable centroids table in
  FIXTURES.md; probe selection is an argsort over nlist values.
- Re-rank shares the bit-exact cosine/euclidean expressions and the
  deterministic ``ORDER BY similarity DESC, id LIMIT k`` top-k.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_database_api_spark.config import DEFAULT_CONFIG, EngineConfig
from vector_database_api_spark.functions.vector import (
    cosine_similarity,
    euclidean_distance,
)
from vector_database_api_spark.operators.filters import apply_metadata_filters

RESULT_SCHEMA = "id string, similarity double, distance double"


@dataclass
class IVFIndex:
    """Built index: broadcast-scale centroids + the distributed assignment
    table (reference inverted_lists + chunk_to_cluster, indexes.py:216-221)."""

    centroids: np.ndarray  # (nlist, dim)
    index_df: DataFrame  # (id, cluster_id, embedding)
    trained: bool
    nlist: int
    nprobe: int


def build_ivf(
    chunks: DataFrame,
    id_col: str = "id",
    vec_col: str = "embedding",
    nlist: int | None = None,
    nprobe: int | None = None,
    seed: int | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
) -> IVFIndex:
    """Batch index build (reference library_service.py:120-158 +
    indexes.py:228-265): fit KMeans, assign every embedded row.

    When n < nlist the reference never reaches training (lazy-train gate,
    indexes.py:280) and searches return empty — mirrored by
    ``trained=False`` with an empty index.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    nlist = nlist or config.ivf_nlist
    nprobe = nprobe or config.ivf_nprobe
    seed = config.seed if seed is None else seed

    embedded = chunks.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("embedding")
    )
    featurized = embedded.withColumn("features", array_to_vector("embedding"))
    n = featurized.count()
    if n < nlist:
        spark = chunks.sparkSession
        empty = spark.createDataFrame([], "id string, cluster_id int, embedding array<float>")
        return IVFIndex(
            centroids=np.zeros((0, 0)),
            index_df=empty,
            trained=False,
            nlist=nlist,
            nprobe=nprobe,
        )

    kmeans = KMeans(
        k=nlist,
        maxIter=config.ivf_kmeans_max_iter,
        seed=seed,
        featuresCol="features",
        predictionCol="cluster_id",
    )
    model = kmeans.fit(featurized)
    index_df = model.transform(featurized).select(
        "id", F.col("cluster_id").cast("int"), "embedding"
    )
    centroids = np.array([np.asarray(c) for c in model.clusterCenters()])
    return IVFIndex(
        centroids=centroids,
        index_df=index_df,
        trained=True,
        nlist=nlist,
        nprobe=nprobe,
    )


def probe_clusters(index: IVFIndex, query_vec: np.ndarray, nprobe: int | None = None) -> list[int]:
    """Top-nprobe clusters by centroid L2 distance (reference
    indexes.py:346-349) — an argsort over the broadcast-scale centroid
    matrix; ties broken by cluster id (np.argsort is stable), made explicit
    for determinism."""
    nprobe = nprobe or index.nprobe
    dists = np.linalg.norm(index.centroids - np.asarray(query_vec, dtype=np.float64), axis=1)
    order = np.argsort(dists, kind="stable")
    return [int(c) for c in order[:nprobe]]


def ivf_search(
    index: IVFIndex,
    query: DataFrame,
    query_vec: np.ndarray,
    k: int = 5,
    query_vec_col: str = "query_embedding",
    chunks: DataFrame | None = None,
    id_col: str = "id",
    metadata_filters: dict[str, Any] | None = None,
    nprobe: int | None = None,
) -> DataFrame:
    """Probe search (reference indexes.py:340-379).

    ``query_vec`` drives centroid probing (driver-side over nlist rows);
    ``query`` is the same vector as a one-row DataFrame for the distributed
    re-rank.  If ``chunks`` is given, candidates must survive its
    metadata-filtered id set (J2 semi-join, search_service.py:103-105).
    Untrained index -> empty result (indexes.py:343-344).
    """
    spark = query.sparkSession
    if not index.trained:
        return spark.createDataFrame([], RESULT_SCHEMA)

    probed = probe_clusters(index, query_vec, nprobe=nprobe)
    # cluster_id IN (...) over a table partitioned by cluster_id => Catalyst
    # partition pruning scans only the probed inverted lists.
    pool = index.index_df.filter(F.col("cluster_id").isin(probed))

    if chunks is not None:
        filtered_ids = apply_metadata_filters(chunks, metadata_filters).select(
            F.col(id_col).alias("id")
        )
        pool = pool.join(filtered_ids, "id", "left_semi")

    scored = pool.crossJoin(F.broadcast(query.select(query_vec_col))).select(
        F.col("id"),
        cosine_similarity("embedding", query_vec_col).alias("similarity"),
        euclidean_distance("embedding", query_vec_col).alias("distance"),
    )
    return scored.orderBy(F.desc("similarity"), F.col("id")).limit(k)


def assign_to_centroids(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign rows to their nearest centroid with FROZEN centroids — the
    incremental add/update path (reference indexes.py:267-274,310-321:
    after initial training, new vectors are assigned with stale centroids,
    never retrained — SURVEY §7 risk 5 says mirror, don't 'fix').

    Arrow-vectorized pandas UDF: one NumPy distance matrix per batch; the
    centroid matrix rides into the workers via closure (broadcast-scale by
    construction, nlist x dim)."""
    from pyspark.sql.functions import pandas_udf

    cent = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("int")
    def nearest(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.map(lambda v: np.asarray(v, dtype=np.float64)))
        # argmin over squared L2 (same argmin as L2); ties -> lowest id,
        # matching np.argmin in the reference (indexes.py:273)
        d2 = (
            (m * m).sum(axis=1)[:, None]
            - 2.0 * m @ cent.T
            + (cent * cent).sum(axis=1)[None, :]
        )
        return pd.Series(np.argmin(d2, axis=1).astype("int32"))

    return df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        nearest(F.col(vec_col)).alias("cluster_id"),
        F.col(vec_col).alias("embedding"),
    )


def cluster_sizes(index: IVFIndex) -> DataFrame:
    """Per-cluster membership counts (A3, indexes.py:278,390-393)."""
    return index.index_df.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))
