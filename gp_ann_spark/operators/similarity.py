"""Similarity search over embedding columns (ARRAY<FLOAT>).

The generic-embeddings face of the gp-ann engine core: brute-force top-k as
the exact baseline (≙ ComputeGroundTruth recall.h:25-39), IVF-bucketed
search as the scale path (the same route→probe→merge shape as the sharded
query pipeline, with k-means cells instead of graph-partition shards).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gp_ann_spark.checkpoint import checkpoints
from gp_ann_spark.operators import kmeans as KM
from gp_ann_spark.operators import routing as RT
from gp_ann_spark.operators import search as S
from gp_ann_spark.operators.knn import exact_knn


def _as_points(embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    return embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))


def brute_force_topk(
    embeddings: DataFrame, k: int = 10, metric: str = "l2",
    id_col: str = "vec_id", vec_col: str = "embedding",
    queries: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k self-similarity (or vs a query set): broadcast top-k
    scoring, rank ties broken by neighbor id. Returns
    (query_id, neighbor_id, rank)."""
    pts = _as_points(embeddings, id_col, vec_col)
    if queries is None:
        qs = pts.select(F.col("id").alias("query_id"), "vec")
        exclude_self = True
    else:
        qs = queries
        exclude_self = False
    return exact_knn(pts, qs, k=k, metric=metric, exclude_self=exclude_self).select(
        "query_id", "neighbor_id", "rank"
    )


def ivf_topk(
    embeddings: DataFrame, k: int = 10, n_cells: int = 16, nprobe: int = 3,
    metric: str = "l2", id_col: str = "vec_id", vec_col: str = "embedding",
    n_iter: int = 8, cells: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: k-means cells, probe the ``nprobe`` nearest.

    Exactly the engine's route→probe→merge pipeline with k-means cells as
    shards: build (lloyd) → route (centroid scoring) → probe (cogrouped
    exact search) → merge. Recall rises with nprobe → n_cells (then exact).

    ``cells`` (id, shard) supplies a precomputed cell assignment instead of
    running lloyd — cell centroids are then the per-cell means. This is the
    SQL-expressible variant the DuckDB oracle checks end-to-end.
    """
    pts = _as_points(embeddings, id_col, vec_col).cache()
    if cells is None:
        centroids, assignment = KM.lloyd(pts, n_cells, n_iter=n_iter)
        cent_df = pts.sparkSession.createDataFrame(
            [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)],
            "shard int, vec array<float>",
        )
    else:
        assignment = cells.select("id", "shard")
        cent_df = KM.shard_centroids(pts, assignment)
        n_cells = cent_df.count()
    qs = pts.select(F.col("id").alias("query_id"), "vec")
    scored = RT.score_routing_points(
        qs,
        cent_df,
        num_voting=n_cells,
        metric=metric,
        # one row per cell — statically broadcast-sized, skip the size probe
        distributed=False,
    )
    routes = RT.probe_order(scored, "min_dist").where(F.col("probe_rank") <= nprobe)
    results = S.search_pipeline(pts, assignment, qs, routes, k=k + 1, nprobes=nprobe, metric=metric)
    # a self-query always finds itself in its own cell — drop and re-rank
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("neighbor_id").asc())
    out = (
        results.where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )
    # materialize the (nq × k, three ints) result eagerly so the 3×-reused
    # pts cache can be released HERE — a lazily returned plan would pin it
    # in executor storage for the session's lifetime
    with checkpoints() as cp:
        out = cp.pin(out)
        pts.unpersist()
        return cp.keep(out)
