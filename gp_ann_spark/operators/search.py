"""Sharded search: probe shards per the routing order, merge results.

Reference: ``src/inverted_index.h`` (CSR-blocked brute-force shard probe),
``src/inverted_index_hnsw.h`` (per-shard HNSW probe),
``src/shard_searches.cpp`` (per-shard search sweeps),
``small_scale_queries.cpp:146-188`` (probe-accumulate-dedup loop),
``src/distributed_query_benchmark.h`` (the MPI path — here the shuffle IS
the message exchange).

Spark-first design: points are **co-partitioned by shard** (the relational
form of the reference's CSR-blocked inverted index, north_star), the probe
plan ``(query, shard)`` is joined with query vectors and cogrouped with the
points by shard; one ``applyInPandas`` per shard runs the in-shard kernel
for every query probing that shard. ``_per_shard`` is that operator — the
only cogroup-by-shard in the library: ``probe_shards`` here and the timed
``shard_searches.run_in_shard_searches`` are kernels of it. Two kernels:

- ``in_shard="exact"``: blocked BLAS top-k (≙ InvertedIndex,
  inverted_index.h:12-60) — the oracle, O(n_shard·d) per query;
- ``in_shard="ivf"``: the sublinear IVF kernel (≙ InvertedIndexHNSW,
  inverted_index_hnsw.h:10-78; see operators/ivf_shard.py) with the
  candidate budget ``ef`` as the reference's ef_search analog — the path
  that holds at 25M-point shards.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gp_ann_spark.checkpoint import realias
from gp_ann_spark.functions.distances import distance_matrix, topk
from gp_ann_spark.operators.ivf_shard import build_ivf, ivf_search


def _per_shard(sharded_points: DataFrame, queries: DataFrame, routes: DataFrame, kernel, schema: str) -> DataFrame:
    """Run ``kernel(shard, ids, X, probes, Q)`` once per shard on every
    query that ``routes`` (query_id, shard, probe_rank) sends there — one
    cogrouped ``applyInPandas``. ``X`` holds the shard's points in id order,
    ``probes`` the (query_id, probe_rank) rows and ``Q`` their vectors,
    both float64; the kernel returns rows of ``schema``. A shard that no
    query probes, or a route to a shard without points, yields no rows."""
    probe_q = routes.join(queries.select("query_id", "vec"), "query_id").select(
        "shard", "query_id", "probe_rank", "vec"
    )
    def search(points_pdf: pd.DataFrame, queries_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(points_pdf) == 0 or len(queries_pdf) == 0:
            return pd.DataFrame()  # Spark accepts a column-less empty result
        # sort by id: the kernels tie-break by POSITION into X, and cogroup
        # delivers rows in shuffle order — sorting makes position order ==
        # id order, so tie resolution no longer depends on the input layout
        points_pdf = points_pdf.sort_values("id", ignore_index=True)
        X = np.stack(points_pdf["vec"].to_numpy()).astype(np.float64)
        Q = np.stack(queries_pdf["vec"].to_numpy()).astype(np.float64)
        shard = int(points_pdf["shard"].iloc[0])
        return kernel(shard, points_pdf["id"].to_numpy(), X, queries_pdf[["query_id", "probe_rank"]], Q)

    return sharded_points.groupBy("shard").cogroup(realias(probe_q).groupBy("shard")).applyInPandas(
        search, schema=schema
    )


def shard_points(points: DataFrame, assignment: DataFrame) -> DataFrame:
    """Co-partition points by shard — the inverted index at rest
    (≙ InvertedIndex CSR blocks, inverted_index.h:12-41). Write this with
    ``.write.partitionBy("shard")`` and probes become partition-pruned scans
    (≙ the seek-coalesced sharded read, distributed_query_benchmark.h:48-84).
    """
    return points.join(assignment, "id").repartition("shard")


def probe_shards(
    sharded_points: DataFrame,
    queries: DataFrame,
    routes: DataFrame,
    k: int = 10,
    nprobes: int | None = None,
    metric: str = "l2",
    in_shard: str = "exact",
    ef: int = 200,
    seed: int = 555,
) -> DataFrame:
    """Search each query in every shard it probes.

    ``routes`` = (query_id, shard, probe_rank); only rows with
    probe_rank ≤ nprobes are executed. Returns
    (query_id, shard, probe_rank, neighbor_id, dist) — per-(query,shard)
    top-k (≙ InvertedIndex::QueryBucket inverted_index.h:43-60; with
    ``in_shard="ivf"`` ≙ InvertedIndexHNSW::QueryBucket at ef_search=``ef``,
    inverted_index_hnsw.h:69-78).
    """
    if in_shard not in ("exact", "ivf"):
        raise ValueError(f"in_shard must be 'exact' or 'ivf', got {in_shard!r}")
    probe = routes if nprobes is None else routes.where(F.col("probe_rank") <= nprobes)

    def rows(shard, probes, qi, neighbor_ids, dist) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "query_id": probes["query_id"].to_numpy()[qi],
                "shard": shard,
                "probe_rank": probes["probe_rank"].to_numpy().astype(np.int32)[qi],
                "neighbor_id": neighbor_ids,
                "dist": dist,
            }
        )

    def exact(shard, ids, X, probes, Q) -> pd.DataFrame:
        # X is in id order, so topk's column order is merge_results' (dist,
        # neighbor_id) order: exactly min(k, |shard|) rows per query
        d = distance_matrix(Q, X, metric)
        idx = topk(d, k)
        qi = np.repeat(np.arange(len(Q)), idx.shape[1])
        return rows(shard, probes, qi, ids[idx.ravel()], np.take_along_axis(d, idx, axis=1).ravel())

    def ivf(shard, ids, X, probes, Q) -> pd.DataFrame:
        index = build_ivf(X, seed=seed + shard, metric=metric)
        idx_rows, dist_rows = ivf_search(Q, X, index, k, ef, metric)
        qi = np.repeat(np.arange(len(Q)), [len(r) for r in idx_rows])
        return rows(shard, probes, qi, ids[np.concatenate(idx_rows)], np.concatenate(dist_rows))

    return _per_shard(
        sharded_points, queries, probe, exact if in_shard == "exact" else ivf,
        schema="query_id long, shard int, probe_rank int, neighbor_id long, dist double",
    )


def merge_results(shard_results: DataFrame, k: int = 10) -> DataFrame:
    """Dedup neighbors across probed shards, keep global top-k per query
    (≙ DedupNeighbors small_scale_queries.cpp:15-23 + TopN merge).
    Returns (query_id, neighbor_id, dist, rank)."""
    dedup = shard_results.groupBy("query_id", "neighbor_id").agg(F.min("dist").alias("dist"))
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("neighbor_id").asc())
    return dedup.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def search_pipeline(
    points: DataFrame,
    assignment: DataFrame,
    queries: DataFrame,
    routes: DataFrame,
    k: int = 10,
    nprobes: int = 2,
    metric: str = "l2",
    in_shard: str = "exact",
    ef: int = 200,
) -> DataFrame:
    """route → probe → merge (the reference's serving path,
    small_scale_queries.cpp:146-188, minus the recall eval).
    ``in_shard="ivf"`` swaps the exact probe for the sublinear kernel."""
    sp = shard_points(points, assignment)
    sr = probe_shards(sp, queries, routes, k=k, nprobes=nprobes, metric=metric, in_shard=in_shard, ef=ef)
    return merge_results(sr, k=k)
