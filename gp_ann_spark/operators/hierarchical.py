"""Hierarchical k-means and the Pyramid-family partitioners.

Reference: ``src/partitioning.cpp`` — ``HierarchicalKMeansParlay`` (:360-431)
/ ``HierarchicalKMeans`` (:433-507): recursive k-means with ≤64 centroids per
level until leaves hold ≤ ratio·n points; ``PyramidPartitioning``
(:266-356): subsample → k-means to ~10k aggregates → k-NN graph over
aggregates → graph partition → assign every point to its closest aggregate's
shard under capacity with retry rounds; ``OurPyramidPartitioning``
(:509-552): hierarchical-k-means leaves → k-NN graph over leaf centroids
with node weights = leaf sizes → *weighted* graph partition → project.

Spark-first shape: the first split is a distributed Lloyd (the only level
where a cluster may exceed one task); deeper levels run whole-cluster NumPy
k-means inside ``applyInPandas`` (each cluster is ≤ n/branch and shrinks
geometrically). Aggregate/leaf tables are small by construction → every
downstream join broadcasts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gp_ann_spark.functions.windows import bounded_global_window

from gp_ann_spark.checkpoint import checkpoints
from gp_ann_spark.corpus.ingest import dense_ids
from gp_ann_spark.operators import kmeans as KM
from gp_ann_spark.operators import knn as KNN
from gp_ann_spark.operators import partition as P

SEED = KM.SEED


def hierarchical_kmeans(
    points: DataFrame,
    target_leaf_size: int,
    branching: int = 64,
    n_iter: int = 8,
    metric: str = "l2",
    seed: int = SEED,
    max_levels: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Recursive k-means coarsening (≙ HierarchicalKMeans partitioning.cpp:
    433-507, branching ≤64). Returns (leaf_assignment(id, leaf),
    leaf_centroids(leaf, vec, size)).

    Level 0 is a distributed Lloyd split; deeper levels split each oversized
    leaf with in-task NumPy k-means (cluster sizes shrink ~branching× per
    level, so level-1 clusters already fit a task at any realistic scale).
    """
    n = points.count()
    k0 = min(branching, max(2, int(np.ceil(n / target_leaf_size))))
    _, asn = KM.lloyd(points, k0, n_iter=n_iter, metric=metric, seed=seed)
    with checkpoints() as cp:
        asn = cp.pin(asn.select("id", F.col("shard").cast("long").alias("leaf")))

        for level in range(1, max_levels):
            with checkpoints() as step:
                sizes = step.pin(asn.groupBy("leaf").agg(F.count(F.lit(1)).alias("cnt")))
                big = sizes.where(F.col("cnt") > target_leaf_size)
                if big.limit(1).count() == 0:
                    break
                joined = points.join(asn, "id").join(F.broadcast(big.select("leaf")), "leaf", "left_semi")

                def split(pdf: pd.DataFrame, lvl=level) -> pd.DataFrame:
                    X = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
                    leaf = int(pdf["leaf"].iloc[0])
                    k = min(branching, max(2, int(np.ceil(len(X) / target_leaf_size))))
                    # leaf ids are hashes (possibly negative int64) — fold to a
                    # non-negative entropy tuple; default_rng rejects negatives
                    rng = np.random.default_rng((seed, lvl, leaf & 0xFFFFFFFFFFFFFFFF))
                    _, a = KM.local_lloyd(X, k, rng, n_iter)
                    return pd.DataFrame({"id": pdf["id"], "sub": a.astype(np.int64)})

                subs = joined.groupBy("leaf").applyInPandas(
                    lambda pdf: split(pdf).assign(leaf=pdf["leaf"].iloc[0]), schema="id long, sub long, leaf long"
                )
                # hash-namespaced child ids (same pattern as knn_approx's bucket
                # splits): the positional encoding leaf·branching + sub + 1e9·level
                # grows ~branching× per level and overflows int64 around level 7 on a
                # never-shrinking (near-duplicate) leaf — hashes stay flat, ids are
                # densified below anyway, and a 64-bit collision merely merges two
                # leaves (re-split next level by the size check)
                new_big = subs.select(
                    "id", F.xxhash64("leaf", "sub", F.lit(level), F.lit("hkm")).alias("leaf")
                )
                keep = asn.join(F.broadcast(big.select("leaf")), "leaf", "left_anti")
                asn = cp.swap(keep.select("id", "leaf").unionByName(new_big), asn)

        # densify leaf ids, then leaf means and sizes in one shard_centroids
        # aggregation. dense_ids = one range shuffle + per-partition offsets:
        # the distinct leaf table is row-proportional (~n/target_leaf_size),
        # so a global row_number window here would be the single-partition
        # scale-killer windows.py warns about
        dense = dense_ids(asn.select("leaf").distinct(), order_col="leaf").withColumnRenamed("id", "_n")
        # no broadcast hint: the leaf table is row-proportional too — let AQE
        # pick broadcast vs shuffle from its measured size
        asn = asn.join(dense, "leaf").select("id", F.col("_n").cast("long").alias("leaf"))
        cents = KM.shard_centroids(points, asn.select("id", F.col("leaf").alias("shard")))
        leaf_cents = cents.select(F.col("shard").alias("leaf"), "vec", "size")
        return cp.keep((asn, leaf_cents))


def pyramid_partition(
    points: DataFrame,
    num_shards: int,
    eps: float = 0.05,
    n_aggregates: int = 256,
    sample_cap: int = 100_000,
    metric: str = "l2",
    seed: int = SEED,
    max_rounds: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """Pyramid: coarse aggregate pipeline + capacity-constrained point
    assignment (≙ PyramidPartitioning partitioning.cpp:266-356).

    sample (deterministic hash-rank, ≙ the 10M subsample :271) → k-means to
    ``n_aggregates`` (≙ 10k aggregates :276) → k-NN graph over aggregates →
    multilevel graph partition → every point rates its top aggregates and is
    greedily filled under the (1+ε) cap, looping over the unassigned
    remainder (≙ the retry rounds :336-346 — here ``capacity_fill`` loops
    internally).

    Returns ``(assignment, routing_index)`` where routing_index is the
    aggregate-centroid table with shard labels ``(agg, shard, vec)`` — the
    side output a router trains on (≙ partitioning.cpp:279-291, mirroring
    ``our_pyramid_partition``'s leaf-centroid index).
    """
    n = points.count()
    if num_shards > n_aggregates:
        raise ValueError(
            f"pyramid_partition: num_shards={num_shards} > n_aggregates={n_aggregates} — "
            "points can only be routed to shards that own aggregates, so at least "
            f"{num_shards - n_aggregates} shards would be unreachable. Raise n_aggregates "
            "(the reference uses 10k aggregates for 40 shards, partitioning.cpp:276)."
        )
    cap = P.max_cluster_size(n, num_shards, eps)
    w = F.xxhash64("id", F.lit(seed))
    sample = points.orderBy(w).limit(min(sample_cap, n))
    centroids, _ = KM.lloyd(sample, n_aggregates, n_iter=8, metric=metric, seed=seed)
    spark = points.sparkSession
    agg_pts = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)], "id long, vec array<float>"
    )
    agg_edges = KNN.symmetrize(KNN.knn_edges(agg_pts, k=min(10, len(centroids) - 1), metric=metric))
    agg_asn = P.graph_partition(agg_edges, num_shards, eps=eps, coarse_target=max(64, len(centroids) // 4))
    agg_shard = {r["id"]: r["shard"] for r in agg_asn.collect()}
    shard_of = np.array([agg_shard[i] for i in range(len(centroids))])

    # rate each point against aggregates, map to shards, keep best-per-shard
    rated = KM.assign_all_candidates(points, centroids, metric, top_f=min(8, len(centroids)))
    shard_map = spark.createDataFrame(
        [(int(i), int(s)) for i, s in enumerate(shard_of)], "cand int, shard int"
    )
    cand = (
        rated.join(F.broadcast(shard_map), "cand")
        .groupBy("id", "shard")
        .agg(F.min("dist").alias("dist"))
    )
    placed = KM.capacity_fill(cand, cap)
    # points whose rated shards were all full: assign to least-loaded shard
    rest = points.select("id").join(placed.select("id"), "id", "left_anti")
    if rest.limit(1).count() > 0:
        all_cand = KM.assign_all_candidates(points.join(rest, "id", "left_semi"), centroids, metric)
        all_shard = (
            all_cand.join(F.broadcast(shard_map), "cand").groupBy("id", "shard").agg(F.min("dist").alias("dist"))
        )
        sizes = {r["shard"]: r["c"] for r in placed.groupBy("shard").agg(F.count(F.lit(1)).alias("c")).collect()}
        caps_df = spark.createDataFrame(
            [(int(s), int(cap - sizes.get(s, 0))) for s in range(num_shards)], "shard int, cap int"
        )
        placed2 = KM.capacity_fill(all_shard, caps_df)
        placed = placed.select("id", "shard").unionByName(placed2.select("id", "shard"))
    # loud stranded-point check (matching kmeans._enforce_cap's RuntimeError
    # style): if the shards reachable through aggregates lack capacity — e.g.
    # the graph partitioner left some shards without aggregates — silently
    # returning a partial assignment would lose data downstream
    n_placed = placed.count()
    if n_placed != n:
        raise RuntimeError(
            f"pyramid_partition stranded {n - n_placed} of {n} points: the shards "
            "reachable via aggregates are at capacity. Raise n_aggregates so every "
            "shard owns aggregates, or relax eps."
        )
    routing_index = spark.createDataFrame(
        [(int(i), int(s), [float(x) for x in c]) for i, (s, c) in enumerate(zip(shard_of, centroids))],
        "agg long, shard int, vec array<float>",
    )
    return placed.select("id", F.col("shard").cast("int").alias("shard")), routing_index


def our_pyramid_partition(
    points: DataFrame,
    num_shards: int,
    eps: float = 0.05,
    target_leaf_size: int = 200,
    knn_k: int = 20,
    metric: str = "l2",
    seed: int = SEED,
) -> tuple[DataFrame, DataFrame]:
    """OurPyramid (≙ OurPyramidPartitioning partitioning.cpp:509-552):
    hierarchical-k-means leaves → ``knn_k``-NN graph over leaf centroids with
    node weights = leaf sizes → weight-aware multilevel partition → project
    to points through the leaf assignment. Returns (assignment,
    leaf_centroids-with-shard — the routing-index side output :525-528).
    """
    leaf_asn, leaf_cents = hierarchical_kmeans(
        points, target_leaf_size, metric=metric, seed=seed
    )
    with checkpoints() as cp:
        leaf_pts = cp.pin(leaf_cents.select(F.col("leaf").alias("id"), "vec"))
        n_leaves = leaf_pts.count()
        edges = KNN.symmetrize(KNN.knn_edges(leaf_pts, k=min(knn_k, n_leaves - 1), metric=metric))
        weights = leaf_cents.select(F.col("leaf").alias("id"), F.col("size").cast("long").alias("w"))
        asn, _ = P._partition_coarsest(edges, weights, num_shards, eps, max(64, n_leaves // 4), seed)
        leaf_shard = asn.select(F.col("label").alias("leaf"), "shard")
        assignment = leaf_asn.join(F.broadcast(leaf_shard), "leaf").select("id", "shard")
        routing_index = leaf_cents.join(F.broadcast(leaf_shard), "leaf").select("leaf", "shard", "vec", "size")
        return cp.keep((assignment, routing_index))
