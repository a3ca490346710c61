"""Evaluation operators: ground truth, distance-based recall, recall-vs-probes
curves, oracle probe orders, first-shard recall.

Reference: ``src/recall.h`` — ``ComputeGroundTruth`` (:25-39),
``ComputeDistanceToKthNeighbor`` (:10-23), ``Recall`` (:139-150 — *distance
based*: a returned neighbor counts iff its distance ≤ the query's exact kth-NN
distance, so ties count); ``oracle_recall.cpp:10-38``
(RecallForIncreasingProbes), ``src/recall.h:41-68`` (oracle probe order),
``src/routes.cpp:11-31`` (first-shard routing recall).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gp_ann_spark.checkpoint import checkpoints
from gp_ann_spark.functions.windows import bounded_global_window

from gp_ann_spark.functions.distances import sql_distance
from gp_ann_spark.operators.knn import exact_knn


def ground_truth(points: DataFrame, queries: DataFrame, k: int = 10, metric: str = "l2") -> DataFrame:
    """Exact top-k per query (≙ ComputeGroundTruth recall.h:25-39).
    Returns (query_id, neighbor_id, dist, rank)."""
    return exact_knn(points, queries, k=k, metric=metric)


def distance_to_kth_neighbor(gt: DataFrame, k: int = 10) -> DataFrame:
    """(query_id, threshold): the exact kth-NN distance
    (≙ ComputeDistanceToKthNeighbor recall.h:10-23).

    When a query's GT holds fewer than k rows (corpus smaller than k, or a
    truncated GT file) the threshold is its LAST available rank — without
    this, such queries lose their threshold row entirely and ``recall``'s
    inner join silently scores them 0 while keeping them in the
    denominator (a perfect result over a 5-point corpus at k=10 would
    read 0.0)."""
    w = Window.partitionBy("query_id")
    return (
        gt.withColumn("_maxr", F.max("rank").over(w))
        .where(F.col("rank") == F.least(F.lit(k), F.col("_maxr")))
        .select("query_id", F.col("dist").alias("threshold"))
    )


EPS_GRID = tuple(10.0**-e for e in range(1, 11))  # 1e-1 .. 1e-10


def validate_ground_truth(
    gt: DataFrame, points: DataFrame, queries: DataFrame, k: int, metric: str = "l2",
) -> tuple[DataFrame, DataFrame, dict]:
    """GT sanity harness (≙ ConvertGroundTruthToDistanceToKthNeighbor,
    recall.h:70-137): recompute every stored GT distance against the true
    point/query vectors, count mismatches at |Δ| > 1e-8 and across the
    ε-sweep 1e-1..1e-10, count mis-sorted neighbor lists before/after the
    recomputation, REPAIR (true distances + re-sorted ranks), and extract
    the kth-neighbor thresholds from the repaired lists.

    Returns ``(repaired_gt, thresholds, report)`` where report mirrors the
    reference's printed counters: ``distance_mismatches``,
    ``wrong_by_eps[ε]``, ``wrong_sorts_before``, ``wrong_sorts_after``,
    plus ``missing_neighbors`` (GT rows naming nonexistent point ids).

    Scale shape: one equi-join of the (nq×k)-row GT with the point vectors,
    queries broadcast; all counters come from a single aggregate pass.
    """
    pv = points.select(F.col("id").alias("neighbor_id"), F.col("vec").alias("_pv"))
    qv = queries.select("query_id", F.col("vec").alias("_qv"))
    # LEFT join: a GT row naming a nonexistent point id must surface in the
    # report (the reference's validation errors out on them), not silently
    # vanish from the counters and the repaired lists
    with checkpoints() as cp:
        with checkpoints() as step:
            joined = step.pin(gt.join(pv, "neighbor_id", "left").join(F.broadcast(qv), "query_id"))
            n_missing = joined.where(F.col("_pv").isNull()).count()
            # with_true outlives joined: the nq×k×vec intermediate is released
            # as soon as with_true is materialized and n_missing counted
            with_true = cp.pin(
                joined.where(F.col("_pv").isNotNull())
                .withColumn("true_dist", sql_distance(F.col("_qv"), F.col("_pv"), metric))
                .drop("_pv", "_qv")
            )
        w_rank = Window.partitionBy("query_id").orderBy("rank")
        flags = (
            with_true.withColumn("_prev", F.lag("dist").over(w_rank))
            .withColumn("_prev_true", F.lag("true_dist").over(w_rank))
            .groupBy("query_id")
            .agg(
                F.max((F.col("dist") < F.col("_prev")).cast("int")).alias("bad_before"),
                F.max((F.col("true_dist") < F.col("_prev_true")).cast("int")).alias("bad_after"),
            )
            .agg(F.sum("bad_before").alias("wsb"), F.sum("bad_after").alias("wsa"))
        )
        err = F.abs(F.col("dist") - F.col("true_dist"))
        counts = with_true.agg(
            F.sum((err > 1e-8).cast("long")).alias("mism"),
            *[F.sum((err > e).cast("long")).alias(f"e{i}") for i, e in enumerate(EPS_GRID)],
        )
        crow = counts.collect()[0]
        frow = flags.collect()[0]
        report = {
            "distance_mismatches": int(crow["mism"] or 0),
            "wrong_by_eps": {e: int(crow[f"e{i}"] or 0) for i, e in enumerate(EPS_GRID)},
            "wrong_sorts_before": int(frow["wsb"] or 0),
            "wrong_sorts_after": int(frow["wsa"] or 0),
            "missing_neighbors": int(n_missing),
        }
        w_true = Window.partitionBy("query_id").orderBy(F.col("true_dist").asc(), F.col("neighbor_id").asc())
        repaired = with_true.withColumn("rank", F.row_number().over(w_true)).select(
            "query_id", "neighbor_id", F.col("true_dist").alias("dist"), "rank"
        )
        # same short-GT guard as distance_to_kth_neighbor: a query with < k
        # repaired rows keeps its last-rank threshold instead of dropping out
        thresholds = distance_to_kth_neighbor(repaired, k)
        return cp.keep((repaired, thresholds, report))


def recall(results: DataFrame, thresholds: DataFrame, k: int, n_queries: int, eps: float = 1e-9) -> float:
    """Distance-based recall@k (≙ Recall recall.h:139-150): fraction of
    returned neighbors within the per-query kth-NN distance (ties count;
    eps absorbs float reassociation, mirroring the reference's tolerance
    sweep recall.h:85-86)."""
    hits = (
        results.where(F.col("rank") <= k)
        .join(thresholds, "query_id")
        .where(F.col("dist") <= F.col("threshold") + eps)
        .count()
    )
    return hits / (n_queries * k)


def gt_shard_hits(gt: DataFrame, cover: DataFrame) -> DataFrame:
    """(query_id, shard, hits): how many GT neighbors live in each shard
    (cover semantics: a neighbor in multiple shards contributes to each —
    ≙ recall.h:41-68 / route_search_combination.cpp:85-116)."""
    return (
        gt.join(cover.withColumnRenamed("id", "neighbor_id"), "neighbor_id")
        .groupBy("query_id", "shard")
        .agg(F.count(F.lit(1)).alias("hits"))
    )


def oracle_probe_order(gt: DataFrame, cover: DataFrame) -> DataFrame:
    """Probe shards by descending GT-neighbor count — the per-query oracle
    router (≙ oracle_recall.cpp:97-119). Returns (query_id, shard, probe_rank)."""
    hits = gt_shard_hits(gt, cover)
    w = Window.partitionBy("query_id").orderBy(F.col("hits").desc(), F.col("shard").asc())
    return hits.withColumn("probe_rank", F.row_number().over(w)).select("query_id", "shard", "probe_rank")


def recall_vs_probes(
    gt: DataFrame, cover: DataFrame, routes: DataFrame, k: int, n_queries: int,
) -> DataFrame:
    """The headline curve: cumulative recall@k as probes increase
    (≙ RecallForIncreasingProbes oracle_recall.cpp:10-38).

    A GT neighbor is found at the *first* probe_rank whose shard contains it
    (dedup across shards = min probe_rank, ≙ the `found` bitset in
    oracle_recall.cpp:21-27); the curve is the running sum over probe ranks.
    Returns (nprobes, recall) with one row per probe rank — DENSE over the
    routes' rank axis: a rank at which no new neighbor is first found still
    gets a row carrying the cumulative recall forward (consumers reading a
    1..P axis would otherwise see missing ranks as 0/NULL instead of the
    carried value).
    """
    first_found = (
        gt.select("query_id", "neighbor_id")
        .join(cover.withColumnRenamed("id", "neighbor_id"), "neighbor_id")
        .join(routes, ["query_id", "shard"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.min("probe_rank").alias("first_probe"))
    )
    per_rank = first_found.groupBy(F.col("first_probe").alias("nprobes")).agg(F.count(F.lit(1)).alias("found"))
    axis = routes.select(F.col("probe_rank").alias("nprobes")).distinct()
    dense = axis.join(per_rank, "nprobes", "left").select(
        "nprobes", F.coalesce(F.col("found"), F.lit(0)).alias("found")
    )
    w = bounded_global_window("nprobes").rowsBetween(Window.unboundedPreceding, 0)
    return dense.withColumn("recall", F.sum("found").over(w) / (n_queries * k)).select("nprobes", "recall")


def _first_shard_hits(gt: DataFrame, cover: DataFrame, routes: DataFrame, keys=()) -> DataFrame:
    """(*keys, count): GT neighbors covered by the first probed shard, per
    group of the ``keys`` columns of ``routes`` (≙ MaxFirstShardRoutingRecall
    routes.cpp:11-31). One aggregation, whatever the number of groups."""
    first = routes.where(F.col("probe_rank") == 1).select(*keys, "query_id", "shard")
    return (
        gt.select("query_id", "neighbor_id")
        .join(cover.withColumnRenamed("id", "neighbor_id"), "neighbor_id")
        .join(first, ["query_id", "shard"])
        .select(*keys, "query_id", "neighbor_id")
        .distinct()
        .groupBy(*keys)
        .count()
    )


def first_shard_recall(gt: DataFrame, cover: DataFrame, routes: DataFrame, k: int, n_queries: int) -> float:
    """Fraction of GT neighbors covered by the first probed shard
    (≙ MaxFirstShardRoutingRecall routes.cpp:11-31)."""
    return _first_shard_hits(gt, cover, routes).collect()[0]["count"] / (n_queries * k)


def max_shard_search_recall(gt: DataFrame, cover: DataFrame, k: int, n_queries: int) -> float:
    """Recall ceiling if every shard were probed (≙ MaxShardSearchRecall
    route_search_combination.cpp:65-83): GT neighbors present in ≥1 shard."""
    covered = (
        gt.select("query_id", "neighbor_id")
        .join(cover.withColumnRenamed("id", "neighbor_id").select("neighbor_id").distinct(), "neighbor_id")
        .count()
    )
    return covered / (n_queries * k)

