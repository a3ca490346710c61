import numpy as np
from pyspark.sql import functions as F

from gp_ann_spark.operators import knn, knn_approx
from tests.conftest import make_points_df


def test_approx_graph_recall_against_exact(spark, rng):
    X = rng.normal(size=(600, 12))
    pts = make_points_df(spark, X).cache()
    exact = knn.knn_edges(pts, k=5).localCheckpoint(eager=True)
    approx = knn_approx.build_knn_graph(
        pts, k=5, max_cluster_size=120, top_level_leaders=24, repetitions=3, seed=555
    ).localCheckpoint(eager=True)
    # structural invariants
    assert approx.where(F.col("src") == F.col("dst")).count() == 0
    assert approx.groupBy("src").count().agg(F.max("count")).collect()[0][0] <= 5
    assert approx.select("src").distinct().count() == 600
    # graph recall vs exact oracle (≙ graph_quality_benchmark.cpp acceptance)
    rec = knn_approx.graph_recall(approx, exact)
    assert rec >= 0.75, f"graph recall too low: {rec}"


def test_approx_graph_deterministic(spark, rng):
    X = rng.normal(size=(300, 8))
    pts = make_points_df(spark, X).cache()
    a = knn_approx.build_knn_graph(pts, k=4, max_cluster_size=80, top_level_leaders=12, repetitions=2)
    b = knn_approx.build_knn_graph(pts, k=4, max_cluster_size=80, top_level_leaders=12, repetitions=2)
    assert sorted(map(tuple, a.select("src", "dst").collect())) == sorted(
        map(tuple, b.select("src", "dst").collect())
    )


def test_small_input_falls_back_to_single_bucket(spark, rng):
    X = rng.normal(size=(50, 6))
    pts = make_points_df(spark, X)
    edges = knn_approx.build_knn_graph(pts, k=3, repetitions=1)
    exact = knn.knn_edges(pts, k=3)
    # one bucket ≤ max_cluster_size → brute force = exact
    assert knn_approx.graph_recall(edges, exact) == 1.0


def test_repetitions_are_independent_sketches_seeded_seed_plus_rep(spark, rng):
    """``repetitions=3`` is the top-k merge of three one-repetition builds
    seeded ``seed + rep`` (knn_graph.h:145-162 unions independent sketches)."""
    X = rng.normal(size=(300, 8))
    pts = make_points_df(spark, X).localCheckpoint(eager=True)
    kw = dict(k=4, max_cluster_size=80, top_level_leaders=12)

    def edges(df):
        return sorted((r["src"], r["dst"], round(r["weight"], 9)) for r in df.collect())

    together = knn_approx.build_knn_graph(pts, repetitions=3, seed=101, **kw)
    singles = [knn_approx.build_knn_graph(pts, repetitions=1, seed=101 + r, **kw) for r in range(3)]
    merged = knn.merge_topk(singles[0].unionByName(singles[1]).unionByName(singles[2]), 4)
    assert edges(together) == edges(merged)


def test_assign_to_leaders_canonical_at_tied_fanout_boundary(spark):
    """Two leaders with identical vectors tied at the fanout boundary must be
    broken by leader_rank, not shuffle-arrival column order (r5 review
    finding: bare argpartition made two builds route the point to different
    buckets). Both leader-row input orders must yield the same bucket."""
    import pandas as pd

    pts = spark.createDataFrame(
        pd.DataFrame({"rep": [0], "id": [0], "bucket": [7], "vec": [[0.0, 0.0]]})
    ).withColumn("rep", F.col("rep").cast("int"))
    rows = [(0, 7, r, [1.0, 0.0]) for r in (0, 1)]  # identical vectors, ranks 0/1
    outs = []
    for order in (rows, rows[::-1]):
        leaders = spark.createDataFrame(order, "rep int, bucket long, leader_rank long, vec array<double>")
        outs.append(
            knn_approx._assign_to_leaders(pts, leaders, fanout=1, metric="l2")
            .collect()[0]["bucket"]
        )
    assert outs[0] == outs[1]
