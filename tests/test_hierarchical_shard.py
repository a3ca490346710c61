import numpy as np
import pytest
from pyspark.sql import functions as F

from gp_ann_spark.eval import recall as R
from gp_ann_spark.operators import hierarchical as H
from gp_ann_spark.operators import partition as P
from gp_ann_spark.operators import routing as RT
from gp_ann_spark.operators import search as S
from gp_ann_spark.operators import shard_searches as SS
from tests.conftest import make_points_df


@pytest.fixture(scope="module")
def pts(spark):
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(5, 8)) * 5
    X = np.vstack([rng.normal(c, 0.3, size=(60, 8)) for c in centers])
    return make_points_df(spark, X).cache()


def test_hierarchical_kmeans_leaves(spark, pts):
    asn, cents = H.hierarchical_kmeans(pts, target_leaf_size=40, branching=8, n_iter=4)
    assert asn.count() == 300
    sizes = {r["leaf"]: r["size"] for r in cents.collect()}
    assert sum(sizes.values()) == 300
    # all leaves within ~branching-slack of the target
    assert max(sizes.values()) <= 40 * 2
    # leaf ids dense
    leaves = sorted(r["leaf"] for r in asn.select("leaf").distinct().collect())
    assert leaves == list(range(len(leaves)))


def test_pyramid_partition_balance(spark, pts):
    asn, ridx = H.pyramid_partition(pts, 5, eps=0.05, n_aggregates=16, sample_cap=200)
    assert asn.count() == 300
    assert asn.select("id").distinct().count() == 300
    assert P.imbalance(asn, 5) <= 1.05 + 1e-9
    # routing-index side output (≙ partitioning.cpp:279-291): one row per
    # aggregate, shard labels within range, usable by a centroid router
    ri = ridx.collect()
    assert len(ri) == 16
    assert all(r["vec"] is not None for r in ri)
    assert {r["shard"] for r in ri} <= set(range(5))
    # the index IS a routing table: score queries against it directly
    qs = pts.select(F.col("id").alias("query_id"), "vec").limit(10)
    scored = RT.score_routing_points(qs, ridx.select("shard", "vec"), num_voting=int(1e9))
    routes = RT.probe_order(scored)
    assert routes.select("query_id").distinct().count() == 10
    assert {r["shard"] for r in routes.collect()} <= set(range(5))


def test_our_pyramid_partition(spark, pts):
    asn, routing_index = H.our_pyramid_partition(pts, 5, target_leaf_size=30, knn_k=5)
    assert asn.count() == 300
    assert P.imbalance(asn, 5) <= 1.10 + 1e-9  # leaf-granular balance is coarser
    # routing index covers every leaf with a shard and vec
    ri = routing_index.collect()
    assert all(r["vec"] is not None and r["shard"] is not None for r in ri)
    assert {r["shard"] for r in ri} <= set(range(5))


def test_shard_searches_and_qps(spark, pts):
    asn = P.kmeans_partition(pts, 4, n_iter=5).localCheckpoint(eager=True)
    qs = pts.select(F.col("id").alias("query_id"), "vec").limit(20).localCheckpoint(eager=True)
    routes = RT.centroid_router(qs, pts, asn).localCheckpoint(eager=True)
    sp = S.shard_points(pts, asn)
    sr = SS.run_in_shard_searches(sp, qs, routes, k=10).localCheckpoint(eager=True)
    assert sr.where(F.col("time_s") <= 0).count() == 0
    assert sr.select(F.size("neighbors")).agg(F.max("size(neighbors)")).collect()[0][0] <= 10
    gt = R.ground_truth(pts, qs, k=10)
    grid = SS.recall_qps_grid(sr, routes.withColumn("config", F.lit(0)), gt, 10, 20, [1, 2, 4], [0], [0])
    assert list(grid["config"]) == [0, 0, 0] and list(grid["ef"]) == [0, 0, 0]
    assert list(grid["nprobes"]) == [1, 2, 4]
    assert grid["recall"].iloc[-1] == pytest.approx(1.0)
    assert (grid["recall"].diff().dropna() >= -1e-9).all()
    assert (grid["qps"] > 0).all()
    sim = SS.simulate_qps(sr, 2, 20)
    assert sim["qps"] > 0 and sim["hosts"] >= 4
