"""Routing config sweep tests (IterateRoutingConfigs / recall-QPS Pareto,
routes.cpp:120-311 + route_search_combination.cpp:121-226)."""

import numpy as np
from pyspark.sql import functions as F

from gp_ann_spark.eval import recall as R
from gp_ann_spark.operators import kmeans as KM
from gp_ann_spark.operators import partition as P
from gp_ann_spark.operators import sweep as SW
from tests.conftest import make_points_df


def _setup(spark, rng, n=160, d=8, shards=4):
    centers = rng.normal(scale=4.0, size=(shards, d))
    X = np.vstack([rng.normal(c, 0.4, size=(n // shards, d)) for c in centers]).astype(np.float32)
    pts = make_points_df(spark, X).cache()
    asn = P.kmeans_partition(pts, shards, n_iter=6).localCheckpoint(eager=True)
    qs = pts.where(F.col("id") % 7 == 0).select(F.col("id").alias("query_id"), "vec").localCheckpoint(eager=True)
    gt = R.ground_truth(pts, qs, k=5).localCheckpoint(eager=True)
    return pts, asn, qs, gt


def test_generate_router_configs_grid():
    cfgs = SW.generate_router_configs(budgets=(512, 2048))
    assert {c["budget"] for c in cfgs} == {512, 2048}
    assert any(c["num_centroids"] == 128 for c in cfgs)  # top tier gets 128
    assert all(c["min_cluster_size"] == 350 for c in cfgs)


def test_iterate_routing_configs_shapes(spark, rng):
    pts, asn, qs, gt = _setup(spark, rng)
    grid = dict(
        num_shards=4, budgets=(256,), num_voting_list=(20,), policies=("min_dist", "frequency"),
    )
    cfgs = SW.iterate_routing_configs(pts, asn, qs, **grid)
    # 1 budget cfg × 1 nv × 2 policies + random = 3
    assert len(cfgs) == 3
    algs = {c["algorithm"] for c in cfgs}
    assert algs == {"KMeansTree-min_dist", "KMeansTree-frequency", "Random"}
    for c in cfgs:
        routes = c["routes"]
        # a route relation: every query, probe_rank 1..#shards dense
        pr = routes.groupBy("query_id").agg(F.min("probe_rank").alias("mn"))
        assert pr.where(F.col("mn") != 1).count() == 0
    # the sweep table carries every config's max-first-shard recall, from
    # one aggregation over all configs: equal to the scalar form per config
    pdf = SW.routing_sweep_pareto(pts, asn, qs, gt, k=5, nprobes_values=(1,), **grid)
    fsr = pdf.set_index("algorithm")["first_shard_recall"]
    nq = qs.count()
    for c in cfgs:
        assert 0.0 <= fsr[c["algorithm"]] <= 1.0
        assert fsr[c["algorithm"]] == R.first_shard_recall(gt, asn, c["routes"], 5, nq)
    # trained routers must beat random on clustered data
    assert fsr.drop("Random").max() > fsr["Random"]


def test_routing_sweep_pareto_table(spark, rng):
    pts, asn, qs, gt = _setup(spark, rng)
    pdf = SW.routing_sweep_pareto(
        pts, asn, qs, gt, k=5, num_shards=4, budgets=(256,), num_voting_list=(20,),
        nprobes_values=(1, 2, 4), policies=("min_dist",),
    )
    # (1 cfg × 1 policy + random) × 3 nprobes = 6 rows
    assert len(pdf) == 6
    assert pdf["pareto"].any()
    # recall is monotone in nprobes within a config and hits 1.0 at full probe
    for _, grp in pdf.groupby(["algorithm", "budget", "num_voting"]):
        rs = grp.sort_values("nprobes")["recall"].to_numpy()
        assert (np.diff(rs) >= -1e-12).all()
        assert rs[-1] >= 0.999  # all shards probed = exhaustive
    # the Pareto front is non-dominated
    front = pdf[pdf["pareto"]]
    rest = pdf[~pdf["pareto"]]
    for _, r in rest.iterrows():
        assert any((f["recall"] >= r["recall"]) and (f["qps"] >= r["qps"]) for _, f in front.iterrows())


def test_routing_sweep_pareto_ivf_ef_axis(spark, rng):
    """With in_shard='ivf' the grid gains the ef axis (the reference's
    ef_search sweep, shard_searches.cpp:13): per (config, nprobes), recall
    is monotone in ef and the largest ef (≥ shard sizes) matches the exact
    kernel's recall."""
    pts, asn, qs, gt = _setup(spark, rng)
    exact = SW.routing_sweep_pareto(
        pts, asn, qs, gt, k=5, num_shards=4, budgets=(256,), num_voting_list=(20,),
        nprobes_values=(1, 4), policies=("min_dist",),
    )
    pdf = SW.routing_sweep_pareto(
        pts, asn, qs, gt, k=5, num_shards=4, budgets=(256,), num_voting_list=(20,),
        nprobes_values=(1, 4), policies=("min_dist",), in_shard="ivf",
        ef_values=(20, 1000),
    )
    assert sorted(pdf["ef"].unique()) == [20, 1000]
    assert len(pdf) == 2 * len(exact)
    for key, grp in pdf.groupby(["algorithm", "budget", "num_voting", "nprobes"]):
        by_ef = grp.sort_values("ef")["recall"].to_numpy()
        assert (np.diff(by_ef) >= -1e-12).all()  # nested candidates → monotone
    # ef=1000 covers every shard → identical recall to the exact kernel
    big = pdf[pdf["ef"] == 1000].set_index(["algorithm", "nprobes"])["recall"]
    ex = exact.set_index(["algorithm", "nprobes"])["recall"]
    for idx in ex.index:
        assert abs(big.loc[idx] - ex.loc[idx]) < 1e-9


def test_routing_sweep_pareto_searches_once(spark, rng, monkeypatch):
    """One timed search per sweep (≙ RunInShardSearches once,
    route_search_combination.cpp:121-226), over only the distinct
    (query, shard) pairs that some config probes within max(nprobes)."""
    pts, asn, qs, gt = _setup(spark, rng)
    real, calls = SW.SS.run_in_shard_searches, []

    def spy(sharded, queries, routes, **kw):
        calls.append(routes.select("query_id", "shard", "probe_rank").collect())
        return real(sharded, queries, routes, **kw)

    monkeypatch.setattr(SW.SS, "run_in_shard_searches", spy)
    pdf = SW.routing_sweep_pareto(
        pts, asn, qs, gt, k=5, num_shards=4, budgets=(256,), num_voting_list=(20,),
        nprobes_values=(1, 2), policies=("min_dist", "frequency"),
    )
    assert len(pdf) == 3 * 2  # (2 policies + random) × 2 nprobes
    assert len(calls) == 1
    pairs = [(r["query_id"], r["shard"]) for r in calls[0]]
    assert len(pairs) == len(set(pairs))
    assert all(r["probe_rank"] <= 2 for r in calls[0])
