"""Routing config sweep: the reference's headline recall/QPS experiment.

Reference: ``src/routes.cpp`` — ``GenerateRouterConfigs`` (:120-163: budget
grid 20k..10M × min_cluster_size 350 × 64 centroids, 128 for the largest
budgets), ``IterateRoutingConfigs`` (:166-311: per budget, train the k-means
tree router, emit KMeansTree + KMeansTree-Frequency routes over the
num_voting grid {20..500}, then HNSW-router configs over the *extracted*
routing points with 4 probe-order policies, plus a seeded Random baseline);
``src/route_search_combination.cpp`` (:121-226: combine every route config
with the in-shard search sweep into a (recall, QPS) grid and keep the Pareto
front).

Spark-first collapse (SURVEY §2.10 / routing.py docstring): the KMTR flat
table IS the extracted HNSW routing-point set, and our scoring is exact
broadcast top-k — so "KMeansTree", "KMeansTree-Frequency" and the four
"HNSW-*" variants all reduce to ONE scored relation per (budget, num_voting)
with a different pure-DataFrame probe-order policy each. The sweep is a
driver-side loop over a tiny config grid that trains and scores each config.
Then, as the reference does, it searches once and combines per config: one
timed ``run_in_shard_searches`` over the distinct (query, shard) pairs of
every config's routes, joined back to each config's probe ranks in one
``recall_qps_grid``.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable, Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gp_ann_spark.checkpoint import checkpoints
from gp_ann_spark.eval import recall as R
from gp_ann_spark.operators import routing as RT
from gp_ann_spark.operators import search as S
from gp_ann_spark.operators import shard_searches as SS
from gp_ann_spark.operators.ivf_shard import EF_SWEEP

SEED = 555

# scaled-down default grids (the reference's 20k..10M budgets target 10^9
# points; these target the test corpus — pass the full grids at scale)
DEFAULT_BUDGETS = (512, 2048)
DEFAULT_NUM_VOTING = (20, 80, 200)


def generate_router_configs(
    budgets: Sequence[int] = DEFAULT_BUDGETS,
    min_cluster_size: int = 350,
) -> list[dict]:
    """≙ GenerateRouterConfigs (routes.cpp:120-163): budget grid ×
    min_cluster_size {350} × num_centroids {64} (+128 for budgets in the top
    tier)."""
    out = []
    top = max(budgets)
    for b in budgets:
        out.append({"budget": int(b), "min_cluster_size": min_cluster_size, "num_centroids": 64})
        if b == top and len(budgets) > 1:
            out.append({"budget": int(b), "min_cluster_size": min_cluster_size, "num_centroids": 128})
    return out


def random_routes(queries: DataFrame, num_shards: int, seed: int = SEED) -> DataFrame:
    """Seeded random probe order per query (≙ routes.cpp:269-285)."""
    spark = queries.sparkSession
    shards = F.broadcast(spark.range(num_shards).select(F.col("id").cast("int").alias("shard")))
    w = Window.partitionBy("query_id").orderBy(F.xxhash64("query_id", "shard", F.lit(seed)))
    return (
        queries.select("query_id")
        .crossJoin(shards)
        .withColumn("probe_rank", F.row_number().over(w))
    )


def iterate_routing_configs(
    points: DataFrame,
    assignment: DataFrame,
    queries: DataFrame,
    num_shards: int | None = None,
    budgets: Sequence[int] = DEFAULT_BUDGETS,
    num_voting_list: Sequence[int] = DEFAULT_NUM_VOTING,
    policies: Sequence[str] = RT.POLICIES,
    metric: str = "l2",
    seed: int = SEED,
) -> list[dict]:
    """The config sweep (≙ IterateRoutingConfigs routes.cpp:166-311).

    Returns one dict per route config: algorithm/budget/num_voting plus the
    serializable ``routes`` relation. ``routing_sweep_pareto`` scores the
    first-shard recall of every config in one aggregation.
    """
    num_shards = num_shards or (assignment.agg(F.max("shard")).collect()[0][0] + 1)
    out: list[dict] = []
    with checkpoints() as cp:
        for cfg in generate_router_configs(budgets):
            with checkpoints() as per_cfg:
                rp = per_cfg.pin(RT.train_kmeans_tree(
                    points, assignment, branching=cfg["num_centroids"], min_cluster_size=cfg["min_cluster_size"],
                    max_nodes_per_shard=max(1, cfg["budget"] // num_shards), seed=seed,
                ), eager=False)  # the count below materializes: 1 job
                n_rp = rp.count()
                for nv in num_voting_list:
                    with checkpoints() as per_nv:
                        # non-eager: materialized by the first routes below.
                        # n_rp is already counted off the checkpointed table
                        # — no size-probe job per (config, num_voting) cell
                        scored = per_nv.pin(RT.score_routing_points(
                            queries, rp, num_voting=nv, metric=metric,
                            distributed=n_rp > RT.MAX_BROADCAST_ROUTING_POINTS,
                        ), eager=False)
                        for policy in policies:
                            # non-eager: the caller's first action over the
                            # union of all configs' routes materializes every
                            # routes pin at once; until then each keeps its
                            # scored table alive
                            routes = cp.pin(RT.probe_order(scored, policy=policy), eager=False)
                            out.append(
                                {
                                    "algorithm": f"KMeansTree-{policy}",
                                    "budget": cfg["budget"],
                                    "num_centroids": cfg["num_centroids"],
                                    "num_voting": nv,
                                    "n_routing_points": n_rp,
                                    "routes": routes,
                                }
                            )
        rr = cp.pin(random_routes(queries, num_shards, seed), eager=False)
        out.append(
            {
                "algorithm": "Random",
                "budget": 0,
                "num_centroids": 0,
                "num_voting": 0,
                "n_routing_points": 0,
                "routes": rr,
            }
        )
        return cp.keep(out)


def routing_sweep_pareto(
    points: DataFrame,
    assignment: DataFrame,
    queries: DataFrame,
    gt: DataFrame,
    k: int = 10,
    num_shards: int | None = None,
    budgets: Sequence[int] = DEFAULT_BUDGETS,
    num_voting_list: Sequence[int] = DEFAULT_NUM_VOTING,
    nprobes_values: Iterable[int] | None = None,
    policies: Sequence[str] = RT.POLICIES,
    metric: str = "l2",
    seed: int = SEED,
    in_shard: str = "exact",
    ef_values: Iterable[int] | None = None,
) -> pd.DataFrame:
    """End-to-end recall/QPS Pareto table (≙ route_search_combination.cpp:
    121-226): every route config × the timed in-shard search sweep →
    (config, nprobes, recall, qps) rows with a global Pareto flag.

    ``in_shard="ivf"`` runs the reference's full experiment shape: the
    sublinear in-shard kernel swept over the ef grid, so the output exposes
    the ef-vs-nprobes recall/QPS trade-off (ef column; 0 = exact search).

    Output is a config-grid-sized pandas frame (the reference also
    post-processes driver-side); all heavy stages are DataFrame programs.
    """
    num_shards = num_shards or (assignment.agg(F.max("shard")).collect()[0][0] + 1)
    nprobes_values = list(nprobes_values or range(1, num_shards + 1))
    ef_list = sorted(set(int(e) for e in (ef_values or EF_SWEEP))) if in_shard == "ivf" else [0]
    nq = queries.count()
    with checkpoints() as cp:
        # the routes relations of the configs pass to this scope, which
        # releases them once the grid is computed
        configs = iterate_routing_configs(
            points, assignment, queries, num_shards, budgets, num_voting_list,
            policies=policies, metric=metric, seed=seed,
        )
        routes = cp.pin(reduce(DataFrame.unionByName, (
            c["routes"].where(F.col("probe_rank") <= max(nprobes_values))
            .select("query_id", "shard", "probe_rank", F.lit(i).alias("config"))
            for i, c in enumerate(configs)
        )), eager=False)
        # max-first-shard recall of every config in one aggregation, which
        # also materializes the routes pin
        hits = dict(R._first_shard_hits(gt, assignment, routes, ("config",)).collect())
        for i, c in enumerate(configs):
            c["first_shard_recall"] = hits.get(i, 0) / (nq * k)
        # ONE timed search over the distinct (query, shard) pairs of every
        # config (≙ RunInShardSearches once, route_search_combination.cpp:
        # 121-226); the grid joins it back to each config's probe ranks
        pairs = routes.groupBy("query_id", "shard").agg(F.min("probe_rank").alias("probe_rank"))
        sharded = cp.pin(S.shard_points(points, assignment), eager=False)
        searches = cp.pin(SS.run_in_shard_searches(
            sharded, queries, pairs, k=k, metric=metric, ef_values=ef_list, seed=seed,
        ), eager=False)
        grid = SS.recall_qps_grid(searches, routes, gt, k, nq, nprobes_values, range(len(configs)), ef_list)
    # rows in config order, then ef, then nprobes
    cols = ("algorithm", "budget", "num_voting", "first_shard_recall")
    pdf = pd.DataFrame([{c: configs[i][c] for c in cols} for i in grid["config"]]).join(grid.drop(columns="config"))
    # global Pareto across ALL configs (reference keeps the non-dominated set)
    pdf["pareto"] = SS.pareto_flags(pdf)
    return pdf
