"""Optimization-round profiler (guide §1): runs the SAME queries as the
frozen ``bench.py`` but with per-phase timing, job descriptions, and
optional physical-plan capture for ``plans/r06/``.

Usage:
    python bench_extra.py                     # phase-timed run, one JSON line
    PLANS_DIR=plans/r06 PLANS_TAG=before python bench_extra.py

``bench.py`` stays frozen for measurement; this file exists so the numbers
in OPTIMIZATION_r06.md can cite per-phase evidence (guide §1.4 noop-sink
isolation is not needed here: every bench query already ends in a
count/collect/localCheckpoint action with no sink to subtract).
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gp_ann_spark.eval import recall as R
from gp_ann_spark.operators import dedup as DD
from gp_ann_spark.operators import graph as G
from gp_ann_spark.operators import knn as KNN
from gp_ann_spark.operators import knn_approx as KA
from gp_ann_spark.operators import partition as P
from gp_ann_spark.operators import routing as RT
from gp_ann_spark.operators import sweep as SW
from gp_ann_spark.operators import text_analysis as TA
from gp_ann_spark.session import get_spark

K = 10
NUM_SHARDS = 16

PLANS_DIR = os.environ.get("PLANS_DIR")
PLANS_TAG = os.environ.get("PLANS_TAG", "before")


def dump_plan(df, name: str, suffix: str = "") -> None:
    """Write df.explain('formatted') to plans/. Call BEFORE the action for
    the initial plan shape (Exchange count, join strategy, pushed filters);
    call again with suffix='_final' AFTER the action on the same Dataset to
    capture the AQE-final plan (isFinalPlan=true, AQEShuffleRead coalesced
    partition counts)."""
    if not PLANS_DIR:
        return
    os.makedirs(PLANS_DIR, exist_ok=True)
    with open(os.path.join(PLANS_DIR, f"{name}{suffix}_{PLANS_TAG}.txt"), "w") as f:
        f.write(df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("gp_ann_bench_extra", master=f"local[{cpus}]", shuffle_partitions=cpus)
    sc = spark.sparkContext

    points = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
        .repartition(cpus)
        .cache()
    )
    n_points = points.count()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(cpus).cache()
    docs.count()

    phases: dict[str, float] = {}

    def timed(name, fn):
        sc.setJobDescription(name)
        t0 = time.time()
        out = fn()
        phases[name] = round(time.time() - t0, 3)
        sc.setJobDescription(None)
        return out

    # warmup, same as bench.py
    spark.range(10_000_000).agg(F.sum("id")).collect()
    KNN.exact_knn(points, points.select(F.col("id").alias("query_id"), "vec").limit(64), k=5).count()

    # 1. exact edges
    edges_df = KNN.symmetrize(KNN.knn_edges(points, k=K))
    dump_plan(edges_df, "build_knn_edges_exact")
    edges = timed("exact_edges", lambda: edges_df.localCheckpoint(eager=True))
    dump_plan(edges_df, "build_knn_edges_exact", "_final")

    # 2. approx builder
    timed(
        "approx_edges",
        lambda: KA.build_knn_graph(
            points, k=K, max_cluster_size=500, top_level_leaders=max(8, n_points // 250), repetitions=3
        ).count(),
    )

    # 3-5. graph witnesses
    timed("pagerank", lambda: G.pagerank(edges, tol=0.0, max_iter=15).count())
    timed("cc", lambda: G.connected_components(edges).count())
    timed("triangle", lambda: G.triangle_count(edges).collect())

    # 6. graph partition, as one call (it picks the driver or Spark path)
    asn = timed(
        "graph_partition_total",
        lambda: P.graph_partition(edges, num_shards=NUM_SHARDS, coarse_target=256).localCheckpoint(eager=True),
    )
    imbalance = round(P.imbalance(asn, NUM_SHARDS), 4)

    # 7. route + recall curve, phase-split
    qs = (
        points.where(F.col("id") < min(1000, n_points))
        .select(F.col("id").alias("query_id"), "vec")
        .localCheckpoint(eager=True)
    )
    nq = qs.count()
    gt = timed("ground_truth", lambda: R.ground_truth(points, qs, k=K).localCheckpoint(eager=True))

    def curve_phases():
        cents = RT.shard_centroids(points, asn)
        scored = RT.score_routing_points(qs, cents, num_voting=None, metric="l2", distributed=False)
        routes_df = RT.probe_order(scored, policy="min_dist")
        dump_plan(routes_df, "route_recall_curve_routes")
        routes = timed("curve.routes", lambda: routes_df.localCheckpoint(eager=True))
        dump_plan(routes_df, "route_recall_curve_routes", "_final")
        curve_df = R.recall_vs_probes(gt, asn, routes, K, nq).orderBy("nprobes")
        dump_plan(curve_df, "route_recall_curve_eval")
        out = timed("curve.eval", lambda: curve_df.collect())
        dump_plan(curve_df, "route_recall_curve_eval", "_final")
        return out

    curve = timed("route_recall_curve_total", curve_phases)

    # 8. sweep, phase-split
    def sweep_phases():
        rp = RT.train_kmeans_tree(
            points, asn, branching=64, min_cluster_size=350, max_nodes_per_shard=max(1, 512 // NUM_SHARDS), seed=SW.SEED
        )
        dump_plan(rp, "sweep_train_kmeans_tree")
        timed("sweep.train_tree_only", lambda: rp.localCheckpoint(eager=True).count())
        dump_plan(rp, "sweep_train_kmeans_tree", "_final")
        sweep_qs = qs.where(F.col("query_id") < min(200, n_points)).localCheckpoint(eager=True)
        return timed(
            "sweep.full",
            lambda: SW.routing_sweep_pareto(
                points, asn, sweep_qs, gt, k=K, num_shards=NUM_SHARDS,
                budgets=(512,), num_voting_list=(80,), policies=("min_dist",),
                nprobes_values=(1, 2, 4), in_shard="ivf", ef_values=(100, 300),
            ),
        )

    pareto = timed("routing_sweep_total", sweep_phases)

    # 9-10. corpus stages
    mh_df = DD.minhash_band_pairs(DD.minhash_signatures(docs))
    dump_plan(mh_df, "minhash_lsh_pairs")
    timed("minhash", lambda: mh_df.count())
    dump_plan(mh_df, "minhash_lsh_pairs", "_final")
    tq_df = TA.quality_features(docs).join(TA.language_id(docs), "doc_id")
    dump_plan(tq_df, "text_quality_lang")
    timed("text", lambda: tq_df.count())
    dump_plan(tq_df, "text_quality_lang", "_final")

    print(
        json.dumps(
            {
                "metric": "gp_ann_phase_profile",
                "phases": phases,
                "imbalance": imbalance,
                "curve": [round(r["recall"], 4) for r in curve[:4]],
                "pareto_best_recall": round(float(pareto["recall"].max()), 4),
                "sweep_mean_recall": round(float(pareto["recall"].mean()), 4),
                "n_points": n_points,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
