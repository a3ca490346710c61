"""CLI parity with the reference's binaries (CMakeLists.txt:26-33): a user
of the reference can run the same commands against this engine.

    python tools/cli.py partition <points> <output> <k> <method> (default|strong) [overlap]
        methods (partition.cpp:64-134): Random | GP | Pyramid | KMeans |
        BalancedKMeans | FlatKMeans | RKM | OurPyramid | OGP | OGPS | OKM |
        ORKM | OBKM — covers get a `.clusters` file, partitions a METIS file;
        both also land as parquet next to the text artifact.
    python tools/cli.py query-attribution <points> <queries> <gt-file> <k> <partition-file> <output> <shards>
        (run_query_attribution.cpp:22-90): compute-or-validate GT, routing
        config sweep, timed in-shard searches, recall/QPS Pareto parquet.
    python tools/cli.py oracle-recall <points> <queries> <k> <partition-file>
        (oracle_recall.cpp): recall-vs-probes under the per-query oracle
        probe order.
    python tools/cli.py graph-quality-bench <points> <k>
        (graph_quality_benchmark.cpp:53-66): approx-vs-exact graph recall.
    python tools/cli.py small-scale-queries <points> <queries> <gt> <k> <partition> <method> <out.csv>
        (small_scale_queries.cpp:25-189): the single-machine serving
        experiment — KMTR + HNSW-style routing × exact/sublinear in-shard
        kernels × nprobes, CSV in the reference's column layout; without a
        partition, a global sublinear-index ef sweep.
    python tools/cli.py analyze-approximation-losses <points> <queries> <gt> <k> <partition> <method> <out.csv> [budget]
        (analyze_approximation_losses.cpp:159-237): recall-vs-probes for
        the four routing arms (single center / full data / kRt sample /
        uniform sample) in the reference's CSV layout.
    python tools/cli.py distributed-bench <points> <queries> <gt> <k> <partition> <router.parquet>
        (distributed_bench.cpp:13-62): end-to-end distributed serving —
        sampled-router top-2 probes (num_voting 250), in-shard search at
        ef 250, merged top-k; prints "End-to-end time <s>" + recall JSON.
    python tools/cli.py convert <in.fbin|in.parquet> <out.parquet|out.fbin>
        (convert.cpp): point-format conversion + duplicate diagnostic for
        `.clusters` inputs.

Points/queries load from the reference's `.fbin/.u8bin/.i8bin` or parquet.
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from gp_ann_spark import io as IO  # noqa: E402
from gp_ann_spark.eval import recall as R  # noqa: E402
from gp_ann_spark.operators import hierarchical as H  # noqa: E402
from gp_ann_spark.operators import kmeans as KM  # noqa: E402
from gp_ann_spark.operators import knn as KNN  # noqa: E402
from gp_ann_spark.operators import knn_approx as KA  # noqa: E402
from gp_ann_spark.operators import partition as P  # noqa: E402
from gp_ann_spark.operators import routing as RT  # noqa: E402
from gp_ann_spark.operators import sweep as SW  # noqa: E402

EPS = 0.05  # the reference's fixed epsilon (partition.cpp:88)


def _metric() -> str:
    """The distance metric, ≙ the reference's compile-time choice of the
    release_l2 / release_mips build folder (experiments.py:52-55): selected
    by the GP_ANN_METRIC env var (l2 | mips), read per call so one process
    can drive datasets with different metrics."""
    m = os.environ.get("GP_ANN_METRIC", "l2").lower()
    if m not in ("l2", "mips"):
        raise SystemExit(f"GP_ANN_METRIC must be l2 or mips, got {m!r}")
    return m


def _load_points(spark, path):
    if path.endswith(".parquet") or os.path.isdir(path):
        df = spark.read.parquet(path)
        cols = set(df.columns)
        if {"id", "vec"} <= cols:
            return df.select("id", "vec")
        return df.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    fmt = path.rsplit(".", 1)[-1]
    return IO.read_points_bin(spark, path, fmt=fmt)


def _load_or_build_gt(spark, pts, qs, gt_file, k, metric):
    """Compute-or-read ground truth. ``read_ground_truth`` dispatches on the
    path: directory = parquet, file = the reference's ids-then-dists binary
    (points_io.cpp:136-160). Freshly computed GT is persisted to ``gt_file``
    in the format its extension names, so the next invocation reads it."""
    if os.path.exists(gt_file):
        return IO.read_ground_truth(spark, gt_file)
    gt = R.ground_truth(pts, qs, k=k, metric=metric)
    if gt_file.endswith(".bin"):
        IO.write_ground_truth_bin(gt, gt_file)
    else:
        IO.write_ground_truth(gt, gt_file)
    return gt


def _knn_edges_auto(pts, k=10, strong=False):
    """GP's edge table: approx builder (the reference's default graph source,
    partitioning.cpp:251-264). ``strong`` bumps the builder to FANOUT=5 /
    REPETITIONS=5 (≙ partitioning.cpp:253-256, o_partitioning.cpp:60-63)."""
    n = pts.count()
    return KNN.symmetrize(
        KA.build_knn_graph(pts, k=k, metric=_metric(),
                           repetitions=5 if strong else 3,
                           fanout=5 if strong else 3,
                           max_cluster_size=min(5000, max(200, n // 4)),
                           top_level_leaders=min(950, max(8, n // 100)))
    )


def cmd_partition(spark, args):
    points_path, output, k, method = args[0], args[1], int(args[2]), args[3]
    strong = len(args) > 4 and args[4] == "strong"
    overlap = float(args[5]) if len(args) > 5 else 0.0
    part_file = f"{output}.k={k}.{method}" + (f".o={args[5]}" if overlap else "")
    pts = _load_points(spark, points_path).cache()
    n = pts.count()
    cap = P.max_cluster_size(n, k, EPS)
    cover = None
    if method == "GP" and overlap != 0.0:
        method = "OGP"
    if method == "Random":
        asn = P.random_partition(pts, k)
    elif method == "GP":
        asn = P.graph_partition(_knn_edges_auto(pts, strong=strong), k, eps=EPS)
    elif method == "Pyramid":
        asn, _ = H.pyramid_partition(pts, k, eps=EPS, metric=_metric())
    elif method in ("KMeans", "RKM"):
        asn = P.kmeans_partition(pts, k, eps=EPS, metric=_metric())
    elif method == "BalancedKMeans":
        _, asn = KM.balanced_kmeans_bkm(pts, k, cap, metric=_metric())
    elif method == "FlatKMeans":
        _, asn = KM.lloyd(pts, k, metric=_metric())
    elif method == "OurPyramid":
        asn, _ = H.our_pyramid_partition(pts, k, eps=EPS, metric=_metric())
    elif method == "OGP":
        edges = _knn_edges_auto(pts, strong=strong).localCheckpoint(eager=True)
        k_adj = -(-int((1 + overlap) * n) // cap)  # inflated cluster count (:56)
        base = P.graph_partition(edges, k_adj, eps=EPS)
        cover = P.overlapping_partition(edges, base, overlap=overlap, num_shards=k_adj)
    elif method in ("OKM", "ORKM", "OGPS", "OBKM"):
        if method == "OKM":
            # deliberately PLAIN k, not the inflated count its siblings use:
            # "leave the same num clusters, since k-means will use more than
            # requested anyways" (partition.cpp:121-122)
            base = P.kmeans_partition(pts, k, eps=EPS, metric=_metric())
        elif method == "ORKM":
            # ceil(k*(1+o)) like the reference's std::ceil (partition.cpp:106)
            base = P.kmeans_partition(pts, math.ceil(k * (1 + overlap)), eps=EPS, metric=_metric())
        elif method == "OBKM":
            base = KM.balanced_kmeans_bkm(pts, math.ceil(k * (1 + overlap)), cap, metric=_metric())[1]
        else:  # OGPS: total assignments (n + overlap·n) / max cluster size (:115-118)
            k_adj = -(-int(n + overlap * n) // cap)
            base = P.graph_partition(_knn_edges_auto(pts, strong=strong), k_adj, eps=EPS)
        cents = KM.shard_centroids(pts, base)
        import numpy as np

        cpd = cents.orderBy("shard").toPandas()
        cmat = np.stack(cpd["vec"].to_numpy())
        # cap derives from the ORIGINAL k, not the inflated base shard count
        # (partition.cpp keeps k "so that it chooses the correct max cluster size")
        cover = P.overlapping_kmeans_partition(
            pts, base, cmat, overlap=overlap, eps=EPS, requested_num_clusters=k,
            metric=_metric(),
        )
    else:
        raise SystemExit(f"unknown method {method}")
    if cover is not None:
        IO.write_clusters(cover, part_file + ".clusters")
        IO.write_assignment(cover, part_file + ".parquet")
        sizes = cover.groupBy("shard").agg(F.count(F.lit(1)).alias("c"))
        mx = sizes.agg(F.max("c")).collect()[0][0]
        print(json.dumps({"method": method, "cover_rows": cover.count(), "max_shard": int(mx)}))
    else:
        IO.write_metis_partition(asn, part_file)
        IO.write_assignment(asn, part_file + ".parquet")
        imb = P.imbalance(asn, k)
        print(json.dumps({"method": method, "imbalance": round(imb, 4), "n": n, "k": k}))


def cmd_query_attribution(spark, args):
    points_path, queries_path, gt_file, k, part_file, output, shards = (
        args[0], args[1], args[2], int(args[3]), args[4], args[5], int(args[6]),
    )
    pts = _load_points(spark, points_path).cache()
    qs = _load_points(spark, queries_path).select(F.col("id").alias("query_id"), "vec").cache()
    preexisting = os.path.exists(gt_file)
    gt = _load_or_build_gt(spark, pts, qs, gt_file, k, _metric())
    if preexisting:
        # externally supplied GT gets the eps sweep + repair before use
        gt, _, report = R.validate_ground_truth(gt, pts, qs, k, metric=_metric())
        print("gt validation:", json.dumps({str(k_): v for k_, v in report.items()}, default=str))
    gt = gt.localCheckpoint(eager=True)
    cover = IO.read_clusters(spark, part_file) if part_file.endswith(".clusters") else IO.read_assignment(spark, part_file)
    pdf = SW.routing_sweep_pareto(pts, cover, qs, gt, k=k, num_shards=shards, metric=_metric())
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(output)
    print(pdf[pdf["pareto"]].to_string(index=False))


def cmd_oracle_recall(spark, args):
    points_path, queries_path, k, part_file = args[0], args[1], int(args[2]), args[3]
    pts = _load_points(spark, points_path).cache()
    qs = _load_points(spark, queries_path).select(F.col("id").alias("query_id"), "vec").cache()
    gt = R.ground_truth(pts, qs, k=k, metric=_metric()).localCheckpoint(eager=True)
    cover = IO.read_clusters(spark, part_file) if part_file.endswith(".clusters") else IO.read_assignment(spark, part_file)
    routes = R.oracle_probe_order(gt, cover)
    curve = R.recall_vs_probes(gt, cover, routes, k, qs.count()).orderBy("nprobes").collect()
    for row in curve:
        print(f"nprobes={row['nprobes']} oracle_recall={row['recall']:.4f}")


def cmd_graph_quality_bench(spark, args):
    points_path, k = args[0], int(args[1])
    pts = _load_points(spark, points_path).cache()
    approx = KA.build_knn_graph(pts, k=k, metric=_metric())
    exact = KNN.knn_edges(pts, k=k, metric=_metric())
    print(json.dumps({"graph_recall": round(KA.graph_recall(approx, exact), 4)}))


def cmd_small_scale_queries(spark, args):
    """≙ SmallScaleQueries (small_scale_queries.cpp:25-189) — the single-
    machine serving experiment:

        small-scale-queries <points> <queries> <gt-file> <k> <partition-file> <part-method> <out-file>

    Without a partition (file missing or method ``None``): a global
    sublinear-index ef sweep over the whole point set (≙ the direct-HNSW
    branch, :57-91 — here the in-task IVF kernel at the same ef grid).
    With a partition: KMTR routing (Train budget 50k / search budget ≙
    :97-117) and the HNSW-style router (broadcast top-60 scoring ≙ :123-126)
    × {BruteForce, sublinear} in-shard kernels (≙ InvertedIndex /
    InvertedIndexHNSW at ef_search=120, :132-137) × nprobes 1..num_shards →
    the reference's CSV columns (:143-144). Latencies come from executor-side
    task timers (time_s) via the QPS model; routing latency is the measured
    wall time of materializing the routes."""
    import time as _time

    from gp_ann_spark.operators import search as SRCH
    from gp_ann_spark.operators import shard_searches as SS

    points_path, queries_path, gt_file, k_s, part_file, part_method, out_file = args[:7]
    k = int(k_s)
    metric = _metric()
    pts = _load_points(spark, points_path).cache()
    qs = _load_points(spark, queries_path).select(F.col("id").alias("query_id"), "vec").cache()
    nq = qs.count()
    gt = _load_or_build_gt(spark, pts, qs, gt_file, k, metric).localCheckpoint(eager=True)

    if part_method == "None" or not (os.path.exists(part_file) or os.path.isdir(part_file)):
        # unpartitioned: global index, ef sweep (reference prints, no CSV)
        asn = pts.select("id", F.lit(0).cast("int").alias("shard"))
        routes = qs.select("query_id").withColumn("shard", F.lit(0)).withColumn(
            "probe_rank", F.lit(1)
        )
        sp = SRCH.shard_points(pts, asn).localCheckpoint(eager=True)
        sr = SS.run_in_shard_searches(
            sp, qs, routes, k=k, metric=metric,
            ef_values=(20, 50, 80, 100, 120, 150, 200, 300, 400), reps=1,
        ).localCheckpoint(eager=True)
        # one grouped aggregation covers the whole ef grid (2 jobs total,
        # not 2 per ef) — the same batching the engine's own sweep uses
        stats = {
            r["ef"]: (r["hits"] or 0, r["t"] or 0.0)
            for r in (
                sr.select("ef", "query_id", F.explode("neighbors").alias("neighbor_id"))
                .join(gt.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi")
                .groupBy("ef")
                .agg(F.count(F.lit(1)).alias("hits"))
                .join(sr.groupBy("ef").agg(F.sum("time_s").alias("t")), "ef", "full")
                .collect()
            )
        }
        for ef in (20, 50, 80, 100, 120, 150, 200, 300, 400):
            hits, t = stats.get(ef, (0, 0.0))
            print(
                f"global query with ef = {ef} took {t:.4f} seconds. "
                f"recall = {hits / (nq * k):.4f}. avg latency = {1000.0 * t / nq:.4f} ms."
            )
        return

    cover = IO.read_clusters(spark, part_file) if part_file.endswith(".clusters") else IO.read_assignment(spark, part_file)
    num_shards = cover.agg(F.max("shard")).collect()[0][0] + 1
    sp = SRCH.shard_points(pts, cover).localCheckpoint(eager=True)
    rp = RT.train_kmeans_tree(pts, cover, sample_per_shard=50_000).localCheckpoint(eager=True)

    def timed_routes(fn):
        t0 = _time.perf_counter()
        r = fn().localCheckpoint(eager=True)
        return r, _time.perf_counter() - t0

    routers = [
        # ≙ KMTR FrequencyQuery with search budget (:115) — voting over the
        # tree's routing points
        ("KMTR", *timed_routes(lambda: RT.kmeans_tree_router(qs, rp, num_voting=500, metric=metric))),
        # ≙ hnsw_router.Query(q, 60).RoutingQuery() (:125) — min-dist order
        # over the top-60 routing points
        ("HNSW", *timed_routes(lambda: RT.kmeans_tree_router(qs, rp, num_voting=60, metric=metric, policy="min_dist"))),
    ]
    # ONE timed search (BruteForce ≙ ef 0, HNSW ≙ ef 120) over the distinct
    # (query, shard) pairs of both routers, combined per router in one grid
    routes = routers[0][1].withColumn("config", F.lit(0)).unionByName(routers[1][1].withColumn("config", F.lit(1)))
    pairs = routes.groupBy("query_id", "shard").agg(F.min("probe_rank").alias("probe_rank"))
    sr = SS.run_in_shard_searches(sp, qs, pairs, k=k, metric=metric, ef_values=(0, 120), reps=1).localCheckpoint(eager=True)
    grid = SS.recall_qps_grid(sr, routes, gt, k, nq, range(1, num_shards + 1), range(len(routers)), (0, 120))
    with open(out_file, "w") as out:
        out.write("partitioning,routing,shard query,probes,latency,routing latency, query latency,recall\n")
        for _, g in grid.iterrows():
            desc, _, routing_time = routers[int(g["config"])]
            shard_query = "BruteForce" if g["ef"] == 0 else "HNSW"
            qlat = 1.0 / g["qps"] if g["qps"] > 0 else float("inf")
            lat = routing_time / nq + qlat
            out.write(
                f"{part_method},{desc},{shard_query},{int(g['nprobes'])},"
                f"{lat},{routing_time / nq},{qlat},{g['recall']}\n"
            )
            print(
                f"router = {desc} query = {shard_query} nprobes = {int(g['nprobes'])} "
                f"recall = {g['recall']:.4f} avg latency = {1000.0 * lat:.4f} ms"
            )


def cmd_analyze_approximation_losses(spark, args):
    """≙ AnalyzeApproximationLosses (analyze_approximation_losses.cpp:
    159-237): the routing-loss decomposition — recall-vs-probes curves for
    the four routing arms over one partition, in the reference's CSV layout
    ``partitioning,num probes,recall,type``:

        analyze-approximation-losses <points> <queries> <gt> <k> <partition> <method> <out.csv> [budget]

    Arms: ``single center`` (RouteUsingSingleCenter :95-142, the active
    path), ``full data`` (FullDatasetRouting :58-92 — probe order from the
    ground truth's own per-shard min distances), ``kRt sample``
    (KMTR-extracted routing points + brute-force min-dist routing
    :205-220), ``uniform sample`` (seed-420 sample :223-237). The
    reference's latter three arms sit behind an early ``return 0``
    (dead code in the shipped binary); they are the analysis, so this
    command emits all four. ``budget`` defaults to the reference's 10M
    routing-point budget capped at n (options.budget :207)."""
    points_path, queries_path, gt_file, k_s, part_file, part_method, out_file = args[:7]
    budget = int(args[7]) if len(args) > 7 else 10_000_000
    k = int(k_s)
    metric = _metric()
    pts = _load_points(spark, points_path).cache()
    n = pts.count()
    budget = min(budget, n)
    qs = _load_points(spark, queries_path).select(F.col("id").alias("query_id"), "vec").localCheckpoint(eager=True)
    nq = qs.count()
    gt = _load_or_build_gt(spark, pts, qs, gt_file, k, metric).localCheckpoint(eager=True)
    cover = IO.read_clusters(spark, part_file) if part_file.endswith(".clusters") else IO.read_assignment(spark, part_file)
    cover = cover.localCheckpoint(eager=True)
    num_shards = cover.agg(F.max("shard")).collect()[0][0] + 1

    rp_tree = RT.train_kmeans_tree(pts, cover, sample_per_shard=50_000).localCheckpoint(eager=True)
    arms = [
        ("single center", lambda: RT.centroid_router(qs, pts, cover, metric=metric)),
        ("full data", lambda: R.oracle_probe_order(gt, cover)),
        ("kRt sample", lambda: RT.kmeans_tree_router(
            qs, rp_tree, num_voting=None, metric=metric, policy="min_dist")),
        ("uniform sample", lambda: RT.uniform_sample_router(
            qs, pts, cover, budget=budget, metric=metric, policy="min_dist")),
    ]
    with open(out_file, "w") as out:
        out.write("partitioning,num probes,recall,type\n")
        for arm, mk in arms:
            routes = mk().localCheckpoint(eager=True)
            curve = {
                r["nprobes"]: r["recall"]
                for r in R.recall_vs_probes(gt, cover, routes, k, nq).collect()
            }
            last = 0.0
            for j in range(1, num_shards + 1):
                last = curve.get(j, last)  # flat once every hit is collected
                out.write(f"{part_method},{j},{last},{arm}\n")
                print(f"{part_method},{j},{last},{arm}")


def cmd_distributed_bench(spark, args):
    """≙ DistributedBench (distributed_bench.cpp:13-62 over
    distributed_query_benchmark.h): the end-to-end distributed serving
    benchmark — load partition, build the per-shard index, route every
    query to its top-2 shards via sampled routing points (num_voting 250,
    num_probes 2, :34-36), search in-shard (ef_search 250, defs.h:55),
    merge, and report the end-to-end wall time plus recall@k.

        distributed-bench <points> <queries> <gt-file> <k> <partition-file> <router-file>

    The reference spreads shards over MPI ranks and queries over hosts; the
    Spark form is route → cogrouped probe → merge, where every (shard,
    query-block) task is a rank's work item. ``router-file`` is the routing
    point table (shard, vec) as parquet — read if present, else built as
    the seed-420 uniform sample (≙ the sampled HNSW router the reference
    loads from its router file) and written there, like this CLI's
    compute-or-read ground truth."""
    import time as _time

    from gp_ann_spark.operators import search as SRCH

    points_path, queries_path, gt_file, k_s, part_file, router_file = args[:6]
    k = int(k_s)
    metric = _metric()
    pts = _load_points(spark, points_path).cache()
    n = pts.count()
    qs = _load_points(spark, queries_path).select(F.col("id").alias("query_id"), "vec").localCheckpoint(eager=True)
    nq = qs.count()
    gt = _load_or_build_gt(spark, pts, qs, gt_file, k, metric).localCheckpoint(eager=True)
    cover = IO.read_clusters(spark, part_file) if part_file.endswith(".clusters") else IO.read_assignment(spark, part_file)
    cover = cover.localCheckpoint(eager=True)
    if os.path.isdir(router_file):
        rp = spark.read.parquet(router_file)
    else:
        budget = min(n, max(1000, n // 10))
        rp = RT.uniform_routing_table(pts, cover, budget)
        rp.write.mode("overwrite").parquet(router_file)
        rp = spark.read.parquet(router_file)
    # index build happens inside the probe tasks; materialize the shard
    # tables up front like BuildInShardIndex so the timed section is serving
    sp = SRCH.shard_points(pts, cover).localCheckpoint(eager=True)

    t0 = _time.perf_counter()
    routes = (
        RT.probe_order(
            RT.score_routing_points(qs, rp, num_voting=250, metric=metric),
            policy="min_dist",
        )
        .where(F.col("probe_rank") <= 2)  # num_probes = 2 (:36)
        .localCheckpoint(eager=True)
    )
    res = SRCH.merge_results(
        SRCH.probe_shards(sp, qs, routes, k=k, in_shard="ivf", ef=250), k=k
    ).localCheckpoint(eager=True)
    elapsed = _time.perf_counter() - t0

    hits = res.select("query_id", "neighbor_id").join(
        gt.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi"
    ).count()
    recall = hits / (nq * k)
    print(f"End-to-end time {elapsed:.4f}")
    print(json.dumps({"recall": round(recall, 4), "n_queries": nq, "k": k,
                      "num_probes": 2, "elapsed_s": round(elapsed, 4)}))


def cmd_convert(spark, args):
    src, dst = args[0], args[1]
    if src.endswith(".clusters"):
        cover = IO.read_clusters(spark, src)
        P.duplicates_in_clusters(cover).orderBy("shard").show()
        return
    pts = _load_points(spark, src)
    if dst.endswith(".parquet"):
        IO.write_points(pts, dst)
    else:
        IO.write_points_bin(pts, dst, fmt=dst.rsplit(".", 1)[-1])
    print(json.dumps({"converted": pts.count()}))


COMMANDS = {
    "partition": cmd_partition,
    "query-attribution": cmd_query_attribution,
    "oracle-recall": cmd_oracle_recall,
    "graph-quality-bench": cmd_graph_quality_bench,
    "small-scale-queries": cmd_small_scale_queries,
    "analyze-approximation-losses": cmd_analyze_approximation_losses,
    "distributed-bench": cmd_distributed_bench,
    "convert": cmd_convert,
}


def main(argv=None, spark=None):
    argv = argv if argv is not None else sys.argv[1:]
    if not argv or argv[0] not in COMMANDS:
        print(__doc__)
        return 1
    own_session = spark is None
    if own_session:
        from gp_ann_spark.session import get_spark

        spark = get_spark("gp_ann_cli", master=os.environ.get("SPARK_MASTER", "local[8]"))
    try:
        COMMANDS[argv[0]](spark, argv[1:])
    finally:
        if own_session:
            spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
