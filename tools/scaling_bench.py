"""Two-parallelism scaling evidence (BASELINE.json north_rule).

No multi-node cluster exists in this sandbox, so the N → 4N-executor
criterion is evidenced by running identical jobs on identical inputs at
``local[N]`` and ``local[4N]`` (default N=2: this sandbox VM only delivers ~2.5x real CPU from 8->32 threads — see BENCH.md — so 2 vs 8 is the honest N-vs-4N pair; override with SCALING_LEVELS=8,32) and reporting throughput at both plus
scaling efficiency ``eff = T_8 / (4 × T_32)`` (target ≥ 0.8).

Workloads are sized so per-task compute dominates scheduling overhead —
the regime a real cluster operates in:

1. **featurize**: corpus → sha256 dedup → dense ids → hash-ngram
   featurizer over ~550k generated repo rows (600k raw): two shuffles (the
   dedup groupBy and the range shuffle of the ids) and one narrow Arrow
   pass, written to the ``noop`` sink so every row is featurized, rows/s;
2. **knn_queries**: broadcast top-k scoring of 4k queries against 120k
   points (BLAS-bound mapInPandas), queries/s;
3. **pagerank**: 8 supersteps over a ~6M-edge synthetic graph
   (join+agg shuffle-bound), edge-traversals/s;
4. **ann_probe**: sharded search with the sublinear in-shard IVF kernel
   (build + probe inside cogrouped applyInPandas, the serving path),
   queries/s;
5. **routing**: 2k queries scored against a 1M-point routing table through
   the DISTRIBUTED blocked cross-score (no broadcast/driver copy, ≤64 MB
   distance blocks, float32 scoring — the reference's big router-budget
   regime, routes.cpp:130), queries/s.

Usage:  python tools/scaling_bench.py            # run both levels + report
        python tools/scaling_bench.py --stage 8  # one level (subprocess)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_ROWS = 2_400_000
N_QUERIES = 8_000
N_KNN_POINTS = 600_000
N_EDGES_V = 4_000_000
PR_ITERS = 4
N_ROUTING = 1_000_000  # > MAX_BROADCAST_ROUTING_POINTS → the distributed
# blocked cross-score path (≙ the reference's 1M router budget, routes.cpp:130)
N_ROUTING_QUERIES = 2_000


def synthetic_points(spark, n, dim=64, seed=7):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: ((F.pmod(F.xxhash64("id", i, F.lit(seed)), F.lit(2000)) - 1000) / 1000.0).cast("float"),
        ).alias("vec"),
    )


REPS = 2


def run_stage(cpus: int) -> dict[str, float]:
    from pyspark.sql import functions as F

    from gp_ann_spark.corpus import generate_repos, repos_to_points
    from gp_ann_spark.operators import graph as G
    from gp_ann_spark.operators import knn as KNN
    from gp_ann_spark.operators import search as SRCH
    from gp_ann_spark.session import get_spark

    # FIXED partition count across levels (4×max level): with
    # shuffle_partitions=cpus the low level runs 2 huge spilling partitions
    # while the high level runs 8 small ones — per-task memory footprint
    # would differ between levels and pollute the efficiency number. Fixed
    # partitioning makes core count the only variable, exactly like keeping
    # the same dataset partitioning while growing a real cluster N → 4N.
    n_parts = 4 * max(LEVELS)
    spark = get_spark(f"scaling_{cpus}", master=f"local[{cpus}]", shuffle_partitions=n_parts)
    out: dict[str, float] = {"cpus": cpus}

    def timed_min(fn):
        """min over REPS — strips JVM warmup + machine noise."""
        best = float("inf")
        for _ in range(REPS):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        return best

    # warmup: JVM codegen + spawn the Python worker pool for Arrow UDFs
    spark.range(10_000_000).agg(F.sum("id")).collect()
    wpts = synthetic_points(spark, 5_000).repartition(cpus).cache()
    KNN.exact_knn(wpts, wpts.select(F.col("id").alias("query_id"), "vec").limit(100), k=5).count()
    wpts.unpersist()

    # 1. corpus featurization
    repos = generate_repos(spark, N_ROWS, n_parts=n_parts)
    n_pts = repos_to_points(repos).count()
    # a bare count lets the optimizer drop a featurizer it cannot see consumed
    out["featurize_sec"] = timed_min(lambda: repos_to_points(repos).write.format("noop").mode("overwrite").save())
    out["featurize_rows_per_s"] = N_ROWS / out["featurize_sec"]

    # 2. knn query throughput (broadcast top-k scoring)
    pts = synthetic_points(spark, N_KNN_POINTS).repartition(n_parts).cache()
    pts.count()
    qs = synthetic_points(spark, N_QUERIES, seed=99).select(F.col("id").alias("query_id"), "vec")
    out["knn_sec"] = timed_min(lambda: KNN.exact_knn(pts, qs, k=10).count())
    out["knn_queries_per_s"] = N_QUERIES / out["knn_sec"]

    # 3. pagerank supersteps on a synthetic power-law-ish graph
    edges = (
        spark.range(N_EDGES_V * 10)
        .select(
            (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(N_EDGES_V))).alias("src"),
            (F.pmod(F.xxhash64("id", F.lit(2)), F.pmod(F.xxhash64("id", F.lit(3)), F.lit(N_EDGES_V)) + 1)).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .repartition(n_parts)
        .cache()
    )
    n_edges = edges.count()
    out["pagerank_sec"] = timed_min(lambda: G.pagerank(edges, tol=0.0, max_iter=PR_ITERS).count())
    out["pagerank_edge_traversals_per_s"] = n_edges * PR_ITERS / out["pagerank_sec"]

    # 4. sharded ANN probe with the sublinear IVF kernel (serving path):
    # 16 shards, 2 probes per query — per-task index build + query, all
    # inside one cogrouped applyInPandas per shard
    asn = pts.select("id", F.pmod("id", F.lit(16)).cast("int").alias("shard"))
    qs2 = synthetic_points(spark, N_QUERIES, seed=123).select(F.col("id").alias("query_id"), "vec")
    # second probe = first + 1 + hash%15 (mod 16): always a DISTINCT shard,
    # so every query measures exactly 2 probes with no duplicate in-task work
    p1 = F.pmod(F.xxhash64("query_id", F.lit(1)), F.lit(16)).cast("int")
    p2 = F.pmod(p1 + 1 + F.pmod(F.xxhash64("query_id", F.lit(2)), F.lit(15)), F.lit(16)).cast("int")
    routes = (
        qs2.select("query_id", p1.alias("shard")).withColumn("probe_rank", F.lit(1))
        .unionByName(qs2.select("query_id", p2.alias("shard")).withColumn("probe_rank", F.lit(2)))
    )
    sp = SRCH.shard_points(pts, asn).cache()
    sp.count()
    out["ann_probe_sec"] = timed_min(
        lambda: SRCH.probe_shards(sp, qs2, routes, k=10, in_shard="ivf", ef=200).count()
    )
    out["ann_probe_queries_per_s"] = N_QUERIES / out["ann_probe_sec"]

    # 5. large-budget routing: 1M routing points × 2k queries through the
    # DISTRIBUTED blocked cross-score (no driver/broadcast copy of the
    # routing table, every distance block ≤64 MB, float32 scoring — the
    # configuration the reference's big router-budget sweep needs)
    from gp_ann_spark.operators import routing as RTG

    rp = (
        synthetic_points(spark, N_ROUTING, seed=31)
        .select(F.pmod("id", F.lit(16)).cast("int").alias("shard"), "vec")
        .repartition(n_parts)
        .cache()
    )
    rp.count()
    rq = synthetic_points(spark, N_ROUTING_QUERIES, seed=77).select(
        F.col("id").alias("query_id"), "vec"
    )
    out["routing_sec"] = timed_min(
        lambda: RTG.score_routing_points(
            rq, rp, num_voting=20, distributed=True, score_dtype="float32"
        ).count()
    )
    out["routing_queries_per_s"] = N_ROUTING_QUERIES / out["routing_sec"]
    out["n_points"] = n_pts
    out["n_edges"] = n_edges
    spark.stop()
    return out


LEVELS = tuple(int(x) for x in os.environ.get("SCALING_LEVELS", "2,8").split(","))


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--stage":
        print("RESULT " + json.dumps(run_stage(int(sys.argv[2]))))
        return
    if len(LEVELS) < 2 or len(set(LEVELS)) != len(LEVELS) or min(LEVELS) < 1:
        raise SystemExit(f"SCALING_LEVELS needs >= 2 distinct positive levels, got {LEVELS}")
    # efficiency is reported between the SMALLEST and LARGEST level; extra
    # intermediate levels just add rows to the report
    lo, hi = min(LEVELS), max(LEVELS)
    results = {}
    for cpus in LEVELS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--stage", str(cpus)],
            capture_output=True, text=True, timeout=3600, cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        line = next(l for l in proc.stdout.splitlines() if l.startswith("RESULT "))
        results[cpus] = json.loads(line[len("RESULT "):])
        # each stage is up to an hour; stream partial results to stderr so a
        # late-stage crash doesn't discard the finished measurements
        print(f"STAGE {cpus} " + json.dumps(results[cpus]), file=sys.stderr)
    factor = hi / lo
    report = {"levels": results, "efficiency": {}, "factor": factor}
    for metric in ("featurize_sec", "knn_sec", "pagerank_sec", "ann_probe_sec", "routing_sec"):
        t_lo, t_hi = results[lo][metric], results[hi][metric]
        report["efficiency"][metric.replace("_sec", "")] = round(t_lo / (factor * t_hi), 3)
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
