"""``pipeline_sf0.1``: build → partition → route → serve → sweep on the
bundled sf0.1 fixture (2,000 points, 5,000 docs), in one pass.

The pass runs exact k-NN edges, ``graph_partition`` into 16 shards, exact
ground truth, centroid routing plus the recall curve, one served batch of
1,000 queries (``probe_shards(in_shard="ivf", nprobes=4)`` →
``merge_results`` → collect), ``routing_sweep_pareto``, MinHash LSH pairs
over 500 docs and text quality over all 5,000.
At this size each stage pays about one scheduler round trip per Spark job,
so cuts in job count and checkpoints show here and kernel changes mostly do
not. Stage calls and arguments are those of the repo's ``bench.py`` so the
timing-free outputs can be gated against the recorded baseline.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from gp_ann_spark.checkpoint import release_local_checkpoint
from gp_ann_spark.eval import recall as R
from gp_ann_spark.operators import dedup as DD
from gp_ann_spark.operators import knn as KNN
from gp_ann_spark.operators import partition as P
from gp_ann_spark.operators import routing as RT
from gp_ann_spark.operators import search as S
from gp_ann_spark.operators import sweep as SW
from gp_ann_spark.operators import text_analysis as TA
from perfbench.workloads.base import Workload, compare

FIXTURE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data", "sf0.1")
K = 10
NUM_SHARDS = 16
NPROBES = 4
EPS = 1e-9
DEDUP_DOCS = 500  # MinHash LSH runs on the first 500 of the 5,000 docs
# timing-free outputs of the pass on this fixture. The first seven are the
# headline baseline (BENCH_r06 and the local[4] re-anchor agree bit for
# bit); served_recall was recorded when this benchmark was written.
# pareto_points and simulated QPS are left out: they depend on thread
# scheduling.
BASELINE = {
    "imbalance": 1.048,
    "recall@10_probes1": 0.1797,
    "recall@10_probes2": 0.2943,
    "recall@10_probes3": 0.3894,
    "recall@10_probes4": 0.466,
    "pareto_best_recall": 0.478,
    "sweep_mean_recall": 0.2363,
    "served_recall": 0.466,
}


def edge_cut_ratio(edges, assignment) -> float:
    """Cut edges ÷ edges of an (undirected, both-direction) edge table."""
    a = assignment.select(F.col("id").alias("src"), F.col("shard").alias("s1"))
    b = assignment.select(F.col("id").alias("dst"), F.col("shard").alias("s2"))
    row = (
        edges.join(a, "src")
        .join(b, "dst")
        .agg(F.count(F.lit(1)).alias("n"), F.sum((F.col("s1") != F.col("s2")).cast("long")).alias("cut"))
        .collect()[0]
    )
    return float(row["cut"] or 0) / max(1, row["n"])


def served_recall(rows, kth: dict[int, float]) -> float:
    """Distance-based recall@k of collected (query_id, dist, rank) rows:
    returned neighbors within the query's exact k-th distance (ties count)."""
    hits = sum(1 for r in rows if r["rank"] <= K and r["dist"] <= kth[r["query_id"]] + EPS)
    return round(hits / (len(kth) * K), 4)


class Pipeline(Workload):
    setup_reps = 3
    op_label = "one pass (k-NN, partition, routing, served batch, sweep, text)"
    items_label = "fixture points"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.points = self.docs = None
        self.state: dict = {}
        # toy inputs have no recorded baseline: the first pass fixes it
        self.expected = None if self.toy else dict(BASELINE)

    def setup(self) -> None:
        for df in (self.points, self.docs):
            if df is not None:
                df.unpersist(blocking=True)
        spark, cpus = self.spark, self.cpus
        points = spark.read.parquet(os.path.join(FIXTURE, "embeddings.parquet")).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        docs = spark.read.parquet(os.path.join(FIXTURE, "documents.parquet"))
        if self.toy:
            points, docs = points.where(F.col("id") < 400), docs.where(F.col("doc_id") < 500)
        self.points = points.repartition(cpus).cache()
        self.n_points = self.points.count()
        self.docs = docs.repartition(cpus).cache()
        self.docs.count()
        # warm-up: JVM codegen and the Arrow Python worker pool
        spark.range(10_000_000).agg(F.sum("id")).collect()
        KNN.exact_knn(self.points, self.points.select(F.col("id").alias("query_id"), "vec").limit(64), k=5).count()

    def run_pass(self, pass_id: str, tracer) -> None:
        for df in self.state.values():
            release_local_checkpoint(df)
        st: dict = {}
        self.state = st
        points, docs, n = self.points, self.docs, self.n_points
        out: dict = {}
        o = self.outcome
        o.attempted += 1
        t0 = time.time()
        try:
            with tracer.span(None, "pass", pass_id=pass_id):
                with tracer.span("knn", "knn_edges+symmetrize"):
                    st["edges"] = KNN.symmetrize(KNN.knn_edges(points, k=K)).localCheckpoint(eager=True)
                with tracer.span("partition", "graph_partition"):
                    st["asn"] = P.graph_partition(
                        st["edges"], num_shards=NUM_SHARDS, coarse_target=256
                    ).localCheckpoint(eager=True)
                    out["imbalance"] = round(P.imbalance(st["asn"], NUM_SHARDS), 4)
                asn = st["asn"]
                with tracer.span("recall", "ground_truth"):
                    # a predicate, not limit(): limit() is partition-order dependent
                    st["qs"] = (
                        points.where(F.col("id") < min(1000, n))
                        .select(F.col("id").alias("query_id"), "vec")
                        .localCheckpoint(eager=True)
                    )
                    st["gt"] = R.ground_truth(points, st["qs"], k=K).localCheckpoint(eager=True)
                    kth = {r["query_id"]: r["threshold"] for r in R.distance_to_kth_neighbor(st["gt"], K).collect()}
                qs, gt, nq = st["qs"], st["gt"], len(kth)
                with tracer.span("routing", "centroid_router"):
                    st["routes"] = RT.centroid_router(qs, points, asn).localCheckpoint(eager=True)
                with tracer.span("recall", "recall_vs_probes"):
                    curve = R.recall_vs_probes(gt, asn, st["routes"], K, nq).orderBy("nprobes").collect()
                for row in curve[:4]:
                    out[f"recall@{K}_probes{row['nprobes']}"] = round(row["recall"], 4)
                with tracer.span("search", "shard_points"):
                    st["sharded"] = S.shard_points(points, asn).localCheckpoint(eager=True)
                with tracer.span("search", "probe_shards+merge_results"):
                    rows = S.merge_results(
                        S.probe_shards(st["sharded"], qs, st["routes"], k=K, nprobes=NPROBES, in_shard="ivf"), k=K
                    ).collect()
                out["served_recall"] = served_recall(rows, kth)
                with tracer.span("sweep", "routing_sweep_pareto"):
                    st["sweep_qs"] = qs.where(F.col("query_id") < min(200, n)).localCheckpoint(eager=True)
                    pareto = SW.routing_sweep_pareto(
                        points, asn, st["sweep_qs"], gt, k=K, num_shards=NUM_SHARDS,
                        budgets=(512,), num_voting_list=(80,), policies=("min_dist",),
                        nprobes_values=(1, 2, 4), in_shard="ivf", ef_values=(100, 300),
                    )
                out["pareto_best_recall"] = round(float(pareto["recall"].max()), 4)
                out["sweep_mean_recall"] = round(float(pareto["recall"].mean()), 4)
                with tracer.span("dedup", "minhash_band_pairs"):
                    DD.minhash_band_pairs(DD.minhash_signatures(docs.where(F.col("doc_id") < DEDUP_DOCS))).count()
                with tracer.span("text_analysis", "quality_features+language_id"):
                    TA.quality_features(docs).join(TA.language_id(docs), "doc_id").count()
        except Exception as e:  # a failed pass is counted, not fatal
            o.failed += 1
            o.gates.append((f"pass {pass_id}", False, repr(e)))
            return
        wall = time.time() - t0
        o.op_samples.append(wall)
        o.items += n
        o.items_busy_s += wall
        o.pass_ids.append(pass_id)
        o.recall = out[f"recall@{K}_probes4"]
        if self.expected is None:
            self.expected = dict(out)
        self.last_out = out
        o.gate(f"pass {pass_id} timing-free outputs = baseline", compare(self.expected, out))

    def ratios(self, tracer) -> dict[str, float]:
        st = self.state
        return {
            "partition.cut_ratio": edge_cut_ratio(st["edges"], st["asn"]),
            "routing.first_shard_recall": R.first_shard_recall(
                st["gt"], st["asn"], st["routes"], K, st["qs"].count()
            ),
        }

    def corrupt_check(self) -> bool:
        bad = dict(self.last_out)
        bad["recall@10_probes4"] = round(bad["recall@10_probes4"] + 1e-4, 4)
        return bool(compare(self.expected, bad)) and not compare(self.expected, self.last_out)
