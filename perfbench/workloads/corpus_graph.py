"""``corpus_graph``: the write path and the link graph where compute
dominates.

Each pass runs the batch part — ``generate_repos`` (10% duplicate contents)
→ ``repos_to_points`` → ``build_knn_graph`` + ``symmetrize`` → connected
components — and then lands one micro-batch for ``ingest_stream`` in a copy
of the pristine sink that set-up seeded (the copy is not timed). The micro-batch files land directly
in the stream's input directory: the file source does not descend into
subdirectories.

PageRank, triangle count and ``graph_partition`` are left out: the first two
to keep a run inside the benchmark's time budget, the last because on
corpus graphs of a few thousand vertices its coarsening spends minutes in
Catalyst plan statistics (see perfbench/NOTES.md).
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from gp_ann_spark.checkpoint import release_local_checkpoint
from gp_ann_spark.corpus import generate_repos, repos_to_points
from gp_ann_spark.operators import graph as G
from gp_ann_spark.operators import knn as KNN
from gp_ann_spark.operators import knn_approx as KA
from gp_ann_spark.streaming import ingest_stream
from perfbench.workloads.base import Workload

K = 10
SIZES = {  # batch-part rows; rows per landed file (two seed the sink, one is the micro-batch)
    False: dict(rows=1500, file_rows=200),
    True: dict(rows=400, file_rows=40),
}


def edge_set(rows) -> set:
    return {(r["src"], r["dst"], round(r["weight"], 9)) for r in rows}


def edge_set_diff(expected: set, got: set) -> list[str]:
    missing, extra = expected - got, got - expected
    if not missing and not extra:
        return []
    return [f"{len(missing)} edges missing, {len(extra)} extra (of {len(expected)})"]


class CorpusGraph(Workload):
    setup_reps = 1
    op_label = "one pass (batch part + one ingest_stream micro-batch)"
    items_label = "repos rows (batch part + micro-batch)"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.size = SIZES[self.toy]
        self.root = os.path.join(self.run_dir, "corpus")
        self.frames: list = []

    def setup(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        sz, spark = self.size, self.spark
        # one generated table (its own seed, so it shares no contents with
        # the batch part) written as three equal files, one per range
        # partition in id order: two seed the sink, the third is the
        # micro-batch. Its ~10% duplicate rows reuse the content of earlier
        # ids, so the micro-batch also exercises dedup against the sink.
        staging = os.path.join(self.root, "staging")
        generate_repos(spark, 3 * sz["file_rows"], seed=self.seed + 1, n_parts=3).write.parquet(staging)
        files = sorted(glob.glob(os.path.join(staging, "part-*.parquet")))
        if len(files) != 3:
            raise RuntimeError(f"expected 3 staged files, got {len(files)}")
        land = os.path.join(self.root, "seed-input")
        os.makedirs(land)
        for i, f in enumerate(files[:2]):
            shutil.copy(f, os.path.join(land, f"seed{i}.parquet"))
        self.micro_batch = files[2]
        self.landed_mb = os.path.getsize(self.micro_batch) / 1e6
        self.pristine = os.path.join(self.root, "pristine")
        os.makedirs(self.pristine)
        with self.tracer.span("streaming", "ingest_stream seed"):
            ingest_stream(
                spark, land, os.path.join(self.pristine, "points"), os.path.join(self.pristine, "edges"),
                os.path.join(self.root, "seed-ckpt"), k=K,
            )

    def run_pass(self, pass_id: str, tracer) -> None:
        for df in self.frames:
            release_local_checkpoint(df)
        self.frames = []
        sz, spark, o = self.size, self.spark, self.outcome
        o.attempted += 1
        try:
            with tracer.span(None, "pass", pass_id=pass_id):
                t0 = time.time()
                repos = generate_repos(spark, sz["rows"], seed=self.seed)
                with tracer.span("corpus", "generate_repos+repos_to_points"):
                    points = repos_to_points(repos).localCheckpoint(eager=True)
                n = points.count()
                with tracer.span("knn_approx", "build_knn_graph"):
                    approx = KA.build_knn_graph(
                        points, k=K, max_cluster_size=500, top_level_leaders=max(8, n // 250), repetitions=3
                    ).localCheckpoint(eager=True)
                with tracer.span("knn", "symmetrize"):
                    edges = KNN.symmetrize(approx).localCheckpoint(eager=True)
                with tracer.span("graph", "connected_components"):
                    G.connected_components(edges).count()
                batch_wall = time.time() - t0
                self.frames = [points, approx, edges]
                self.n_points = n
                # incremental ingest into a fresh copy of the pristine sink
                sink = os.path.join(self.root, f"sink-{pass_id}")
                shutil.rmtree(os.path.join(self.root, f"sink-{int(pass_id) - 1}"), ignore_errors=True)
                shutil.copytree(self.pristine, sink)
                land, ckpt = os.path.join(sink, "input"), os.path.join(sink, "ckpt")
                os.makedirs(land)
                shutil.copy(self.micro_batch, os.path.join(land, "mb.parquet"))
                t1 = time.time()
                with tracer.span("streaming", "ingest_stream"):
                    ingest_stream(spark, land, os.path.join(sink, "points"), os.path.join(sink, "edges"), ckpt, k=K)
                ingest_wall = time.time() - t1
        except Exception as e:
            o.failed += 1
            o.gates.append((f"pass {pass_id}", False, repr(e)))
            return
        self.sink = sink
        # one op = the batch part plus the micro-batch; the sink copy between
        # them is not timed
        o.op_samples.append(batch_wall + ingest_wall)
        o.items += sz["rows"] + sz["file_rows"]
        o.items_busy_s += batch_wall + ingest_wall
        o.pass_ids.append(pass_id)

    def finish(self, tracer) -> None:
        """Untimed, once per run: the streaming edge sink must equal the
        exact k-NN edges over every sink point, and the recall@10 of the
        approximate link graph is measured against exact edges."""
        o, spark = self.outcome, self.spark
        if not o.pass_ids:
            return
        sink_points = spark.read.parquet(os.path.join(self.sink, "points")).select("id", "vec")
        self.sink_edges = edge_set(spark.read.parquet(os.path.join(self.sink, "edges")).select("src", "dst", "weight").collect())
        self.rebuilt = edge_set(KNN.knn_edges(sink_points, k=K).collect())
        o.gate("streaming edge sink = knn_edges over all sink points", edge_set_diff(self.rebuilt, self.sink_edges))
        points, approx, _ = self.frames
        o.recall = KA.graph_recall(approx, KNN.knn_edges(points, k=K))

    def ratios(self, tracer) -> dict[str, float]:
        written = tracer.output_mb("streaming", self.outcome.pass_ids)
        landed = self.landed_mb * len(self.outcome.pass_ids)
        return {
            "corpus.unique_ratio": self.n_points / self.size["rows"],
            "knn_approx.edge_recall": self.outcome.recall,
            "streaming.write_amplification": written / landed,
        }

    def corrupt_check(self) -> bool:
        bad = set(self.sink_edges)
        src, dst, w = next(iter(bad))
        bad.discard((src, dst, w))
        bad.add((src, dst, round(w * 1.5 + 1.0, 9)))
        return bool(edge_set_diff(self.rebuilt, bad)) and not edge_set_diff(self.rebuilt, self.sink_edges)
