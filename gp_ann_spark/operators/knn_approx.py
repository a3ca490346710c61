"""Approximate k-NN graph builder: recursive leader sketching.

Reference: ``ApproximateKNNGraphBuilder`` (``src/knn_graph.h:52-143``, params
:254-265): per repetition, sample leaders (950 at the top level, 0.5% capped
at 1500 below), assign every point to its ``fanout``=3 closest leaders
(duplicating points across buckets — that is what discovers cross-boundary
edges), recurse into buckets larger than ``max_cluster_size``=5000 up to
depth 14, brute-force each final bucket (``CrunchBucket`` :165-185), merge
per-bucket top-k lists across buckets and 3 repetitions with dedup
(:218-235).

Spark-first shape — an iterative DataFrame loop, no driver recursion over
data:

- state is ``(rep, id, vec, bucket)`` where ``bucket`` is a path-encoded id
  (parent_bucket * fanout_limit + leader_rank) — the recursion tree lives in
  a column, bounded by MAX_DEPTH like the reference; every stage is keyed
  on ``(rep, bucket)``, so ONE depth loop runs all repetitions, each an
  independent sketch seeded ``seed + rep``;
- leaders are a *deterministic seeded sample per bucket* (smallest
  xxhash64(id, seed + rep, depth) — partition-independent, ≙ the seeded
  std::sample at knn_graph.h:75);
- point→leader assignment is one cogrouped ``applyInPandas`` per bucket
  (blocked BLAS, top-``fanout`` per point);
- finished buckets flow straight into the per-bucket brute-force stage —
  only oversized buckets iterate again, and the loop stops when no
  repetition has one;
- candidates from all buckets and repetitions form one relation, then one
  ``merge_topk`` (groupBy + window) deduplicates — lock-free vs the
  reference's spinlocked merge.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gp_ann_spark.functions.distances import distance_matrix, topk
from gp_ann_spark.checkpoint import checkpoints
from gp_ann_spark.checkpoint import realias as _realias
from gp_ann_spark.operators.knn import merge_topk, symmetrize

# Reference hyperparameters (knn_graph.h:254-265)
TOP_LEVEL_LEADERS = 950
LEADER_FRACTION = 0.005
MAX_LEADERS = 1500
FANOUT = 3  # top level ONLY; recursion uses fanout=1 (knn_graph.h:133) —
# total duplication is 3×n per repetition, not 3^depth
MAX_CLUSTER_SIZE = 5000
MIN_CLUSTER_SIZE = 50
MAX_MERGED_CLUSTER_SIZE = 2500
MAX_DEPTH = 14
REPETITIONS = 3
SEED = 555


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over an int64/uint64 array (wrapping math)."""
    x = x.astype(np.uint64, copy=True)
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x.astype(np.int64)


def _assign_to_leaders(
    pts: DataFrame, leaders: DataFrame, fanout: int, metric: str,
) -> DataFrame:
    """Within each bucket, assign every point to its top-``fanout`` closest
    leaders; new bucket = splitmix64(old·φ + leader_rank + 1) — a HASH path
    encoding instead of positional (old·MAX_LEADERS + rank), so bucket ids
    never need a per-level global renumbering (the round-1 densify pass cost
    ~6 driver jobs per level per repetition). A 64-bit collision merges two
    buckets — harmless in an approximate builder: distances are exact inside
    the merged bucket and the oversize guard re-splits it.
    Cogrouped applyInPandas: one dense (m×d)@(L×d) BLAS per bucket
    (≙ ClosestLeaders defs.cpp:87-96 at bucket granularity)."""

    def assign(pts_pdf: pd.DataFrame, lead_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pts_pdf) == 0:
            return pd.DataFrame()  # Spark accepts a column-less empty result
        if len(lead_pdf) == 0:  # no leaders sampled (tiny bucket) — keep as-is
            return pts_pdf[["rep", "id", "bucket"]]
        X = np.stack(pts_pdf["vec"].to_numpy()).astype(np.float64)
        L = np.stack(lead_pdf["vec"].to_numpy()).astype(np.float64)
        ranks = lead_pdf["leader_rank"].to_numpy()
        # (distance, leader_rank) order: duplicate leader vectors are legal,
        # and the pick must not follow the shuffle's arrival order
        idx = topk(distance_matrix(X, L, metric), fanout, key=ranks)
        base = pts_pdf["bucket"].to_numpy().astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
        child = np.repeat(base, idx.shape[1]) + (ranks[idx.ravel()].astype(np.uint64) + np.uint64(1))
        return pd.DataFrame(
            {
                "rep": pts_pdf["rep"].iloc[0],
                "id": np.repeat(pts_pdf["id"].to_numpy(), idx.shape[1]),
                "bucket": _mix64(child),
            }
        )

    return pts.groupBy("rep", "bucket").cogroup(leaders.groupBy("rep", "bucket")).applyInPandas(
        assign, schema="rep int, id long, bucket long"
    )


def _bucket_bruteforce(bucketed: DataFrame, k: int, metric: str) -> DataFrame:
    """All-pairs k-NN inside each bucket (≙ CrunchBucket knn_graph.h:165-185):
    one applyInPandas per bucket, dense m×m BLAS, local top-k."""

    def crunch(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"src": [], "dst": [], "weight": []}).astype(
                {"src": "int64", "dst": "int64", "weight": "float64"}
            )
        X = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        ids = pdf["id"].to_numpy()
        d = distance_matrix(X, X, metric)
        # a point can occur twice in a merged bucket (fanout duplication) —
        # mask every equal-id pair, not just the diagonal
        d[ids[:, None] == ids[None, :]] = np.inf
        # merge_topk's (weight, dst) order, whatever row order the shuffle
        # delivered
        c = topk(d, k, key=ids)
        w = np.take_along_axis(d, c, axis=1).ravel()
        keep = np.isfinite(w)  # drop masked equal-id pairs
        r = np.repeat(np.arange(m), c.shape[1])[keep]
        return pd.DataFrame({"src": ids[r], "dst": ids[c.ravel()[keep]], "weight": w[keep]})

    return bucketed.groupBy("rep", "bucket").applyInPandas(crunch, schema="src long, dst long, weight double")


def _merge_small_buckets(
    pts: DataFrame, min_size: int = MIN_CLUSTER_SIZE, max_merged: int = MAX_MERGED_CLUSTER_SIZE,
) -> DataFrame:
    """Merge buckets smaller than ``min_size`` into batches ≤ ``max_merged``
    (≙ knn_graph.h:100-112 — avoids isolated nodes at the cost of a few long
    range candidate edges). The greedy packing needs a cumulative sum per
    repetition over the bucket-size table (O(n/min_size) rows at scale),
    done as range-partitioned local cumsums + driver-broadcast per-(partition,
    rep) offsets — no single-partition global window.
    """
    spark = pts.sparkSession
    with checkpoints() as cp:
        # non-eager: the limit(1).count() probe is the materializing action
        sizes = cp.pin(pts.groupBy("rep", "bucket").agg(F.count(F.lit(1)).alias("n")), eager=False)
        small = sizes.where(F.col("n") < min_size)
        if small.limit(1).count() == 0:
            return pts
        nparts = max(spark.sparkContext.defaultParallelism, 1)
        # one materialization (at the collect below) so the offsets pass and
        # the cumsum pass see the same (range-sampled) partition layout
        parted = cp.pin(
            small.repartitionByRange(nparts, "rep", "bucket")
            .sortWithinPartitions("rep", "bucket")
            .withColumn("_pid", F.spark_partition_id()),
            eager=False,
        )
        per_part = sorted(
            (int(r["_pid"]), int(r["rep"]), int(r["s"]))
            for r in parted.groupBy("_pid", "rep").agg(F.sum("n").alias("s")).collect()
        )
        offs, acc = [], {}
        for pid, rep, s_ in per_part:
            offs.append((pid, rep, acc.get(rep, 0)))
            acc[rep] = acc.get(rep, 0) + s_
        off_df = F.broadcast(spark.createDataFrame(offs, "_pid int, rep int, _off long"))
        w_local = Window.partitionBy("_pid", "rep").orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
        merged_map = cp.pin(
            parted.withColumn("_cum", F.sum("n").over(w_local))
            .join(off_df, ["_pid", "rep"])
            .withColumn("_merged", -(F.floor((F.col("_off") + F.col("_cum")) / max_merged) + 1))
            .select("rep", "bucket", "_merged")
        )
        return cp.keep(
            pts.join(F.broadcast(merged_map), ["rep", "bucket"], "left")
            .select("rep", "id", "vec", F.coalesce("_merged", F.col("bucket")).alias("bucket"))
        )


def _force_split_big_buckets(pts: DataFrame, max_cluster_size: int, seed: int) -> DataFrame:
    """Random-split any bucket still above ``max_cluster_size`` after the
    depth-capped recursion (≙ the near-duplicate base case
    knn_graph.h:120-131: such buckets are (near-)duplicate clusters that
    leader sampling cannot shrink; a seeded hash split bounds the
    brute-force cost at the price of a few split-crossing edges). Each
    repetition splits with its own seed, ``seed + rep``."""
    seed_col = (F.lit(seed) + F.col("rep")).cast("int")
    with checkpoints() as cp:
        # non-eager: the limit(1).count() probe is the materializing action
        sizes = cp.pin(pts.groupBy("rep", "bucket").agg(F.count(F.lit(1)).alias("n")), eager=False)
        big = sizes.where(F.col("n") > max_cluster_size)
        if big.limit(1).count() == 0:
            return pts
        splits = big.select("rep", "bucket", F.ceil(F.col("n") / max_cluster_size).cast("long").alias("_ns"))
        return cp.keep(
            pts.join(F.broadcast(splits), ["rep", "bucket"], "left")
            .select(
                "rep",
                "id",
                "vec",
                F.when(
                    F.col("_ns").isNotNull(),
                    # hash-namespace the split children (bucket ids are already
                    # mixed hashes — positional offsets would overflow int64)
                    F.xxhash64(
                        "bucket", seed_col, F.lit("split"),
                        F.pmod(F.xxhash64("id", seed_col, F.lit("split")), F.col("_ns")),
                    ),
                ).otherwise(F.col("bucket")).alias("bucket"),
            )
        )


def build_knn_graph(
    points: DataFrame,
    k: int = 10,
    metric: str = "l2",
    repetitions: int = REPETITIONS,
    fanout: int = FANOUT,
    max_cluster_size: int = MAX_CLUSTER_SIZE,
    top_level_leaders: int = TOP_LEVEL_LEADERS,
    max_depth: int = MAX_DEPTH,
    seed: int = SEED,
    symmetric: bool = False,
) -> DataFrame:
    """Approximate k-NN edge table (src, dst, weight).

    ≙ BuildApproximateNearestNeighborGraph (knn_graph.h:145-162): union of
    ``repetitions`` recursive sketches, merged + deduped to per-src top-k.
    """
    reps = F.broadcast(points.sparkSession.range(repetitions).select(F.col("id").cast("int").alias("rep")))
    pts0 = points.select("id", "vec").crossJoin(reps).select("rep", "id", "vec", F.lit(0).cast("long").alias("bucket"))
    # each repetition's hash seed, seed + rep: an int, since xxhash64 hashes
    # an int and a long differently and the leader sample depends on it
    rep_seed = (F.lit(seed) + F.col("rep")).cast("int")
    with checkpoints() as cp:
        pts = cp.pin(pts0)
        for depth in range(max_depth):
            with checkpoints() as level:
                # localCheckpoint the (tiny) size table: breaks the
                # self-join lineage between pts and its own aggregate.
                # Non-eager — the count() is the materializing action,
                # one job instead of two.
                sizes = level.pin(pts.groupBy("rep", "bucket").agg(F.count(F.lit(1)).alias("n")), eager=False)
                big = sizes.where(F.col("n") > max_cluster_size)
                if big.count() == 0:  # no repetition has an oversized bucket
                    break
                big_pts = pts.join(big.select("rep", "bucket"), ["rep", "bucket"], "left_semi")
                done_pts = pts.join(big.select("rep", "bucket"), ["rep", "bucket"], "left_anti")
                # deterministic per-bucket leader sample: smallest hashes win
                n_leaders_expr = (
                    F.when(F.lit(depth) == 0, F.lit(top_level_leaders))
                    .otherwise(F.least(F.lit(MAX_LEADERS), F.greatest(F.lit(2), (F.col("n") * LEADER_FRACTION).cast("int"))))
                )
                big_sized = big.withColumn("n_leaders", n_leaders_expr).select("rep", "bucket", "n", "n_leaders")
                w = Window.partitionBy("rep", "bucket").orderBy("_h")
                # "n_leaders smallest hashes win" — but ranking the bucket's full
                # membership funnels it through ONE window-sort task (at depth 0
                # the bucket is the whole corpus: the exact scale-killer
                # functions/windows.py warns about). Pre-filter to a hash PREFIX
                # first: keep hashes below the ~(4·n_leaders+64)/n quantile of the
                # uniform int64 hash space, a distributed filter leaving ~4× the
                # needed rows, then rank only survivors. The filter is a prefix of
                # the ranking order, so the selected leaders are identical to the
                # unfiltered version whenever ≥ n_leaders rows survive (mean 4×
                # margin; Chernoff-negligible otherwise, and a short bucket just
                # yields fewer leaders — the oversize guard re-splits it).
                p_keep = (4.0 * F.col("n_leaders") + 64.0) / F.col("n")
                h_thr = F.least(
                    F.lit(-9.223372036854776e18) + p_keep * F.lit(1.8446744073709552e19),
                    F.lit(9.223372036854e18),
                ).cast("long")
                leaders = level.pin(
                    big_pts.join(F.broadcast(big_sized), ["rep", "bucket"])
                    .withColumn("_h", F.xxhash64("id", rep_seed, F.lit(depth)))
                    .where((F.col("n") <= 4 * F.col("n_leaders") + 64) | (F.col("_h") < h_thr))
                    .withColumn("_r", F.row_number().over(w))
                    .where(F.col("_r") <= F.col("n_leaders"))
                    .select("rep", "bucket", "id", "vec", (F.col("_r") - 1).cast("long").alias("leader_rank")),
                    # leaders derive from big_pts; cogrouping the two
                    # without a lineage break trips the
                    # ambiguous-self-join check. The NON-eager checkpoint
                    # breaks lineage identically (the plan becomes a
                    # LogicalRDD either way) but defers materialization
                    # to the state swap's job below — one driver job per
                    # depth instead of two.
                    eager=False,
                )
                # fanout>1 only on the first split (knn_graph.h:133
                # recurses with fanout=1): duplication is bounded at
                # fanout×n per repetition.
                level_fanout = fanout if depth == 0 else 1
                reassigned = _assign_to_leaders(big_pts, _realias(leaders), level_fanout, metric)
                new_pts = reassigned.join(points.select("id", "vec"), "id").select("rep", "id", "vec", "bucket")
                # hash path encoding (see _assign_to_leaders): done
                # buckets keep their ids, split buckets get mixed-hash
                # children — no per-level renumbering pass, no global
                # window, no id overflow.
                pts = cp.swap(done_pts.unionByName(new_pts), pts)
        pts = _force_split_big_buckets(pts, max_cluster_size, seed)
        pts = _merge_small_buckets(pts).dropDuplicates(["rep", "bucket", "id"])
        edges = merge_topk(_bucket_bruteforce(pts.select("rep", "bucket", "id", "vec"), k, metric), k)
        # a lazy pin: under AQE taking it runs the shuffle stages, so the
        # loop's checkpoints are released here and the first action on the
        # result runs only its last stage
        return cp.keep(cp.pin(symmetrize(edges) if symmetric else edges, eager=False))


def graph_recall(approx_edges: DataFrame, exact_edges: DataFrame) -> float:
    """Fraction of exact k-NN edges recovered by the approximate graph
    (≙ GraphRecall graph_quality_benchmark.cpp:53-66): |A ∩ E| / |E|."""
    n_exact = exact_edges.count()
    if n_exact == 0:
        return 1.0  # vacuous: no exact edges to recover (0/1-point corpus)
    inter = approx_edges.select("src", "dst").join(exact_edges.select("src", "dst"), ["src", "dst"], "left_semi").count()
    return inter / n_exact
