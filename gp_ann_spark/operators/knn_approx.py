"""Approximate k-NN graph builder: recursive leader sketching.

Reference: ``ApproximateKNNGraphBuilder`` (``src/knn_graph.h:52-143``, params
:254-265): per repetition, sample leaders (950 at the top level, 0.5% capped
at 1500 below), assign every point to its ``fanout``=3 closest leaders
(duplicating points across buckets — that is what discovers cross-boundary
edges), recurse into buckets larger than ``max_cluster_size``=5000 up to
depth 14, brute-force each final bucket (``CrunchBucket`` :165-185), merge
per-bucket top-k lists across buckets and 3 repetitions with dedup
(:218-235).

Where a repetition's sketch runs depends on the point count, as the
reference runs it in one process: a set of at most ``MAX_TASK_POINTS``
points runs each repetition's whole sketch inside one Arrow task
(``_sketch``, one ``groupBy("rep").applyInPandas`` task per repetition);
a larger one runs it as DataFrame supersteps. Both paths draw the same
hashes (``functions.xxhash``) and call the same kernels, so they return the
same edges:

- state is ``(rep, id, vec, bucket)`` where ``bucket`` is a hash
  path-encoded id (splitmix64 of parent bucket and leader rank) — the
  recursion tree lives in a column, bounded by MAX_DEPTH like the
  reference; every stage is keyed on ``(rep, bucket)``, so ONE depth loop
  runs all repetitions, each an independent sketch seeded ``seed + rep``;
- leaders are a *deterministic seeded sample per bucket*: the ``n_leaders``
  smallest ``(xxhash64(id, seed + rep, depth), id)`` pairs —
  partition-independent, ≙ the seeded std::sample at knn_graph.h:75;
- point→leader assignment (``_leader_children``) is blocked BLAS, top-
  ``fanout`` leaders per point, one cogrouped ``applyInPandas`` per bucket
  on the superstep path;
- buckets the depth cap leaves oversized are hash-split, buckets under
  ``MIN_CLUSTER_SIZE`` are packed together, and every final bucket is
  brute-forced (``_crunch``) into distinct-id top-k candidates;
- candidates from all buckets and repetitions form one relation, then one
  ``merge_topk`` (groupBy + window) deduplicates — lock-free vs the
  reference's spinlocked merge. An in-process sketch first applies the
  same rule to its own repetition (``_merge_topk_local``), so it ships
  k rows per point, not k per bucket copy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gp_ann_spark.functions.distances import distance_matrix, topk
from gp_ann_spark.functions.xxhash import xxhash64
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
# Largest point set whose repetitions each run as one in-process sketch
# (see the module doc); larger ones run as DataFrame supersteps. Measured
# on generated points (100 Gaussian clusters, d = 64, library defaults, 3
# repetitions; 4-core VM, local[4], after a warm-up build), in-task vs
# superstep wall time: 7.8 vs 12.8 s at 20k points, 13.7 vs 19.1 s at 50k,
# 28.8 vs 32.9 s at 100k and 79.0 vs 69.5 s at 200k, the same edges at
# every size. Peak Python worker RSS in-task: 578 MB at 100k.
MAX_TASK_POINTS = 100_000
# Rows per leader-assignment block: a (rows × leaders) distance matrix stays
# at most 4096 × MAX_LEADERS doubles (49 MB).
ASSIGN_BLOCK_ROWS = 4096
# The superstep path ranks only a hash prefix of a bucket expected to hold
# this many times its (n_leaders + 16) leaders; a bucket whose prefix comes
# up short ranks its whole membership.
LEADER_PREFILTER_MARGIN = 4
_PHI = np.uint64(0x9E3779B97F4A7C15)


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over an int64/uint64 array (wrapping math)."""
    x = x.astype(np.uint64, copy=True)
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x.astype(np.int64)


def _n_leaders(depth: int, n: int, top_level_leaders: int) -> int:
    """Leaders sampled from a bucket of ``n`` points (knn_graph.h:72-75);
    the superstep path writes the same rule as a Column expression."""
    if depth == 0:
        return top_level_leaders
    return min(MAX_LEADERS, max(2, int(n * LEADER_FRACTION)))


def _leader_children(
    bucket: np.ndarray, X: np.ndarray, L: np.ndarray, ranks: np.ndarray, fanout: int, metric: str,
) -> tuple[np.ndarray, np.ndarray]:
    """Each row's top-``fanout`` leaders in (distance, leader_rank) order
    (≙ ClosestLeaders defs.cpp:87-96), blocked over rows. Returns (row index,
    child bucket) per pick, the child splitmix64(bucket·φ + rank + 1) — a
    HASH path encoding, so bucket ids never need a per-level renumbering. A
    64-bit collision merges two buckets — harmless in an approximate
    builder: distances are exact inside the merged bucket and the oversize
    guard re-splits it."""
    idx = np.concatenate([
        topk(distance_matrix(X[s:s + ASSIGN_BLOCK_ROWS], L, metric), fanout, key=ranks)
        for s in range(0, len(X), ASSIGN_BLOCK_ROWS)
    ])
    f = idx.shape[1]
    child = np.repeat(bucket.astype(np.uint64) * _PHI, f) + (ranks[idx.ravel()].astype(np.uint64) + np.uint64(1))
    return np.repeat(np.arange(len(X)), f), _mix64(child)


def _split_children(bucket: np.ndarray, ids: np.ndarray, ns: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """Child bucket of a force split into ``ns`` parts: the superstep path's
    ``xxhash64(bucket, seed, "split", pmod(xxhash64(id, seed, "split"), ns))``."""
    return xxhash64(bucket, seed, "split", np.mod(xxhash64(ids, seed, "split"), ns))


def _crunch(ids: np.ndarray, X: np.ndarray, k: int, metric: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All-pairs k-NN inside one bucket (≙ CrunchBucket knn_graph.h:165-185):
    dense m×m BLAS, then each row's k best DISTINCT other ids in
    ``merge_topk``'s (weight, dst) order, whatever the row order. Only the
    first column of each id is a candidate, and never for its own rows.
    Returns (src, dst, weight)."""
    m = len(ids)
    if m < 2:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0)
    d = distance_matrix(X, X, metric)
    _, first, inv = np.unique(ids, return_index=True, return_inverse=True)
    repeat = np.ones(m, dtype=bool)
    repeat[first] = False
    d[:, repeat] = np.inf
    d[np.arange(m), first[inv]] = np.inf
    c = topk(d, k, key=ids)
    w = np.take_along_axis(d, c, axis=1).ravel()
    keep = np.isfinite(w)
    r = np.repeat(np.arange(m), c.shape[1])[keep]
    return ids[r], ids[c.ravel()[keep]], w[keep]


def _groups(bucket: np.ndarray, row: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Sort permutation of the (bucket, row) pairs, and each bucket's
    [start, end) in it."""
    o = np.lexsort((row, bucket))
    b = bucket[o]
    starts = np.flatnonzero(np.r_[True, b[1:] != b[:-1]])
    return o, starts, np.r_[starts[1:], len(b)]


def _sketch(
    ids: np.ndarray, X: np.ndarray, seed: int, k: int, metric: str, fanout: int,
    max_cluster_size: int, top_level_leaders: int, max_depth: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One repetition's whole sketch in one process, step for step as
    ``_knn_graph_supersteps`` runs it: the leader recursion, the depth-cap
    force split, the small-bucket merge and the per-bucket brute force.
    ``ids`` is ascending, so row order is id order everywhere. Returns the
    candidates (src, dst, weight)."""
    seed32 = np.asarray(seed).astype(np.int32)
    row, bucket = np.arange(len(ids)), np.zeros(len(ids), np.int64)
    for depth in range(max_depth):
        o, starts, ends = _groups(bucket, row)
        row, bucket = row[o], bucket[o]
        sizes = ends - starts
        big = sizes > max_cluster_size
        if not big.any():
            break
        keep = np.repeat(~big, sizes)
        rows, buckets = [row[keep]], [bucket[keep]]
        for s, e in zip(starts[big], ends[big]):
            members = row[s:e]
            nl = _n_leaders(depth, e - s, top_level_leaders)
            if nl < 1:  # no leaders: the bucket stays as it is
                rows.append(members)
                buckets.append(bucket[s:e])
                continue
            # the n_leaders smallest (hash, id) pairs, in rank order
            lead = members[topk(xxhash64(ids[members], seed32, np.int32(depth))[None, :], nl, key=ids[members])[0]]
            r, child = _leader_children(
                bucket[s:e], X[members], X[lead], np.arange(len(lead)), fanout if depth == 0 else 1, metric,
            )
            rows.append(members[r])
            buckets.append(child)
        row, bucket = np.concatenate(rows), np.concatenate(buckets)
    # depth-cap force split
    _, inv, sizes = np.unique(bucket, return_inverse=True, return_counts=True)
    big = (sizes > max_cluster_size)[inv]
    ns = np.ceil(sizes / max_cluster_size).astype(np.int64)[inv]
    bucket[big] = _split_children(bucket[big], ids[row[big]], ns[big], seed32)
    # small-bucket merge: greedy packing in bucket-id order
    keys, inv, sizes = np.unique(bucket, return_inverse=True, return_counts=True)
    small = sizes < MIN_CLUSTER_SIZE
    keys[small] = -(np.floor(np.cumsum(sizes[small]) / MAX_MERGED_CLUSTER_SIZE).astype(np.int64) + 1)
    bucket = keys[inv]
    # dedup (bucket, id), then brute-force every bucket
    o, starts, ends = _groups(bucket, row)
    row, bucket = row[o], bucket[o]
    first = np.r_[True, (row[1:] != row[:-1]) | (bucket[1:] != bucket[:-1])]
    out = []
    for s, e in zip(starts, ends):
        members = row[s:e][first[s:e]]
        out.append(_crunch(ids[members], X[members], k, metric))
    return _merge_topk_local(*(np.concatenate(col) for col in zip(*out)), k)


def _merge_topk_local(src: np.ndarray, dst: np.ndarray, w: np.ndarray, k: int):
    """``knn.merge_topk`` in NumPy: min weight per (src, dst), then each
    src's k best in (weight, dst) order. Applied to one repetition's
    candidates it drops only rows the global merge drops too, since that
    merge's order is a total order over (src, dst) pairs."""
    if len(src) == 0:
        return src, dst, w
    o = np.lexsort((w, dst, src))
    src, dst, w = src[o], dst[o], w[o]
    first = np.r_[True, (src[1:] != src[:-1]) | (dst[1:] != dst[:-1])]
    src, dst, w = src[first], dst[first], w[first]
    o = np.lexsort((dst, w, src))
    src, dst, w = src[o], dst[o], w[o]
    starts = np.flatnonzero(np.r_[True, src[1:] != src[:-1]])
    rank = np.arange(len(src)) - np.repeat(starts, np.diff(np.r_[starts, len(src)]))
    keep = rank < k
    return src[keep], dst[keep], w[keep]


def _vectors(pdf: pd.DataFrame) -> np.ndarray:
    return np.stack(pdf["vec"].to_numpy()).astype(np.float64)


def _assign_to_leaders(
    pts: DataFrame, leaders: DataFrame, fanout: int, metric: str,
) -> DataFrame:
    """Within each bucket, assign every point to its top-``fanout`` closest
    leaders (``_leader_children``): one cogrouped applyInPandas per bucket,
    points in id order and leaders in rank order whatever the shuffle
    delivered."""

    def assign(pts_pdf: pd.DataFrame, lead_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pts_pdf) == 0:
            return pd.DataFrame()  # Spark accepts a column-less empty result
        if len(lead_pdf) == 0:  # no leaders sampled (tiny bucket) — keep as-is
            return pts_pdf[["rep", "id", "bucket"]]
        pts_pdf = pts_pdf.sort_values("id", ignore_index=True)
        lead_pdf = lead_pdf.sort_values("leader_rank", ignore_index=True)
        r, child = _leader_children(
            pts_pdf["bucket"].to_numpy(), _vectors(pts_pdf), _vectors(lead_pdf),
            lead_pdf["leader_rank"].to_numpy(), fanout, metric,
        )
        return pd.DataFrame({"rep": pts_pdf["rep"].iloc[0], "id": pts_pdf["id"].to_numpy()[r], "bucket": child})

    return pts.groupBy("rep", "bucket").cogroup(leaders.groupBy("rep", "bucket")).applyInPandas(
        assign, schema="rep int, id long, bucket long"
    )


def _bucket_bruteforce(bucketed: DataFrame, k: int, metric: str) -> DataFrame:
    """``_crunch`` per (rep, bucket): one applyInPandas per bucket, rows in
    id order."""

    def crunch(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id", kind="stable", ignore_index=True)
        src, dst, w = _crunch(pdf["id"].to_numpy(np.int64), _vectors(pdf), k, metric)
        return pd.DataFrame({"src": src, "dst": dst, "weight": w})

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
                    # mixed hashes — positional offsets would overflow int64);
                    # _split_children is the same rule in NumPy
                    F.xxhash64(
                        "bucket", seed_col, F.lit("split"),
                        F.pmod(F.xxhash64("id", seed_col, F.lit("split")), F.col("_ns")),
                    ),
                ).otherwise(F.col("bucket")).alias("bucket"),
            )
        )


def _per_rep(points: DataFrame, repetitions: int) -> DataFrame:
    """Every point once per repetition, with an int ``rep`` column."""
    reps = points.sparkSession.range(repetitions).select(F.col("id").cast("int").alias("rep"))
    return points.crossJoin(F.broadcast(reps))


def _knn_graph_in_task(
    pts: DataFrame, k: int, metric: str, repetitions: int, fanout: int, max_cluster_size: int,
    top_level_leaders: int, max_depth: int, seed: int,
) -> DataFrame:
    """Candidates of every repetition, each sketched whole by ``_sketch`` in
    one Arrow task: the points are range-partitioned on ``rep`` into one
    partition per repetition (a fixed-count repartition, which AQE does not
    coalesce)."""

    def sketch(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id", ignore_index=True)
        src, dst, w = _sketch(
            pdf["id"].to_numpy(np.int64), _vectors(pdf), seed + int(pdf["rep"].iloc[0]), k, metric, fanout,
            max_cluster_size, top_level_leaders, max_depth,
        )
        return pd.DataFrame({"src": src, "dst": dst, "weight": w})

    return (
        _per_rep(pts, repetitions)
        .repartitionByRange(repetitions, "rep")
        .groupBy("rep")
        .applyInPandas(sketch, schema="src long, dst long, weight double")
    )


def _knn_graph_supersteps(
    points: DataFrame, k: int, metric: str, repetitions: int, fanout: int, max_cluster_size: int,
    top_level_leaders: int, max_depth: int, seed: int,
) -> DataFrame:
    """Candidates of every repetition as DataFrame supersteps: one depth
    loop keyed by (rep, bucket), then the force split, the small-bucket
    merge and the per-bucket brute force."""
    pts0 = _per_rep(points, repetitions).select("rep", "id", "vec", F.lit(0).cast("long").alias("bucket"))
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
                # _n_leaders as a Column
                n_leaders_expr = (
                    F.when(F.lit(depth) == 0, F.lit(top_level_leaders))
                    .otherwise(F.least(F.lit(MAX_LEADERS), F.greatest(F.lit(2), (F.col("n") * LEADER_FRACTION).cast("int"))))
                )
                big_sized = big.withColumn("n_leaders", n_leaders_expr).select("rep", "bucket", "n", "n_leaders")
                # the n_leaders smallest (hash, id) pairs win — but ranking a
                # bucket's full membership funnels it through ONE window-sort
                # task (at depth 0 the bucket is the whole corpus: the exact
                # scale-killer functions/windows.py warns about). Rank a hash
                # PREFIX instead: hashes below the quantile of the uniform
                # int64 hash space that keeps LEADER_PREFILTER_MARGIN ×
                # (n_leaders + 16) rows on average. The prefix of the ranking
                # order holds the same leaders whenever it keeps at least
                # n_leaders rows; a bucket whose prefix comes up short ranks
                # its whole membership instead.
                margin = LEADER_PREFILTER_MARGIN * (F.col("n_leaders") + 16)
                p_keep = margin.cast("double") / F.col("n")
                h_thr = F.least(
                    F.lit(-9.223372036854776e18) + p_keep * F.lit(1.8446744073709552e19),
                    F.lit(9.223372036854e18),
                ).cast("long")
                hashed = big_pts.join(F.broadcast(big_sized), ["rep", "bucket"]).withColumn(
                    "_h", F.xxhash64("id", rep_seed, F.lit(depth))
                )
                prefix = (F.col("n") <= margin) | (F.col("_h") < h_thr)
                full_prefix = (
                    hashed.where(prefix).groupBy("rep", "bucket", "n_leaders").count()
                    .where(F.col("count") >= F.col("n_leaders"))
                    .select("rep", "bucket", F.lit(True).alias("_enough"))
                )
                w = Window.partitionBy("rep", "bucket").orderBy("_h", "id")
                leaders = level.pin(
                    hashed.join(F.broadcast(full_prefix), ["rep", "bucket"], "left")
                    .where(prefix | F.col("_enough").isNull())
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
                new_pts = reassigned.join(points, "id").select("rep", "id", "vec", "bucket")
                # hash path encoding (see _leader_children): done buckets
                # keep their ids, split buckets get mixed-hash children —
                # no per-level renumbering pass, no global window, no id
                # overflow.
                pts = cp.swap(done_pts.unionByName(new_pts), pts)
        pts = _force_split_big_buckets(pts, max_cluster_size, seed)
        pts = _merge_small_buckets(pts).dropDuplicates(["rep", "bucket", "id"])
        return cp.keep(_bucket_bruteforce(pts.select("rep", "bucket", "id", "vec"), k, metric))


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
    At most ``MAX_TASK_POINTS`` points sketch each repetition in one Arrow
    task (``_knn_graph_in_task``); more run DataFrame supersteps
    (``_knn_graph_supersteps``). Both return the same edges.
    """
    with checkpoints() as cp:
        # one non-eager checkpoint feeds the size probe and whichever path
        # runs: the count materializes it, so the points' plan executes once
        pts = cp.pin(points.select("id", "vec"), eager=False)
        build = _knn_graph_in_task if pts.count() <= MAX_TASK_POINTS else _knn_graph_supersteps
        edges = merge_topk(
            build(pts, k, metric, repetitions, fanout, max_cluster_size, top_level_leaders, max_depth, seed), k,
        )
        # a lazy pin: under AQE taking it runs the shuffle stages, so the
        # path's checkpoints are released here and the first action on the
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
