"""Partitioners: random, k-means family wrappers, the from-scratch multilevel
graph partitioner (replacing KaMinPar), and overlapping variants.

Reference: ``src/partitioning.cpp`` — ``RecursiveKMeansPartitioning``
(:12-88), ``RebalancingKMeansPartitioning`` (:90-141) and its ε-balance
wrapper ``KMeansPartitioning`` (:143-146), both ``kmeans_partition`` here,
``PartitionGraphWithKaMinPar`` (:172-199,
external lib — reimplemented here from scratch per BASELINE.json north_star),
``GraphPartitioning`` (:251-264); ``src/overlapping_partitioning.cpp`` —
OGP affinity moves (:23-141).

The graph partitioner is the north_star centerpiece: multilevel
**label-propagation coarsening → driver-local initial partition → projection
+ balance-constrained LP refinement**. Where it runs depends on the edge
table's size: one of at most ``MAX_DRIVER_EDGES`` rows (``graph``'s
constant, which ``connected_components`` shares) is collected once and the
driver runs the whole algorithm in vectorized NumPy; above it, Spark
runs the same algorithm as DataFrame supersteps, with the same tie-breaks
and therefore the same assignment:

- coarsening contracts the graph ~10× per level via size-constrained LP;
  after ~3-5 levels even a 10^12-edge graph fits on the driver (≤ ~100k
  vertices), exactly the shape of multilevel partitioners;
- every contraction level persists its vertex→cluster map; projection is a
  chain of broadcast-able joins back up;
- refinement moves are gain-ordered and capacity-gated by window functions
  (no locks — the relational analogue of the reference's atomic moves).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gp_ann_spark.functions.windows import bounded_global_window

from gp_ann_spark.operators import kmeans as KM
from gp_ann_spark.checkpoint import checkpoints
from gp_ann_spark.checkpoint import realias as _realias
from gp_ann_spark.operators.graph import MAX_DRIVER_EDGES, mirror, vertices

SEED = KM.SEED


def random_partition(points: DataFrame, num_shards: int, seed: int = SEED) -> DataFrame:
    """Deterministic pseudo-random shard per id (≙ the random routing/
    partitioning baseline, routes.cpp:269-285)."""
    return points.select(
        "id", F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(num_shards)).cast("int").alias("shard")
    )


def max_cluster_size(n: int, num_shards: int, eps: float = 0.05) -> int:
    """ε-balance cap: floor((1+ε)·n/s), exactly the reference's size_t
    truncation (partition.cpp:88) — and never below ceil(n/s), which is the
    feasibility floor."""
    return max(int((1.0 + eps) * n / num_shards), int(np.ceil(n / num_shards)))


def kmeans_partition(points: DataFrame, num_shards: int, eps: float = 0.05, n_iter: int = 20,
                     metric: str = "l2", seed: int = SEED) -> DataFrame:
    """Plain k-means, then greedy re-migration of overflow points to their
    nearest non-full shard with NO further centroid updates: hard cap max
    shard ≤ (1+ε)n/s (≙ RebalancingKMeansPartitioning partitioning.cpp:90-141
    — "just skip updating the centroids"). The CLI's ``KMeans``, ``RKM``,
    ``OKM`` and ``ORKM`` methods all run it; the BKM+ size-penalty variant
    is ``kmeans.balanced_kmeans_bkm``."""
    n = points.count()
    cap = max_cluster_size(n, num_shards, eps)
    # keep empty clusters: they are the spare capacity the spill lands in
    centroids, assignment = KM.lloyd(
        points, num_shards, n_iter=n_iter, metric=metric, seed=seed, drop_empty=False
    )
    with checkpoints() as cp:
        _, out = KM._enforce_cap(points.select("id", "vec"), cp.pin(assignment), centroids, cap, metric)
        return cp.keep(out)


def recursive_kmeans_partition(
    points: DataFrame, num_shards: int, eps: float = 0.05, n_iter: int = 10,
    metric: str = "l2", seed: int = SEED, max_depth: int = 6,
) -> DataFrame:
    """Plain k-means, then recurse into overloaded clusters and renumber
    (≙ RecursiveKMeansPartitioning partitioning.cpp:12-88). The recursion is
    driver-side over DataFrames filtered to oversized shards — expected depth
    1-2 (partitioning.cpp:57-58)."""
    n = points.count()
    cap = max_cluster_size(n, num_shards, eps)
    _, assignment = KM.lloyd(points, num_shards, n_iter=n_iter, metric=metric, seed=seed)
    with checkpoints() as cp:
        assignment = cp.pin(assignment)
        for depth in range(max_depth):
            sizes = assignment.groupBy("shard").agg(F.count(F.lit(1)).alias("cnt"))
            over = [(r["shard"], r["cnt"]) for r in sizes.where(F.col("cnt") > cap).collect()]
            if not over:
                break
            n_existing = assignment.agg(F.max("shard")).collect()[0][0] + 1
            next_id = n_existing
            pieces = [assignment.where(~F.col("shard").isin([s for s, _ in over]))]
            for s, cnt in over:
                sub_k = int(np.ceil(cnt / cap))
                sub_pts = points.join(assignment.where(F.col("shard") == s).select("id"), "id", "left_semi")
                _, sub_asn = KM.lloyd(sub_pts, sub_k, n_iter=n_iter, metric=metric, seed=seed + depth + s)
                pieces.append(sub_asn.select("id", (F.col("shard") + F.lit(next_id)).cast("int").alias("shard")))
                next_id += sub_k
            acc = pieces[0]
            for p in pieces[1:]:
                acc = acc.unionByName(p)
            assignment = cp.swap(acc, assignment)
        return cp.keep(remap_shard_ids(assignment))


def duplicates_in_clusters(cover: DataFrame) -> DataFrame:
    """Per-shard duplicate-entry diagnostic over a cover relation
    (≙ convert.cpp:13-18): entries minus distinct ids, per shard."""
    return cover.groupBy("shard").agg(
        F.count("id").alias("total"),
        (F.count("id") - F.countDistinct("id")).alias("duplicates"),
    )


def remap_shard_ids(assignment: DataFrame) -> DataFrame:
    """Densify shard ids 0..k-1 (≙ RemapPartitionIDs defs.cpp:64-79) —
    dense_rank over the (tiny) distinct-shard dim table, broadcast back."""
    distinct = assignment.select("shard").distinct().withColumn(
        "_new", F.dense_rank().over(bounded_global_window("shard")) - 1
    )
    return (
        assignment.join(F.broadcast(distinct), "shard")
        .select("id", F.col("_new").cast("int").alias("shard"))
    )


def imbalance(assignment: DataFrame, num_shards: int | None = None) -> float:
    """max shard size / (n / s) (≙ PrintImbalance partition.cpp:28-34)."""
    sizes = assignment.groupBy("shard").agg(F.count(F.lit(1)).alias("cnt"))
    row = sizes.agg(F.max("cnt").alias("mx"), F.sum("cnt").alias("n"), F.count(F.lit(1)).alias("k")).collect()[0]
    s = num_shards or row["k"]
    return float(row["mx"]) / (float(row["n"]) / s)


# ------------------------------------------------ multilevel graph partition
MAX_COARSEN_LEVELS = 8
LP_ROUNDS = 2  # label-propagation rounds per coarsening level, on both paths


def _lp_coarsen_level(edges: DataFrame, weights: DataFrame, cap: int) -> DataFrame:
    """One coarsening level: size-constrained label propagation.

    Vertices adopt the heaviest-affinity neighbor label; moves are
    capacity-gated so no cluster exceeds ``cap`` vertex weight (windows over
    affinity order — the deterministic relational form of the reference's
    size-constrained moves in overlapping_partitioning.cpp:50-141).
    Returns the (id, label) plan, which the caller pins.

    The rounds are chained LAZILY and the level materializes ONCE: a round's
    output feeds the next round as a plain re-aliased plan (realias breaks
    the ambiguous-self-join exprId collision), so one checkpoint job runs
    per LEVEL instead of one per round. The round-N subtree appears several
    times in round N+1's plan (affinity join + label carry + gate), but its
    exchanges are canonically identical, so Spark executes them once and
    wires the repeats through ReusedExchange — no recompute at any scale,
    and nothing intermediate is pinned in executor storage. The logical plan
    still grows about 3^``LP_ROUNDS`` (each round embeds the previous one
    about three times), which is why the round count is a fixed constant,
    not an option.
    """
    sym = mirror(edges, "weight")
    labels = weights.select("id", F.col("id").alias("label"), "w")
    for _ in range(LP_ROUNDS):
        affinity = (
            sym.join(labels.select(F.col("id").alias("dst"), F.col("label").alias("cand")), "dst")
            .groupBy("src", "cand")
            .agg(F.sum("weight").alias("aff"))
        )
        w_best = Window.partitionBy("src").orderBy(F.col("aff").desc(), F.col("cand").asc())
        best = affinity.withColumn("_r", F.row_number().over(w_best)).where(F.col("_r") == 1)
        cand = (
            labels.join(best.select(F.col("src").alias("id"), "cand", "aff"), "id", "left")
            .withColumn("cand", F.coalesce("cand", "label"))
        )
        # capacity gate: cumulative weight into each candidate label, best
        # affinities first; movers over cap stay put.
        w_cap = Window.partitionBy("cand").orderBy(F.col("aff").desc_nulls_last(), F.col("id").asc())
        gated = cand.withColumn("_cum", F.sum("w").over(w_cap)).withColumn(
            "label", F.when(F.col("_cum") <= cap, F.col("cand")).otherwise(F.col("label"))
        )
        labels = _realias(gated.select("id", "label", "w"))
    return labels.select("id", "label")


def coarsen_graph(
    edges: DataFrame, weights: DataFrame | None = None, target: int = 4096,
    max_levels: int = MAX_COARSEN_LEVELS,
) -> tuple[list[DataFrame], DataFrame, DataFrame]:
    """Multilevel LP coarsening until ≤ ``target`` vertices.

    Returns (maps, coarse_edges, coarse_weights): ``maps[i]`` is the
    (id → label) contraction of level i; coarse vertex ids are the label ids.
    """
    if weights is None:
        weights = vertices(edges).withColumn("w", F.lit(1).cast("long"))
    with checkpoints() as cp:
        # non-eager checkpoints + ONE setup aggregate: the count/total_w row
        # materializes cur_w, and level 1's job materializes cur_edges
        cur_edges = cp.pin(edges.select("src", "dst", F.col("weight").cast("double")), eager=False)
        cur_w = cp.pin(weights, eager=False)
        row = cur_w.agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("tw")).collect()[0]
        n = int(row["n"])
        total_w = row["tw"]
        maps: list[DataFrame] = []
        for _ in range(max_levels):
            if n <= target:
                break
            cap = max(int(total_w / max(target // 4, 1)), 2)
            lab = cp.pin(_lp_coarsen_level(cur_edges, cur_w, cap))
            # shrinkage count comes FREE from materializing the contracted
            # weights (row count == distinct labels) — no separate distinct
            # job: the count() below is the lazy checkpoint's materializing
            # action
            new_w = cp.pin(
                lab.join(cur_w, "id").groupBy(F.col("label").alias("id")).agg(F.sum("w").alias("w")),
                eager=False,
            )
            contracted = (
                cur_edges.join(lab.select(F.col("id").alias("src"), F.col("label").alias("nsrc")), "src")
                .join(lab.select(F.col("id").alias("dst"), F.col("label").alias("ndst")), "dst")
                .where(F.col("nsrc") != F.col("ndst"))
                .groupBy(F.col("nsrc").alias("src"), F.col("ndst").alias("dst"))
                .agg(F.sum("weight").alias("weight"))
            )
            n_new = new_w.count()
            contracted = cp.pin(contracted)
            if n_new >= n:  # no shrinkage → stop (guard ≙ knn_graph.h:120-131)
                break
            maps.append(lab)
            cur_edges = cp.swap(contracted, cur_edges)
            cur_w = cp.swap(new_w, cur_w)
            n = n_new
        return cp.keep((maps, cur_edges, cur_w))


def _initial_partition_driver(
    edge_pdf, weight_pdf, num_shards: int, eps: float, seed: int = SEED,
    restarts: int = 8,
) -> dict[int, int]:
    """Driver-local balanced partition of the coarse graph: multi-restart
    greedy graph growing + boundary refinement in NumPy (the small-graph
    analogue of the reference's KaMinPar call, partitioning.cpp:189).
    ``restarts`` seeded growths run and the minimum-cut one wins — the
    coarse graph is ≤ coarse_target vertices, so each restart is
    milliseconds while the growth order is the partitioner's main source
    of variance."""
    ids = weight_pdf["id"].to_numpy()
    wts = weight_pdf["w"].to_numpy().astype(np.int64)
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    adj: list[dict[int, float]] = [dict() for _ in range(n)]
    for s, d, w in zip(edge_pdf["src"], edge_pdf["dst"], edge_pdf["weight"]):
        i, j = idx[s], idx[d]
        if i == j:
            continue
        adj[i][j] = adj[i].get(j, 0.0) + w
        adj[j][i] = adj[j].get(i, 0.0) + w
    cap = (1.0 + eps) * wts.sum() / num_shards
    base_order = np.argsort(-wts, kind="stable")  # heavy vertices first
    best_part, best_key = None, None
    for r in range(max(1, restarts)):
        rng = np.random.default_rng(seed + r)
        if r == 0:
            order = base_order
        else:
            # diversify growth: shuffle, then re-sort heavy-first (stable)
            # so equal-weight vertices appear in a seed-dependent order
            perm = rng.permutation(n)
            order = perm[np.argsort(-wts[perm], kind="stable")]
        part, loads = _grow_once(adj, wts, order, num_shards, cap, rng)
        cut = sum(
            w for i in range(n) for j, w in adj[i].items() if i < j and part[i] != part[j]
        )
        key = (cut, float(loads.max()), r)  # min cut, then balance, then order
        if best_key is None or key < best_key:
            best_part, best_key = part, key
    return {int(v): int(p) for v, p in zip(ids, best_part)}


def _leftover_shard(conn, loads, w, cap) -> int:
    """Placement rule for a vertex the greedy grower left unassigned: the
    max-affinity shard that still has room, else the least-loaded shard.
    Affinity is evaluated over OPEN shards only — when the vertex's
    neighbors all sit in full shards the least-loaded fallback applies
    (testing ``conn.max()`` over all shards would instead dump every such
    leftover onto the lowest-index open shard, skewing loads)."""
    open_s = loads + w <= cap
    masked = np.where(open_s, conn, -np.inf)
    if open_s.any() and masked.max() > 0:
        return int(np.argmax(masked))
    return int(np.argmin(loads))


def _grow_once(adj, wts, order, num_shards: int, cap: float, rng):
    """One seeded greedy growth + boundary refinement pass; returns
    (part, loads). Gains are maintained INCREMENTALLY with a lazy max-heap —
    recomputing the whole frontier per placement is O(n²·deg) and stalls
    for minutes at coarse graphs ≥ 4k vertices."""
    import heapq

    n = len(wts)
    part = np.full(n, -1, dtype=np.int64)
    loads = np.zeros(num_shards)
    target_load = wts.sum() / num_shards
    for s in range(num_shards):
        gains: dict[int, float] = {}
        heap: list[tuple[float, int]] = []  # (-gain, v); ties → smaller v first
        while loads[s] < target_load:
            if not heap:
                # frontier exhausted (the growing shard consumed a whole
                # connected component) but the shard is under target: reseed
                # it with the next heaviest unassigned vertex. Without this a
                # clustered graph (components ≪ n/num_shards) leaves every
                # later component to the per-vertex leftover loop, which
                # scatters components across shards — measured 0.23 edge cut
                # on a 16-component ring fixture where 0.03 is achievable.
                seed_v = next(
                    (int(v) for v in order if part[v] == -1 and loads[s] + wts[v] <= cap),
                    None,
                )
                if seed_v is None:
                    break
                gains[seed_v] = max(gains.get(seed_v, 0.0), 0.0)
                heapq.heappush(heap, (-gains[seed_v], seed_v))
            neg_g, v = heapq.heappop(heap)
            if part[v] != -1 or v not in gains or -neg_g != gains[v]:
                continue  # stale or already placed
            if loads[s] + wts[v] > cap:
                del gains[v]
                continue
            part[v] = s
            loads[s] += wts[v]
            del gains[v]
            for u, w in adj[v].items():
                if part[u] == -1:
                    gains[u] = gains.get(u, 0.0) + w
                    heapq.heappush(heap, (-gains[u], u))
    for v in order:  # leftovers → max-affinity shard with room, else least-loaded
        if part[v] == -1:
            conn = np.zeros(num_shards)
            for u, w in adj[v].items():
                if part[u] != -1:
                    conn[part[u]] += w
            s = _leftover_shard(conn, loads, wts[v], cap)
            part[v] = s
            loads[s] += wts[v]
    # drain pass: the leftover fallback places into the least-loaded shard
    # even when that breaches cap (something must take the vertex). Repair
    # by moving the LIGHTEST vertices off overfull shards into shards with
    # room — zero/negative cut gain allowed, balance beats cut here. The
    # KL refinement below can't do this (it only takes positive-gain moves
    # within cap, so an overfull shard stays overfull). No-op when every
    # load ≤ cap; genuinely infeasible instances (one vertex heavier than
    # cap, no destination with room) keep their best-effort placement.
    for s in range(num_shards):
        if loads[s] <= cap:
            continue
        members = sorted((int(v) for v in np.flatnonzero(part == s)), key=lambda v: wts[v])
        for v in members:
            if loads[s] <= cap:
                break
            conn = np.zeros(num_shards)
            for u, w in adj[v].items():
                conn[part[u]] += w
            room = loads + wts[v] <= cap
            room[s] = False
            if not room.any():
                continue
            masked = np.where(room, conn, -np.inf)
            cand = np.flatnonzero(masked == masked.max())
            tgt = int(cand[np.argmin(loads[cand])])  # max affinity, then least load
            part[v] = tgt
            loads[tgt] += wts[v]
            loads[s] -= wts[v]
    # boundary KL-ish refinement: best single-vertex moves while balance holds
    for _ in range(10):
        moved = 0
        for v in rng.permutation(n):
            conn = np.zeros(num_shards)
            for u, w in adj[v].items():
                conn[part[u]] += w
            cur = part[v]
            gains = conn - conn[cur]
            gains[cur] = -np.inf
            tgt = int(np.argmax(gains))
            if gains[tgt] > 0 and loads[tgt] + wts[v] <= cap:
                loads[cur] -= wts[v]
                loads[tgt] += wts[v]
                part[v] = tgt
                moved += 1
        if moved == 0:
            break
    return part, loads


def refine_partition(
    edges: DataFrame, assignment: DataFrame, cap: int, rounds: int = 3,
) -> DataFrame:
    """Balance-constrained LP refinement at full resolution: gain-ordered,
    capacity-gated single-vertex moves per superstep (the DataFrame form of
    multilevel refinement; determinstic via (gain, id) ordering)."""
    with checkpoints() as cp:
        # non-eager: round 1's movers count is the first consumer of both
        sym = cp.pin(mirror(edges, "weight"), eager=False)
        asn = cp.pin(assignment.select("id", "shard"), eager=False)
        for _ in range(rounds):
            conn = (
                sym.join(asn.select(F.col("id").alias("dst"), F.col("shard").alias("cand")), "dst")
                .groupBy(F.col("src").alias("id"), "cand")
                .agg(F.sum("weight").alias("aff"))
            )
            own = asn.withColumnRenamed("shard", "own")
            with_own = conn.join(own, "id")
            own_aff = (
                with_own.where(F.col("cand") == F.col("own"))
                .select("id", F.col("aff").alias("own_aff"))
            )
            cand = (
                with_own.where(F.col("cand") != F.col("own"))
                .join(own_aff, "id", "left")
                .withColumn("gain", F.col("aff") - F.coalesce("own_aff", F.lit(0.0)))
                .where(F.col("gain") > 0)
            )
            w_best = Window.partitionBy("id").orderBy(F.col("gain").desc(), F.col("cand").asc())
            best = cand.withColumn("_r", F.row_number().over(w_best)).where(F.col("_r") == 1)
            sizes = asn.groupBy("shard").agg(F.count(F.lit(1)).alias("cnt"))
            room = sizes.select(F.col("shard").alias("cand"), (F.lit(cap) - F.col("cnt")).cast("int").alias("cap"))
            w_cap = Window.partitionBy("cand").orderBy(F.col("gain").desc(), F.col("id").asc())
            # materialize movers ONCE: the count action and the state swap
            # would otherwise each evaluate the full window program.
            # Non-eager: the count() is the materializing action — one job
            # per round for the whole window program instead of two.
            with checkpoints() as step:
                movers = step.pin(
                    best.join(F.broadcast(room), "cand")
                    .withColumn("_fill", F.row_number().over(w_cap))
                    .where(F.col("_fill") <= F.greatest(F.col("cap"), F.lit(0)))
                    .select("id", F.col("cand").alias("new_shard")),
                    eager=False,
                )
                if movers.count() == 0:
                    break
                asn = cp.swap(
                    asn.join(movers, "id", "left")
                    .select("id", F.coalesce(F.col("new_shard"), F.col("shard")).cast("int").alias("shard")),
                    asn,
                )
        return cp.keep(asn)


def graph_partition(
    edges: DataFrame,
    num_shards: int,
    eps: float = 0.05,
    coarse_target: int = 4096,
    refine_rounds: int = 3,
    seed: int = SEED,
) -> DataFrame:
    """From-scratch multilevel balanced k-way graph partitioning
    (replaces KaMinPar, partitioning.cpp:172-199; composed into "GP"
    partitioning.cpp:251-264). Returns (id, shard), max shard ≤ (1+ε)n/s.

    An edge table of at most ``MAX_DRIVER_EDGES`` rows is collected once
    and partitioned on the driver by ``_graph_partition_local``; a larger
    one runs the same algorithm as DataFrame supersteps
    (``_graph_partition_spark``). Both return the same assignment.
    """
    # one non-eager checkpoint feeds the size probe and whichever path runs:
    # the count materializes it, so the edges' upstream plan executes once
    # and an oversized table moves no rows to the driver
    with checkpoints() as cp:
        sel = cp.pin(edges.select("src", "dst", F.col("weight").cast("double")), eager=False)
        if sel.count() > MAX_DRIVER_EDGES:
            return cp.keep(_graph_partition_spark(sel, num_shards, eps, coarse_target, refine_rounds, seed))
        pdf = sel.toPandas()
    ids, shard = _graph_partition_local(
        pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64), pdf["weight"].to_numpy(np.float64),
        num_shards, eps, coarse_target, refine_rounds, seed,
    )
    return edges.sparkSession.createDataFrame(
        pd.DataFrame({"id": ids, "shard": shard.astype(np.int32)}), "id long, shard int"
    )


def _partition_coarsest(
    edges: DataFrame, weights: DataFrame | None, num_shards: int, eps: float, target: int, seed: int,
) -> tuple[DataFrame, bool]:
    """Coarsen, partition the coarsest graph on the driver, project back up:
    the (label, shard) plan over the finest ids, and whether no coarsening was needed."""
    maps, c_edges, c_w = coarsen_graph(edges, weights=weights, target=target)
    # pin driver-side row order: toPandas() order follows the (AQE-chosen)
    # partition layout, and the greedy grower's tie-breaks follow row order
    # — unsorted frames make the partition vary between identical runs
    edge_pdf = c_edges.toPandas().sort_values(["src", "dst"], ignore_index=True)
    weight_pdf = c_w.toPandas().sort_values("id", ignore_index=True)
    part = _initial_partition_driver(edge_pdf, weight_pdf, num_shards, eps, seed)
    # (label, shard) keyed by the coarsest vertex ids; maps[i] is
    # (id@level_i → label@level_{i+1}), so walk coarsest → finest
    asn = edges.sparkSession.createDataFrame([(int(v), int(s)) for v, s in part.items()], "label long, shard int")
    for lab in reversed(maps):
        asn = lab.join(asn, "label").select(F.col("id").alias("label"), "shard")
    return asn, not maps and len(weight_pdf) <= target


def _graph_partition_spark(
    edges: DataFrame, num_shards: int, eps: float, coarse_target: int, refine_rounds: int, seed: int,
) -> DataFrame:
    """``graph_partition`` as DataFrame supersteps, for edge tables too
    large to collect: LP coarsening, driver-local initial partition of the
    coarse graph, projection, then distributed refinement."""
    with checkpoints() as cp:
        asn, whole = _partition_coarsest(edges, None, num_shards, eps, coarse_target, seed)
        # non-eager checkpoint: the projection chain (one broadcast join per
        # level) executes ONCE — the count below materializes it, and the
        # refinement's own eager checkpoint then copies from cache instead
        # of re-walking the joins
        asn = cp.pin(asn.select(F.col("label").alias("id"), "shard"), eager=False)
        if whole:
            # no coarsening was NEEDED (n ≤ coarse_target): the driver pass
            # just partitioned AND boundary-refined the full-resolution
            # graph, so the DataFrame refinement rounds would re-walk the
            # same moves as pure Spark-job latency (~2/3 of graph_partition
            # wall time at bench scale). Multilevel inputs still refine
            # below — and so does the maps-empty-but-large case (the first
            # LP level made no shrinkage, the knn_graph.h:120-131 stall
            # guard), where the full-resolution graph was only
            # driver-partitioned and needs distributed refinement most.
            return cp.keep(asn)
        n = asn.count()
        cap = max_cluster_size(n, num_shards, eps)
        return cp.keep(refine_partition(edges, asn, cap, rounds=refine_rounds))


# ------------------------------------ driver-local form of the same algorithm
# Vertices are dense indices into a sorted id array, so "id asc" and "cand
# asc" tie-breaks are index order, and every grouped sum is a bincount.
def _pair_sums(a: np.ndarray, b: np.ndarray, w: np.ndarray, nb: int):
    """``GROUP BY (a, b) SUM(w)`` over dense keys, in (a, b) order."""
    keys, inv = np.unique(a * nb + b, return_inverse=True)
    return keys // nb, keys % nb, np.bincount(inv, weights=w, minlength=len(keys))


def _sort_in_groups(group: np.ndarray, *order_keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``PARTITION BY group ORDER BY order_keys`` (most significant first):
    row indices in that order, and a mask of the rows that open a group."""
    o = np.lexsort(tuple(reversed(order_keys)) + (group,))
    g = group[o]
    first = np.ones(len(g), dtype=bool)
    first[1:] = g[1:] != g[:-1]
    return o, first


def _first_per_group(group: np.ndarray, *order_keys: np.ndarray) -> np.ndarray:
    """Row indices where ``row_number() OVER (...) = 1``."""
    o, first = _sort_in_groups(group, *order_keys)
    return o[first]


def _rank_in_group(group: np.ndarray, *order_keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Row indices in window order, and per sorted row the sorted position
    where its group starts."""
    o, first = _sort_in_groups(group, *order_keys)
    return o, np.flatnonzero(first)[np.cumsum(first) - 1]


def _lp_labels(src: np.ndarray, dst: np.ndarray, wt: np.ndarray, vw: np.ndarray, cap: int) -> np.ndarray:
    """``_lp_coarsen_level`` on dense arrays; returns each vertex's label."""
    n = len(vw)
    ss, dd, ww = np.concatenate([src, dst]), np.concatenate([dst, src]), np.concatenate([wt, wt])
    ids = np.arange(n)
    lab = ids.copy()
    for _ in range(LP_ROUNDS):
        a_src, a_cand, aff = _pair_sums(ss, lab[dd], ww, n)
        best = _first_per_group(a_src, -aff, a_cand)  # (aff desc, cand asc)
        cand, c_aff = lab.copy(), np.full(n, np.inf)
        cand[a_src[best]] = a_cand[best]
        c_aff[a_src[best]] = -aff[best]  # negated; no edges → +inf, i.e. nulls last
        # capacity gate: cumulative weight into each candidate label
        o, start = _rank_in_group(cand, c_aff, ids)
        cum = np.cumsum(vw[o])
        cum -= (cum - vw[o])[start]
        ok = np.empty(n, dtype=bool)
        ok[o] = cum <= cap
        lab = np.where(ok, cand, lab)
    return lab


def _refine_local(src: np.ndarray, dst: np.ndarray, wt: np.ndarray, shard: np.ndarray,
                  num_shards: int, cap: int, rounds: int) -> np.ndarray:
    """``refine_partition`` on dense arrays."""
    ss, dd, ww = np.concatenate([src, dst]), np.concatenate([dst, src]), np.concatenate([wt, wt])
    shard = shard.copy()
    for _ in range(rounds):
        vid, cand, aff = _pair_sums(ss, shard[dd], ww, num_shards)
        own = cand == shard[vid]
        own_aff = np.zeros(len(shard))
        own_aff[vid[own]] = aff[own]
        gain = aff - own_aff[vid]
        m = ~own & (gain > 0)
        vid, cand, gain = vid[m], cand[m], gain[m]
        best = _first_per_group(vid, -gain, cand)  # (gain desc, cand asc)
        vid, cand, gain = vid[best], cand[best], gain[best]
        room = cap - np.bincount(shard, minlength=num_shards)
        o, start = _rank_in_group(cand, -gain, vid)  # (gain desc, id asc)
        fill = np.arange(len(o)) - start
        movers = o[fill < np.maximum(room[cand[o]], 0)]
        if len(movers) == 0:
            break
        shard[vid[movers]] = cand[movers]
    return shard


def _graph_partition_local(
    src: np.ndarray, dst: np.ndarray, weight: np.ndarray, num_shards: int, eps: float,
    coarse_target: int, refine_rounds: int, seed: int,
) -> tuple[np.ndarray, np.ndarray]:
    """``_graph_partition_spark`` on a collected edge table, step for step:
    the same coarsening cap, rounds and stop rule, the same tie-breaks, the
    same initial partition and refinement. Returns (ids, shard) arrays."""
    o = np.lexsort((weight, dst, src))  # row order pins float summation order
    src, dst, weight = src[o], dst[o], weight[o]
    ids = np.unique(np.concatenate([src, dst]))
    s, d = np.searchsorted(ids, src), np.searchsorted(ids, dst)
    n0 = n = len(ids)
    c_ids, cs, cd, cw, vw = ids, s, d, weight, np.ones(n, dtype=np.int64)
    maps = []
    for _ in range(MAX_COARSEN_LEVELS):
        if n <= coarse_target:
            break
        cap = max(int(n0 / max(coarse_target // 4, 1)), 2)
        keep, inv = np.unique(_lp_labels(cs, cd, cw, vw, cap), return_inverse=True)
        if len(keep) >= n:  # no shrinkage → stop
            break
        ns, nd = inv[cs], inv[cd]
        m = ns != nd
        cs, cd, cw = _pair_sums(ns[m], nd[m], cw[m], len(keep))
        vw = np.bincount(inv, weights=vw, minlength=len(keep)).astype(np.int64)
        c_ids, n = c_ids[keep], len(keep)
        maps.append(inv)
    edge_pdf = pd.DataFrame({"src": c_ids[cs], "dst": c_ids[cd], "weight": cw})
    weight_pdf = pd.DataFrame({"id": c_ids, "w": vw})
    part = _initial_partition_driver(edge_pdf, weight_pdf, num_shards, eps, seed)
    shard = np.array([part[int(v)] for v in c_ids], dtype=np.int64)
    for inv in reversed(maps):
        shard = shard[inv]
    if not maps and n <= coarse_target:
        return ids, shard
    cap = max_cluster_size(n0, num_shards, eps)
    return ids, _refine_local(s, d, weight, shard, num_shards, cap, refine_rounds)


def overlapping_partition(
    edges: DataFrame,
    assignment: DataFrame,
    overlap: float = 0.2,
    eps: float = 0.05,
    num_shards: int | None = None,
    max_rounds: int = 60,
) -> DataFrame:
    """Overlapping graph partitioning: iterated affinity moves append extra
    (id, shard) cover rows until the overlap budget o·n is spent
    (≙ OverlappingGraphPartitioning overlapping_partitioning.cpp:50-141;
    TopMove :23-48 = one LP step; valid-target predicate :36 = anti-join).

    Faithful to the reference loop (:88-129): each round moves only the
    nodes whose best valid-target affinity equals the round's *global max
    affinity*, gated per cluster by remaining room, budget charged only for
    placed rows, clusters served in ascending id order when the budget runs
    short. The global max is a 1-row aggregate and the per-cluster gates are
    partitioned windows — no single-partition global sort anywhere.

    Cap deviation (documented): the reference inflates the *cluster count*
    to k' = ceil((n + budget)/cap) before partitioning (:56) and keeps cap
    strict; this operator receives a fixed assignment, so the equivalent
    headroom goes into the cap instead: cap = (1+ε)(n + budget)/s.

    Returns a *cover* relation — ids may appear in multiple shards
    (Cover semantics defs.h:32, free in relational form, SURVEY §1).
    """
    with checkpoints() as cp:
        sym = cp.pin(mirror(edges))
        cover = cp.pin(assignment.select("id", "shard"))
        n = assignment.select("id").distinct().count()
        s = num_shards or (assignment.agg(F.max("shard")).collect()[0][0] + 1)
        budget = int(overlap * n)
        cap = max_cluster_size(n + budget, s, eps)
        sizes = {
            int(r["shard"]): int(r["c"])
            for r in cover.groupBy("shard").agg(F.count(F.lit(1)).alias("c")).collect()
        }

        for _ in range(max_rounds):
            if budget <= 0:
                break
            room = {sh: cap - sz for sh, sz in sizes.items() if sz < cap}
            if not room:
                break
            open_df = F.broadcast(
                edges.sparkSession.createDataFrame(
                    [(int(sh),) for sh in sorted(room)], "cand int"
                )
            )
            affinity = (
                sym.join(cover.select(F.col("id").alias("dst"), F.col("shard").alias("cand")), "dst")
                .groupBy(F.col("src").alias("id"), "cand")
                .agg(F.count(F.lit(1)).alias("aff"))
            )
            # valid targets only (TopMove :36-40): not already in the point's
            # cover (anti-join) AND the target cluster still has room
            new_targets = affinity.join(
                cover.select("id", F.col("shard").alias("cand")), ["id", "cand"], "left_anti"
            ).join(open_df, "cand", "left_semi")
            w_best = Window.partitionBy("id").orderBy(F.col("aff").desc(), F.col("cand").asc())
            with checkpoints() as step:
                best = step.pin(new_targets.withColumn("_r", F.row_number().over(w_best)).where(F.col("_r") == 1))
                max_aff = best.agg(F.max("aff")).collect()[0][0]
                if max_aff is None or max_aff == 0:
                    break
                movers = best.where(F.col("aff") == max_aff)
                counts = {
                    int(r["cand"]): int(r["c"])
                    for r in movers.groupBy("cand").agg(F.count(F.lit(1)).alias("c")).collect()
                }
                # per-cluster take = min(room, movers), then budget served in
                # ascending cluster-id order (≙ the sequential budget loop :108-111)
                remaining = budget
                take: dict[int, int] = {}
                for sh in sorted(counts):
                    t = min(room.get(sh, 0), counts[sh], remaining)
                    if t > 0:
                        take[sh] = t
                        remaining -= t
                if not take:
                    break
                take_df = F.broadcast(
                    edges.sparkSession.createDataFrame(
                        [(int(sh), int(t)) for sh, t in take.items()], "cand int, take long"
                    )
                )
                w_cap = Window.partitionBy("cand").orderBy(F.col("id").asc())
                moves = (
                    movers.join(take_df, "cand")
                    .withColumn("_fill", F.row_number().over(w_cap))
                    .where(F.col("_fill") <= F.col("take"))
                    .select("id", F.col("cand").cast("int").alias("shard"))
                )
                budget -= sum(take.values())
                for sh, t in take.items():
                    sizes[sh] = sizes.get(sh, 0) + t
                cover = cp.swap(cover.unionByName(moves), cover)
        return cp.keep(cover)


def overlapping_kmeans_partition(
    points: DataFrame,
    assignment: DataFrame,
    centroids,
    overlap: float = 0.2,
    eps: float = 0.05,
    metric: str = "l2",
    requested_num_clusters: int | None = None,
) -> DataFrame:
    """SPANN-style overlap from centroid ratings (≙
    MakeOverlappingWithCentroids / OverlappingKMeansPartitioningSPANN,
    overlapping_partitioning.cpp:143-235): rate every point against every
    *external* centroid, keep the ``num_keep``=5 closest open targets per
    point (:191-198), then greedily append (id, shard) cover rows — capacity
    first, budget charged only for placed rows (:210-218), strict cap
    (1+ε)n/s (:231). Leftover budget may go unused, like the reference
    (":219 possible assignments unused").

    ``requested_num_clusters``: the reference derives the cap from the
    *originally requested* k, not the (possibly inflated) number of base
    shards — partition.cpp keeps the original k "so that it chooses the
    correct max cluster size" (overlapping_partitioning.cpp:229-233). CLI
    ORKM/OBKM/OGPS paths pass the pre-inflation k here; defaults to the
    actual shard count.

    Scale shape: per-shard capacity windows + a driver-side water-fill of the
    budget across shards (k-row table) replace the reference's global
    distance sort — identical result whenever budget ≥ available room (the
    common regime), a fair per-shard split otherwise. No single-partition
    global window. Returns the cover relation.
    """
    n = assignment.select("id").distinct().count()
    s = int(len(centroids))
    budget = int(overlap * n)
    if budget <= 0:
        return assignment.select("id", "shard")
    cap_total = max_cluster_size(n, requested_num_clusters or s, eps)
    rated = KM.assign_all_candidates(points, centroids, metric)
    sizes = {
        int(r["shard"]): int(r["c"])
        for r in assignment.groupBy("shard").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    room = {sh: cap_total - sizes.get(sh, 0) for sh in range(s) if sizes.get(sh, 0) < cap_total}
    if not room:
        return assignment.select("id", "shard")
    open_df = F.broadcast(
        points.sparkSession.createDataFrame([(int(sh),) for sh in sorted(room)], "shard int")
    )
    external = (
        rated.withColumnRenamed("cand", "shard")
        .join(assignment.select("id", "shard"), ["id", "shard"], "left_anti")
        .join(open_df, "shard", "left_semi")
    )
    # num_keep=5 closest open targets per point (:191-198) — per-id window
    w_keep = Window.partitionBy("id").orderBy(F.col("dist").asc(), F.col("shard").asc())
    kept = external.withColumn("_k", F.row_number().over(w_keep)).where(F.col("_k") <= 5).drop("_k")
    # capacity gate FIRST (best distances land), then the budget water-fill
    w_cap = Window.partitionBy("shard").orderBy(F.col("dist").asc(), F.col("id").asc())
    with checkpoints() as cp:
        gated = cp.pin(
            kept.withColumn("_fill", F.row_number().over(w_cap))
            .join(
                F.broadcast(
                    points.sparkSession.createDataFrame(
                        [(int(sh), int(r)) for sh, r in room.items()], "shard int, room long"
                    )
                ),
                "shard",
            )
            .where(F.col("_fill") <= F.col("room"))
        )
        avail = {
            int(r["shard"]): int(r["c"])
            for r in gated.groupBy("shard").agg(F.count(F.lit(1)).alias("c")).collect()
        }
        take = _water_fill(avail, budget)
        take_df = F.broadcast(
            points.sparkSession.createDataFrame(
                [(int(sh), int(t)) for sh, t in take.items()], "shard int, take long"
            )
        )
        extras = (
            gated.join(take_df, "shard")
            .where(F.col("_fill") <= F.col("take"))
            .select("id", "shard")
        )
        return cp.keep(cp.pin(assignment.select("id", "shard").unionByName(extras)))


def _water_fill(avail: dict[int, int], budget: int) -> dict[int, int]:
    """Deterministically split ``budget`` units across keys, each capped at
    ``avail[key]``: repeated fair shares with redistribution of leftovers
    (the k-row driver-side replacement for a global greedy sort)."""
    alloc = {k: 0 for k in avail}
    remaining = budget
    active = {k for k, a in avail.items() if a > 0}
    while remaining > 0 and active:
        share = max(1, remaining // len(active))
        progressed = False
        for k in sorted(active):
            t = min(share, avail[k] - alloc[k], remaining)
            if t > 0:
                alloc[k] += t
                remaining -= t
                progressed = True
            if alloc[k] >= avail[k]:
                active.discard(k)
            if remaining <= 0:
                break
        if not progressed:
            break
    return {k: v for k, v in alloc.items() if v > 0}
