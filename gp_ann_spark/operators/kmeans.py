"""K-means family: Lloyd's, capacity enforcement, BKM+ balanced k-means.

Reference: ``src/kmeans.cpp`` — ``KMeans`` (:228-244, 20 Lloyd rounds, seed
555), ``NearestCenters`` assign (:12-27), ``AggregateClustersParallel``
(:151-204 — partial/final aggregation, whose comment notes "This is what a
distributed implementation would do"; here it literally is), empty-cluster
removal (:29-50), ``BalancedKMeans`` BKM+ (:253-524, penalty schedule
1.5009−0.0009·round at :295-301, final greedy re-migration :494-515).

Spark-first shape per Lloyd superstep:

1. centroids (k×d, a few KB–MB) are **broadcast** to every task;
2. one ``mapInPandas`` pass over point blocks does the assign (BLAS argmin)
   AND emits per-block partial centroid sums — the map-side combine;
3. one small ``groupBy(shard)`` final-aggregates k rows.

So each superstep shuffles O(k·n_blocks) tiny rows, never the points.
The point table itself is read repeatedly — cache() it before calling.

Every k-means job of ``operators/`` lives here: ``lloyd``, the per-shard
mean/size aggregation ``shard_centroids``, the cap re-migration
``_enforce_cap`` (``partition.kmeans_partition``'s rebalance step), BKM+
``balanced_kmeans_bkm`` and ``local_lloyd``, the in-task NumPy Lloyd of the
k-means tree router and hierarchical k-means.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gp_ann_spark.checkpoint import checkpoints
from gp_ann_spark.functions.distances import distance_matrix, pairwise_sqr_l2, pos_distance_matrix, topk

SEED = 555  # the reference's algorithm seed (kmeans.cpp:19 via partition.cpp:14)


def seeded_sample_centroids(points: DataFrame, k: int, seed: int = SEED) -> np.ndarray:
    """Deterministic k-row sample: the k smallest xxhash64(id, seed) — a
    seeded 'random' draw that is partition-independent and needs no global
    sort (TakeOrderedAndProject). ≙ random_choice init kmeans.cpp:19."""
    sample = (
        points.withColumn("_h", F.xxhash64("id", F.lit(seed)))
        .orderBy("_h")
        .limit(k)
        .select("vec")
        .toPandas()
    )
    return np.stack(sample["vec"].to_numpy()).astype(np.float64)


def _sum_arrays(col: str) -> Column:
    """Element-wise sum of a group's equal-length ``array<double>`` rows as
    ONE aggregate expression: ``collect_list``, then a left fold from zeros
    with ``zip_with``. When each map partition supplies at most one row per
    group (both callers emit one per partition), these are the additions of
    one ``F.sum`` per element in the same order (0 + p₁ + p₂ + … in
    shuffle-read order), but in one Column instead of d, so building the
    plan is d-independent and needs no dimension probe."""
    parts = F.collect_list(col)
    zero = F.transform(F.element_at(parts, 1), lambda _: F.lit(0.0))
    return F.aggregate(parts, zero, lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b))


def _superstep(points: DataFrame, centroids: np.ndarray, metric: str) -> tuple[np.ndarray, np.ndarray, float]:
    """One Lloyd superstep: returns (new_centroids, sizes, objective).

    mapInPandas emits per-partition (shard, count, obj, norm_sq, sums)
    partial rows — each batch's sums added to the partition's running total
    in batch order, as a per-element partial ``F.sum`` would — and one
    ``groupBy(shard)`` final-aggregates them, the sums as one ``_sum_arrays``
    (partial+final ≙ AggregateClustersParallel kmeans.cpp:151-204).

    ``metric="mips"`` uses the reference's spherical update
    (SumPointsInClustersIP/NormalizeCentroidsIP kmeans.cpp:72-100): members
    are summed with weight 1/‖p‖, then the centroid is rescaled so its
    squared norm equals the mean member squared norm.
    """
    spark = points.sparkSession
    k, d = centroids.shape
    bc = spark.sparkContext.broadcast(centroids)
    mips = metric == "mips"
    schema = "shard int, cnt long, obj double, norm_sq double, sums array<double>"

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc.value
        cnt, objs, nsqs, sums = np.zeros(k, dtype=np.int64), np.zeros(k), np.zeros(k), np.zeros((k, d))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            dists = distance_matrix(X, C, metric)
            a = dists.argmin(axis=1)
            obj = dists[np.arange(len(X)), a]
            if mips:
                # ≙ SumPointsInClustersIP: weight 1/‖p‖ per point, track Σ‖p‖²
                norms = np.sqrt((X * X).sum(axis=1))
                safe = np.where(norms == 0.0, 1.0, norms)
                Xw = X / safe[:, None]
                nsq = norms * norms
            else:
                Xw = X
                nsq = np.zeros(len(X))
            batch_sums = np.zeros((k, d))
            np.add.at(batch_sums, a, Xw)
            sums += batch_sums
            cnt += np.bincount(a, minlength=k)
            objs += np.bincount(a, weights=obj, minlength=k)
            nsqs += np.bincount(a, weights=nsq, minlength=k)
        nz = cnt > 0
        if nz.any():
            yield pd.DataFrame(
                {
                    "shard": np.arange(k)[nz],
                    "cnt": cnt[nz],
                    "obj": objs[nz],
                    "norm_sq": nsqs[nz],
                    "sums": list(sums[nz]),
                }
            )

    agg = (
        points.select("vec")
        .mapInPandas(partial, schema=schema)
        .groupBy("shard")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("obj").alias("obj"),
            F.sum("norm_sq").alias("norm_sq"),
            _sum_arrays("sums").alias("sums"),
        )
        .toPandas()
    )
    new_c = centroids.copy()
    sizes = np.zeros(k, dtype=np.int64)
    total_obj = float(agg["obj"].sum()) if len(agg) else 0.0
    for row in agg.itertuples(index=False):
        s = int(row.shard)
        sizes[s] = int(row.cnt)
        vec = np.asarray(row.sums, dtype=np.float64)
        if mips:
            # ≙ NormalizeCentroidsIP kmeans.cpp:72-86: rescale the raw sum so
            # ‖C‖² = mean member ‖p‖² (vec_norm is the squared norm).
            desired = float(row.norm_sq) / row.cnt
            current = float((vec * vec).sum())
            new_c[s] = vec * np.sqrt(desired / current) if current > 0 else vec
        else:
            new_c[s] = vec / row.cnt
    return new_c, sizes, total_obj


def assign_to_centroids(points: DataFrame, centroids: np.ndarray, metric: str = "l2") -> DataFrame:
    """Broadcast nearest-center assignment (≙ NearestCenters kmeans.cpp:12-27,
    the 'assign' half of Lloyd): mapInPandas blocked argmin, no shuffle at
    all — output stays co-partitioned with the points."""
    spark = points.sparkSession
    bc = spark.sparkContext.broadcast(centroids)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            a = distance_matrix(X, C, metric).argmin(axis=1)
            yield pd.DataFrame({"id": pdf["id"].to_numpy(), "shard": a.astype(np.int32)})

    return points.select("id", "vec").mapInPandas(assign, schema="id long, shard int")


def _group_sums(keys: np.ndarray, X: np.ndarray, counts: np.ndarray | int = 1):
    """(distinct keys, per-key count, per-key row sums), rows added in order."""
    uniq, pos = np.unique(keys, return_inverse=True)
    sums = np.zeros((len(uniq), X.shape[1]))
    np.add.at(sums, pos, X)
    cnt = np.zeros(len(uniq), dtype=np.int64)
    np.add.at(cnt, pos, counts)
    return uniq, cnt, sums


def shard_centroids(points: DataFrame, assignment: DataFrame) -> DataFrame:
    """Per-shard mean vector and size of a given assignment → ``(shard, vec,
    size)`` (≙ AggregateClustersParallel kmeans.cpp:151-204, the 'update'
    half of Lloyd): one mapInPandas pass emits per-partition partial sums and
    counts (each batch's sums added to the running total in batch order),
    one small ``groupBy(shard)`` final-aggregates them with ONE array
    aggregate (``_sum_arrays``) and divides once per shard.

    Building the frame runs no Spark job: the aggregate needs no vector
    length, so there is no dimension probe, and the plan is a fixed handful
    of Columns for any d.
    """
    joined = points.join(assignment, "id").select("shard", "vec")
    schema = "shard int, cnt long, sums array<double>"

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [
            _group_sums(pdf["shard"].to_numpy(), np.stack(pdf["vec"].to_numpy()).astype(np.float64))
            for pdf in batches
            if len(pdf)
        ]
        if parts:
            shards, cnts, sums = (np.concatenate(x) for x in zip(*parts))
            uniq, cnt, total = _group_sums(shards, sums, cnts)
            yield pd.DataFrame({"shard": uniq, "cnt": cnt, "sums": list(total)})

    agg = (
        joined.mapInPandas(partial, schema=schema)
        .groupBy("shard")
        .agg(F.sum("cnt").alias("cnt"), _sum_arrays("sums").alias("sums"))
    )
    return agg.select(
        "shard",
        # double, not float32: centroid → query distances must rank the same
        # way as the float64/DuckDB oracles (ties aside)
        F.transform("sums", lambda v: v / F.col("cnt")).alias("vec"),
        F.col("cnt").alias("size"),
    )


def lloyd(
    points: DataFrame,
    k: int,
    n_iter: int = 20,
    metric: str = "l2",
    seed: int = SEED,
    drop_empty: bool = True,
) -> tuple[np.ndarray, DataFrame]:
    """Lloyd's k-means, fixed iteration count (≙ KMeans kmeans.cpp:228-244:
    20 rounds, no early exit). Returns (centroids, assignment DF).

    Empty clusters are dropped and ids densified at the end
    (≙ RemoveEmptyClusters/RemapPartitionIDs kmeans.cpp:29-50) unless
    ``drop_empty=False`` — balanced callers keep all k centroids so that
    k·cap ≥ n stays feasible (an empty cluster is just spare capacity).
    """
    centroids = seeded_sample_centroids(points.select("id", "vec"), k, seed)
    sizes = None
    for _ in range(n_iter):
        centroids, sizes, _ = _superstep(points, centroids, metric)
    if drop_empty and sizes is not None and (sizes == 0).any():
        keep = sizes > 0
        centroids = centroids[keep]
    assignment = assign_to_centroids(points, centroids, metric)
    return centroids, assignment


def local_lloyd(X: np.ndarray, k: int, rng: np.random.Generator, n_iter: int) -> tuple[np.ndarray, np.ndarray]:
    """In-task NumPy Lloyd on one group's points: ``k`` seeds drawn by
    ``rng``, ``n_iter`` assign/update rounds, an empty cluster keeps its
    centroid. Returns (centroids, the last round's assignment)."""
    C = X[rng.choice(len(X), size=min(k, len(X)), replace=False)]
    for _ in range(n_iter):
        # BLAS m×k kernel, NOT (m,k,d) broadcasting — at 50k points, k=64,
        # d=64 the tensor form is ~1.6 GB per iteration per task
        a = pairwise_sqr_l2(X, C).argmin(1)
        for j in range(len(C)):
            m = a == j
            if m.any():
                C[j] = X[m].mean(0)
    return C, a


def capacity_fill(scored: DataFrame, capacity: "int | DataFrame") -> DataFrame:
    """Greedy capacity-constrained assignment as a window program.

    Input: candidate (id, shard, dist) ratings, possibly several shards per
    id. Semantics ≙ the reference's global-rating greedy fill
    (overlapping_partitioning.cpp:205-222, partitioning.cpp:336-346):
    process candidates in ascending (dist, id, shard); a candidate
    lands iff the id is unplaced and its shard still has room — capacity is
    consumed only by actual placements.

    Relational form: Gale–Shapley deferred acceptance with eviction. Each
    pass, every id proposes to its best not-yet-rejected candidate
    (row_number over id); each shard tentatively holds its cap best-scored
    proposers and REJECTS the rest (row_number over proposers per shard) —
    rejected (id, shard) pairs are deleted and the loop repeats until a pass
    rejects nothing, at which point the holds are the placement. Holds are
    tentative: a later re-proposer with a better score evicts a worse hold
    (commit-final variants provably diverge from the greedy). Because both
    sides rank by the same score, preferences are aligned, the stable
    matching is unique, and it equals the sequential greedy's output —
    pinned extensionally by tests/test_properties.py (hypothesis + a
    2000-seed deterministic sweep of the pass structure). Each pass deletes
    ≥1 pair, so the loop terminates; in practice passes ≈ a few × #shards.
    """
    # shard tie-break matters: within one id's candidates the id column is
    # constant, so equal scores across two shards would otherwise be an
    # unordered (nondeterministic) choice
    order = [F.col("dist").asc(), F.col("id").asc(), F.col("shard").asc()]
    w_shard = Window.partitionBy("shard").orderBy(*order)
    w_id = Window.partitionBy("id").orderBy(*order)

    if isinstance(capacity, DataFrame):
        caps = capacity.select("shard", F.col("cap").cast("long"))
    else:
        caps = (
            scored.select("shard").distinct().withColumn("cap", F.lit(int(capacity)).cast("long"))
        )
    with checkpoints() as cp:
        caps = cp.pin(caps.where(F.col("cap") > 0))
        # pairs to dead (cap ≤ 0 / unknown) shards can never place — drop once
        remaining = cp.pin(scored.join(F.broadcast(caps), "shard", "left_semi"))
        # termination is guaranteed (every continuing pass deletes ≥1 pair),
        # so #passes ≤ #pairs; guard with a generous bound so a logic
        # regression surfaces as a loud failure instead of an apparent hang
        # of O(#pairs) window-shuffle Spark jobs. The bound is computed
        # LAZILY (a count() job only once a run looks suspicious) and raised
        # as RuntimeError — a bare assert would both cost the count up front
        # on every healthy call and vanish under python -O.
        max_passes: int | None = None
        n_pass = 0
        while True:
            n_pass += 1
            if max_passes is None and n_pass > 64:
                # still valid as a bound from HERE: each future pass deletes
                # ≥1 of the currently remaining pairs
                max_passes = n_pass + remaining.count() + 1
            if max_passes is not None and n_pass > max_passes:
                raise RuntimeError(
                    f"capacity_fill exceeded {max_passes} passes — each pass must "
                    "delete at least one candidate pair; this is a regression"
                )
            # propose: each id's best not-yet-rejected candidate
            proposals = (
                remaining.withColumn("_choice", F.row_number().over(w_id))
                .where(F.col("_choice") == 1)
                .drop("_choice")
            )
            # tentative admission: each shard holds its cap best proposers and
            # rejects the rest; rejected pairs are DELETED so the id
            # re-proposes to its next candidate next pass. Holds stay
            # tentative — a better re-proposer evicts a worse hold in a later
            # pass.
            ranked = proposals.withColumn("_fill", F.row_number().over(w_shard)).join(
                F.broadcast(caps), "shard"
            )
            with checkpoints() as step:
                rejected = step.pin(ranked.where(F.col("_fill") > F.col("cap")).select("id", "shard"))
                if rejected.limit(1).count() == 0:
                    return cp.keep(ranked.select(*scored.columns))
                remaining = cp.swap(remaining.join(rejected, ["id", "shard"], "left_anti"), remaining)
            if remaining.limit(1).count() == 0:
                return scored.limit(0)


def assign_all_candidates(
    points: DataFrame, centroids: np.ndarray, metric: str = "l2", top_f: int | None = None,
) -> DataFrame:
    """Rate each point against every centroid (or its top_f closest):
    (id, cand, dist) rows. Broadcast NL theta-join ≙ ClosestLeaders
    defs.cpp:87-96."""
    spark = points.sparkSession
    bc = spark.sparkContext.broadcast(centroids)

    def rate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            dists = distance_matrix(X, C, metric)
            idx = topk(dists, top_f or len(C))
            ids = np.repeat(pdf["id"].to_numpy(), idx.shape[1])
            yield pd.DataFrame(
                {
                    "id": ids,
                    "cand": idx.ravel().astype(np.int32),
                    "dist": np.take_along_axis(dists, idx, axis=1).ravel(),
                }
            )

    return points.select("id", "vec").mapInPandas(rate, schema="id long, cand int, dist double")


def balanced_kmeans_bkm(
    points: DataFrame,
    k: int,
    max_cluster_size: int,
    n_lloyd_iter: int = 10,
    max_rounds: int = 30,
    metric: str = "l2",
    seed: int = SEED,
    inflow_slack: float = 0.10,
) -> tuple[np.ndarray, DataFrame]:
    """BKM+ balanced k-means as synchronous supersteps.

    ≙ BalancedKMeans (kmeans.cpp:253-524). Faithful pieces:

    - warm start from plain Lloyd (kmeans.cpp:254);
    - move score = pos_distance(p, c_j) + penalty · |cluster_j|
      (kmeans.cpp:426) with moves gated exactly like the reference: to a
      *larger* cluster only if the penalty threshold allows it
      (kmeans.cpp:433-449);
    - per-point ``penalty_needed`` = (dist_j − dist_old)/(|old|−|j|), the
      adaptive schedule ``penalty = (1.5009 − 0.0009·round) · min penalty``
      (kmeans.cpp:295-301, :474), switching to 1.01 after round 100;
    - track the best *balanced* partition by objective, stop when balanced
      and no longer improving (kmeans.cpp:465-472);
    - final greedy re-migration pins the hard cap (kmeans.cpp:494-515) via
      the iterated ``capacity_fill``.

    Batched deviation (SURVEY §7): the reference interleaves 1000 sequential
    mini-batches per round with continuous size updates; synchronous
    supersteps instead gate each cluster's net inflow per round (capacity
    window over move gain) to prevent the oscillation that continuous
    updates suppress. The invariant that matters — final balance ≤ cap with
    Lloyd-quality objective — is enforced by the same final re-migration the
    reference relies on.
    """
    spark = points.sparkSession
    n = points.count()
    centroids, _ = lloyd(points, k, n_iter=n_lloyd_iter, metric=metric, seed=seed, drop_empty=False)
    k_eff = len(centroids)
    if k_eff * max_cluster_size < n:
        raise ValueError(f"infeasible balance: k={k_eff} × cap={max_cluster_size} < n={n}")
    pts = points.select("id", "vec").repartition("id").cache()

    def sizes_of(asn: DataFrame) -> np.ndarray:
        out = np.zeros(k_eff, dtype=np.int64)
        for r in asn.groupBy("shard").agg(F.count(F.lit(1)).alias("c")).collect():
            out[int(r["shard"])] = int(r["c"])
        return out

    with checkpoints() as cp:  # owns the best balanced assignment
        best_balanced: DataFrame | None = None
        with checkpoints() as cur:  # owns the current assignment
            assignment = cur.pin(assign_to_centroids(points, centroids, metric))
            sizes = sizes_of(assignment)
            penalty = 0.0
            best_objective = np.inf

            for rnd in range(1, max_rounds + 1):
                bc = spark.sparkContext.broadcast((centroids, sizes, penalty))
                state = pts.join(assignment, "id")

                def score_moves(batches):
                    C, SZ, pen = bc.value
                    for pdf in batches:
                        if len(pdf) == 0:
                            continue
                        X = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
                        old = pdf["shard"].to_numpy()
                        d = pos_distance_matrix(X, C, metric)
                        score = d + pen * SZ[None, :]
                        old_d = d[np.arange(len(X)), old]
                        old_sz = SZ[old]
                        denom = old_sz[:, None] - SZ[None, :]
                        denom[denom == 0] = 1
                        pen_needed = (d - old_d[:, None]) / denom
                        # moves to larger clusters allowed only if pen >= pen_needed
                        to_larger = SZ[None, :] >= old_sz[:, None]
                        blocked = to_larger & (pen < pen_needed)
                        score[blocked] = np.inf
                        score[np.arange(len(X)), old] = old_d + pen * old_sz  # own score
                        best = score.argmin(1)
                        gain = score[np.arange(len(X)), old] - score[np.arange(len(X)), best]
                        # min penalty that would unlock a smaller-cluster move
                        pn = np.where((SZ[None, :] < old_sz[:, None]) & (pen < pen_needed), pen_needed, np.inf).min(1)
                        yield pd.DataFrame(
                            {
                                "id": pdf["id"].to_numpy(),
                                "old": old,
                                "new": best.astype(np.int32),
                                "gain": gain,
                                "dist_new": d[np.arange(len(X)), best],
                                "pen_needed": pn,
                            }
                        )

                with checkpoints() as step:
                    moves = step.pin(state.mapInPandas(
                        score_moves, schema="id long, old int, new int, gain double, dist_new double, pen_needed double"
                    ))

                    # inflow gate per target cluster: best gains first (≙ the
                    # continuous size updates of the sequential mini-batches)
                    room = {
                        j: max(0, max_cluster_size - int(sizes[j])) + int(inflow_slack * n / k_eff) for j in range(k_eff)
                    }
                    caps = spark.createDataFrame([(int(j), int(c)) for j, c in room.items()], "new int, cap long")
                    w_cap = Window.partitionBy("new").orderBy(F.col("gain").desc(), F.col("id").asc())
                    applied = (
                        moves.where((F.col("new") != F.col("old")) & (F.col("gain") > 0))
                        .join(F.broadcast(caps), "new")
                        .withColumn("_r", F.row_number().over(w_cap))
                        .where(F.col("_r") <= F.col("cap"))
                        .select("id", F.col("new").alias("shard"))
                    )
                    n_moved = applied.count()
                    assignment = cur.swap(
                        assignment.join(applied.withColumnRenamed("shard", "_ns"), "id", "left")
                        .select("id", F.coalesce("_ns", F.col("shard")).cast("int").alias("shard")),
                        assignment,
                    )
                    # centroid update + objective + per-shard sizes in ONE
                    # aggregation pass (a separate sizes_of() here would
                    # re-shuffle the assignment for counts the superstep
                    # aggregate already computes)
                    centroids, sizes, objective = _superstep_given_assignment(
                        pts, assignment, k_eff, metric, prev_centroids=centroids
                    )
                    min_pen_needed = moves.agg(F.min("pen_needed")).collect()[0][0]

                balanced = (sizes <= max_cluster_size).all()
                if balanced:
                    if objective < best_objective:
                        best_objective = objective
                        best_balanced = cp.swap(assignment, best_balanced)
                    else:
                        break  # balanced, no improvement → quit (kmeans.cpp:470)
                elif min_pen_needed is not None and np.isfinite(min_pen_needed):
                    sched = 1.01 if rnd > 100 else (1.5009 - 0.0009 * rnd)
                    penalty = sched * float(min_pen_needed)
                if n_moved == 0 and balanced:
                    break

            final = best_balanced if best_balanced is not None else assignment
            if final is not assignment:
                # `centroids` tracks the LAST round's assignment; the chosen
                # best may be from an earlier round — re-derive its own
                # centroids so the enforcement's keep/spill ranking and the
                # returned (centroids, assignment) pair are mutually
                # consistent
                centroids, _, _ = _superstep_given_assignment(
                    pts, final, k_eff, metric, prev_centroids=centroids
                )
            # hard enforcement (≙ kmeans.cpp:494-515)
            _, enforced = _enforce_cap(pts, final, centroids, max_cluster_size, metric)
            pts.unpersist()
            return cp.keep((centroids, enforced))


def _superstep_given_assignment(
    pts: DataFrame, assignment: DataFrame, k: int, metric: str, prev_centroids: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, float]:
    """Centroid means and sizes (``shard_centroids``) + objective
    (≙ ObjectiveValue kmeans.cpp:246) for a FIXED assignment.

    A cluster with no members keeps its ``prev_centroids`` row (matching
    ``_superstep``'s empty-cluster rule) — zeroing it would park the
    centroid at the origin, where normalized corpora score every point at
    distance 1 and the penalty schedule dumps arbitrary points into it."""
    C = prev_centroids.copy()
    sizes = np.zeros(k, dtype=np.int64)
    for row in shard_centroids(pts, assignment).collect():
        sizes[row["shard"]] = row["size"]
        C[row["shard"]] = row["vec"]
    joined = pts.join(assignment, "id").select("shard", "vec")
    # objective = Σ dist(p, centroid(assigned)) via one scoring pass
    spark = pts.sparkSession
    bc = spark.sparkContext.broadcast(C)

    def obj(batches):
        CC = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            sh = pdf["shard"].to_numpy()
            dd = distance_matrix(X, CC, metric)
            yield pd.DataFrame({"o": [float(dd[np.arange(len(X)), sh].sum())]})

    total = joined.mapInPandas(obj, schema="o double").agg(F.sum("o")).collect()[0][0] or 0.0
    return C, sizes, float(total)


def _enforce_cap(
    pts: DataFrame, assignment: DataFrame, centroids: np.ndarray, cap: int, metric: str
) -> tuple[np.ndarray, DataFrame]:
    """Greedy overflow re-migration to nearest non-full shard
    (≙ kmeans.cpp:494-515): keep the cap-closest points of each overfull
    shard, capacity_fill the rest into remaining room."""
    spark = pts.sparkSession
    asn = assignment
    with checkpoints() as cp:
        for _ in range(8):
            sizes = {int(r["shard"]): int(r["c"]) for r in asn.groupBy("shard").agg(F.count(F.lit(1)).alias("c")).collect()}
            over = [s for s, c in sizes.items() if c > cap]
            if not over:
                break
            with_own = pts.join(asn, "id")
            bc = spark.sparkContext.broadcast(centroids)

            def own_dist(batches):
                C = bc.value
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    X = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
                    sh = pdf["shard"].to_numpy()
                    dd = distance_matrix(X, C, metric)
                    yield pd.DataFrame({"id": pdf["id"], "shard": sh, "dist": dd[np.arange(len(X)), sh]})

            rated = with_own.mapInPandas(own_dist, schema="id long, shard int, dist double")
            w = Window.partitionBy("shard").orderBy(F.col("dist").asc(), F.col("id").asc())
            ranked = rated.withColumn("_r", F.row_number().over(w))
            keep = ranked.where(~F.col("shard").isin(over) | (F.col("_r") <= cap)).select("id", "shard")
            with checkpoints() as step:
                spill = step.pin(ranked.where(F.col("shard").isin(over) & (F.col("_r") > cap)).select("id"))
                # empty shards are spare capacity too — range over all centroids
                room = {
                    s: cap - int(sizes.get(s, 0)) for s in range(len(centroids)) if int(sizes.get(s, 0)) < cap
                }
                if not room:
                    break
                open_shards = sorted(room)
                sub_c = centroids[open_shards]
                rated_spill = assign_all_candidates(pts.join(spill, "id", "left_semi"), sub_c, metric)
                rated_spill = rated_spill.withColumn(
                    "shard", F.element_at(F.array(*[F.lit(s) for s in open_shards]), F.col("cand") + 1)
                ).drop("cand")
                caps_df = spark.createDataFrame([(int(s), int(c)) for s, c in room.items()], "shard int, cap int")
                placed = step.pin(capacity_fill(rated_spill, caps_df))
                n_spill, n_placed = spill.count(), placed.count()
                if n_placed != n_spill:
                    raise RuntimeError(f"capacity_fill stranded {n_spill - n_placed} of {n_spill} spill points")
                asn = cp.swap(keep.unionByName(placed.select("id", "shard")), asn)
        return cp.keep((centroids, asn.select("id", "shard")))
