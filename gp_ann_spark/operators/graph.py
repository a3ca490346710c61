"""Link-graph analytics over the k-NN edge table: PageRank, connected
components, label propagation, triangle counting, degrees.

These are the BASELINE.json north_rule "convergence witnesses" — first-class
algorithms here, whereas the reference only embeds LP-shaped affinity moves
(``overlapping_partitioning.cpp:23-48``) and degree computations
(``partitioning.cpp:219``). All are iterative DataFrame programs: one
equi-join + one aggregation per superstep, state checkpointed every superstep
(resumable; see ``gp_ann_spark.checkpoint``). ``connected_components`` runs
the same supersteps in NumPy on the driver when the edge table has at most
``MAX_DRIVER_EDGES`` rows.

Scale design notes (100 TB / 10^12 edges):

- edge tables are hash-repartitioned once on the join key and cached; every
  superstep's join then reuses that partitioning (no per-iteration edge
  shuffle — only the small vertex-state side moves);
- aggregations are partial+final (Catalyst HashAggregate) — the distributed
  analogue the reference hand-codes at ``kmeans.cpp:151-204``;
- hub-vertex skew: ``salted_count`` does explicit two-phase (salt, key)
  aggregation; triangle counting orients edges by (degree, id) which bounds
  wedge fan-out by O(sqrt(m)) before any salting is needed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gp_ann_spark.checkpoint import SuperstepCheckpointer, checkpoints

# Largest edge table that connected_components and partition.graph_partition
# collect and solve on the driver; larger ones run as DataFrame supersteps.
# It is the largest size measured on graph_partition's driver path (4-core
# VM, local[4], 16 shards, coarse_target=256): 455,844 corpus k-NN edges
# took 16.5 s (the Spark path: 50.9 s, same assignment) and a 2,801,396-edge
# 2-D mesh 125 s, at a driver-process peak RSS of 293 MB and 904 MB. Most of
# that time is the initial partition of the coarse graph, which runs on the
# driver on both paths. connected_components on a 2,796,612-edge 2-D mesh
# (1.4M vertices, 12 supersteps) took 9.5 s at a driver-process peak RSS of
# 527 MB.
MAX_DRIVER_EDGES = 2_800_000


def mirror(edges: DataFrame, *payload: str) -> DataFrame:
    """Both orientations of every edge, ``(src, dst, *payload)`` and
    ``(dst, src, *payload)``, from ONE pass over ``edges``: a two-struct
    array per row, exploded by ``inline``. ``edges ∪ reversed(edges)`` would
    evaluate the upstream plan once per union branch (exchange reuse does
    not cover a cached input), e.g. the exact k-NN scoring kernel under
    ``knn.symmetrize`` twice. The one edge-mirror definition behind
    ``knn.symmetrize``, ``vertices``, ``degrees``, the CC/LP adjacency, the
    partitioner's coarsening, refinement and overlap adjacency, and
    ``io.write_metis_graph``."""
    keep = [F.col(c) for c in payload]
    fwd = F.struct(F.col("src").alias("src"), F.col("dst").alias("dst"), *keep)
    rev = F.struct(F.col("dst").alias("src"), F.col("src").alias("dst"), *keep)
    return edges.select(F.inline(F.array(fwd, rev)))


def vertices(edges: DataFrame) -> DataFrame:
    """Distinct vertex ids appearing as src or dst."""
    return mirror(edges).select(F.col("src").alias("id")).distinct()


def degrees(edges: DataFrame, directed: bool = False) -> DataFrame:
    """Per-vertex (out-)degree. ≙ partitioning.cpp:219. Undirected mode
    counts each incident edge once per endpoint."""
    rows = edges if directed else mirror(edges)
    return rows.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("degree"))


def salted_count(df: DataFrame, key: str, n_salts: int = 32, salt_src: str | None = None) -> DataFrame:
    """Explicit two-phase salted count for hub keys (north_rule: skew handled
    explicitly, not just via AQE). Phase 1 groups on (key, salt) — spreading
    a hub key over ``n_salts`` reducers; phase 2 sums the partials."""
    salt_col = F.pmod(F.xxhash64(F.col(salt_src) if salt_src else F.monotonically_increasing_id()), F.lit(n_salts))
    partial = df.withColumn("_salt", salt_col).groupBy(key, "_salt").agg(F.count(F.lit(1)).alias("_c"))
    return partial.groupBy(key).agg(F.sum("_c").alias("count"))


def _symmetrized_cached(edges: DataFrame) -> DataFrame:
    """Undirected view of the edge table, partitioned on src and cached —
    the per-superstep join input shared by CC and LP. Materialized eagerly
    so every superstep reuses the one shuffle; callers own the unpersist."""
    sym = mirror(edges).distinct().repartition("src").cache()
    sym.count()
    return sym


# ------------------------------------------------------------------ PageRank
def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    checkpointer: SuperstepCheckpointer | None = None,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge table.

    Semantics (matched by the NumPy/DuckDB oracles to allclose 1e-6):
    ``pr = (1-d)/N + d * (Σ_in pr(u)/outdeg(u) + dangling_mass/N)`` until
    ``max |Δpr| < tol``. Returns ``(id, pagerank, n_iter)``.

    Per-superstep plan: broadcast-able vertex state joins the pre-partitioned
    edge table on src, then one partial+final sum by dst — the only shuffle
    that moves data proportional to |E| happened once at setup.

    ``tol <= 0`` selects fixed-iteration mode: no per-superstep convergence
    action at all; dangling-free graphs (every k-NN graph) pipeline lazily
    between checkpoints, while graphs WITH dangling vertices materialize
    each superstep once (their mass aggregate makes the plan read the rank
    state twice — see the loop comment). Either way the dangling mass stays
    in the plan as a broadcast 1-row aggregate, never a driver collect.
    """
    ckpt = checkpointer or SuperstepCheckpointer(None, "pagerank")
    fixed_iters = tol <= 0.0
    verts = vertices(edges).cache()
    n = verts.count()
    # ONE shuffle builds the degree-annotated edge table: repartition by src,
    # then outdeg via a partition-local window (no second groupBy+join pass).
    # Every superstep's rank⋈edge join reuses this hash partitioning.
    e = (
        edges.select("src", "dst")
        .repartition("src")
        .withColumn("outdeg", F.count(F.lit(1)).over(Window.partitionBy("src")))
        .cache()
    )
    # no separate warm-up count: the dangling probe below is a left_anti
    # against e's FULL src set, so its one job scans (and caches) every
    # partition of e anyway
    dangling = verts.join(e.select("src").distinct(), verts.id == F.col("src"), "left_anti").cache()
    has_dangling = dangling.limit(1).count() > 0

    with checkpoints() as cp:
        ranks, it0 = ckpt.resume(verts.withColumn("pagerank", F.lit(1.0 / n)), {"delta": None})

        n_iter = it0 - 1
        base_const = (1.0 - damping) / n
        for it in range(it0, max_iter + 1):
            n_iter = it
            # one shuffle per superstep: contributions ∪ zero-rows-for-all-verts
            # → a single partial/final sum by id (replaces groupBy(dst) + a
            # second left-join-with-verts shuffle)
            contrib_rows = (
                ranks.join(e, ranks.id == e.src)
                .select(F.col("dst").alias("id"), (F.col("pagerank") / F.col("outdeg")).alias("c"))
            )
            zero_rows = verts.select("id", F.lit(0.0).alias("c"))
            summed = contrib_rows.unionByName(zero_rows).groupBy("id").agg(F.sum("c").alias("_s"))
            if has_dangling:
                # dangling mass stays IN the plan as a broadcast 1-row aggregate
                # — a driver-side collect here would be an action per superstep
                # that, in fixed-iteration mode, re-executes every lazy join
                # since the last checkpoint (the mode's whole point is zero
                # per-superstep actions). Same arithmetic order as the scalar
                # form: (base + d·dm/n) + d·Σc, so values are bit-unchanged.
                dm = (
                    ranks.join(dangling.select("id"), "id", "left_semi")
                    .agg(F.coalesce(F.sum("pagerank"), F.lit(0.0)).alias("_dm"))
                )
                new_ranks = summed.crossJoin(F.broadcast(dm)).select(
                    "id",
                    (
                        F.lit(base_const)
                        + F.lit(damping) * F.col("_dm") / F.lit(float(n))
                        + F.lit(damping) * F.col("_s")
                    ).alias("pagerank"),
                )
            else:
                new_ranks = summed.select(
                    "id", (F.lit(base_const) + F.lit(damping) * F.col("_s")).alias("pagerank")
                )
            if fixed_iters:
                # no convergence action; truncate lineage only every few steps
                if it % checkpoint_every == 0 or it == max_iter:
                    ranks = ckpt.save(new_ranks, it, {"delta": None}, prev=ranks)
                elif has_dangling:
                    # the dangling plan reads `ranks` twice (contributions +
                    # mass aggregate): materialize each superstep once, or lazy
                    # pipelining re-executes the window 2^k times through the
                    # dual reference. Dangling-free graphs (k-NN: every vertex
                    # has out-edges) keep the fully lazy pipeline below.
                    ranks = cp.swap(new_ranks, ranks)
                else:
                    ranks = new_ranks
                continue
            delta = (
                new_ranks.join(ranks.withColumnRenamed("pagerank", "old"), "id")
                .agg(F.max(F.abs(F.col("pagerank") - F.col("old"))).alias("d"))
                .collect()[0]["d"]
            )
            if it % checkpoint_every == 0 or delta < tol:
                ranks = ckpt.save(new_ranks, it, {"delta": float(delta)}, prev=ranks)
            else:
                # must break lineage here: next iter joins new_ranks with its
                # own ancestor (delta) → ambiguous-self-join otherwise
                ranks = cp.swap(new_ranks, ranks)
            if delta < tol:
                break
        e.unpersist()
        dangling.unpersist()
        verts.unpersist()
        return cp.keep(ranks.withColumn("n_iter", F.lit(n_iter)))


# ------------------------------------------------- Connected components (CC)
def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    checkpointer: SuperstepCheckpointer | None = None,
) -> DataFrame:
    """Min-label propagation **with pointer jumping** to fixpoint: component
    id = min vertex id in the component (exact, deterministic). Returns
    ``(id, component)``.

    Each superstep does two label-shrinking moves:

    1. *hash-min push*: take the min label over the (symmetrized) neighbors
       — the classic propagation, distance +1 per step;
    2. *pointer jump*: ``label(v) ← label(label(v))`` — a self-join of the
       label table on ``component = id``, doubling the propagated distance.

    Together convergence is O(log diameter) supersteps instead of
    O(diameter) — the difference between ~12 and ~4000 rounds on the long
    chain components a k-NN graph can contain. Labels only shrink and always
    name a vertex of the same component, so the fixpoint is exactly the
    per-component min (same output as plain min-propagation). At most
    ``max_iter`` supersteps run.

    An edge table of at most ``MAX_DRIVER_EDGES`` rows is collected once
    and the same supersteps run in NumPy on the driver
    (``_connected_components_local``); a larger one runs them as DataFrame
    supersteps (``_connected_components_spark``). Both return the same
    labels and record the same ``{"superstep", "changed"}`` history in the
    checkpointer, superstep 0 being the initial labels. The Spark path saves
    every superstep through the checkpointer; the driver path saves only
    its final labels, so a durable checkpointer resumes either path.
    """
    ckpt = checkpointer or SuperstepCheckpointer(None, "cc")
    # one non-eager checkpoint feeds the size probe and whichever path runs:
    # the count materializes it, so the edges' upstream plan executes once
    with checkpoints() as cp:
        sel = cp.pin(edges.select("src", "dst"), eager=False)
        if sel.count() > MAX_DRIVER_EDGES:
            return cp.keep(_connected_components_spark(sel, max_iter, ckpt))
        pdf = sel.toPandas()
    return _connected_components_local(
        edges.sparkSession, pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64), max_iter, ckpt,
    )


def _connected_components_spark(edges: DataFrame, max_iter: int, ckpt: SuperstepCheckpointer) -> DataFrame:
    """``connected_components`` as DataFrame supersteps. Scale notes: the
    edge table is partitioned once on src and reused every superstep; the
    jump join's probe side is skewed toward popular labels but each probe
    row matches exactly one build row (unique id) — AQE's skew-join split
    keeps the hot partitions bounded."""
    sym = _symmetrized_cached(edges)

    with checkpoints() as cp:
        labels, it0 = ckpt.resume(vertices(edges).withColumn("component", F.col("id")), {"changed": None})

        for it in range(it0, max_iter + 1):
            pushed = (
                labels.join(sym, labels.id == sym.src)
                .groupBy("dst")
                .agg(F.min("component").alias("nbr_min"))
            )
            with checkpoints() as step:
                stepped = step.pin(
                    labels.join(pushed, labels.id == pushed.dst, "left")
                    .select("id", F.least(F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))).alias("component")),
                    # break lineage before the self-join; NON-eager — the changed
                    # count below is the materializing action (one driver job per
                    # superstep saved; the LogicalRDD breaks ambiguity identically)
                    eager=False,
                )
                ptr = stepped.select(F.col("id").alias("_pid"), F.col("component").alias("_pcomp"))
                # the superstep's plan executes ONCE: the changed count
                # materializes this non-eager checkpoint, and the checkpointer
                # takes it as is
                new_labels = cp.pin(
                    stepped.join(ptr, stepped.component == ptr._pid, "left")
                    .select("id", F.coalesce("_pcomp", F.col("component")).alias("component")),
                    eager=False,
                )
                changed = (
                    new_labels.join(labels.withColumnRenamed("component", "old"), "id")
                    .where(F.col("component") != F.col("old"))
                    .count()
                )
            labels = ckpt.save(new_labels, it, {"changed": int(changed)}, prev=labels)
            if changed == 0:
                break
        sym.unpersist()
        return cp.keep(labels)


def _connected_components_local(
    spark: SparkSession, src: np.ndarray, dst: np.ndarray, max_iter: int, ckpt: SuperstepCheckpointer,
) -> DataFrame:
    """``_connected_components_spark`` on a collected edge table, superstep
    for superstep. Vertices are indices into the sorted id array, so a label
    (the index of its min vertex) orders as the id it names."""
    ids = np.unique(np.concatenate([src, dst]))
    # each label push, sender → receiver, sorted by receiver: a superstep's
    # per-vertex neighbour min is one segment reduction
    send = np.searchsorted(ids, np.concatenate([src, dst]))
    recv = np.searchsorted(ids, np.concatenate([dst, src]))
    o = np.argsort(recv, kind="stable")
    send, recv = send[o], recv[o]
    heads = np.flatnonzero(np.r_[True, recv[1:] != recv[:-1]]) if len(recv) else np.empty(0, np.int64)
    start = ckpt.latest()
    if start is None:
        labels, it0, last = np.arange(len(ids)), 1, (0, {"changed": None})
    else:  # resume: the last complete superstep's labels, as indices
        pdf = ckpt.load(spark, start).toPandas()
        labels = np.empty(len(ids), np.int64)
        labels[np.searchsorted(ids, pdf["id"].to_numpy(np.int64))] = np.searchsorted(ids, pdf["component"].to_numpy(np.int64))
        it0, last = start + 1, None
    for it in range(it0, max_iter + 1):
        stepped = labels.copy()
        if len(heads):
            r = recv[heads]
            stepped[r] = np.minimum(stepped[r], np.minimum.reduceat(labels[send], heads))
        new = stepped[stepped]  # pointer jump
        changed = int((new != labels).sum())
        if last is not None:
            ckpt.record(*last)
        labels, last = new, (it, {"changed": changed})
        if changed == 0:
            break
    out = spark.createDataFrame(pd.DataFrame({"id": ids, "component": ids[labels]}), "id long, component long")
    if last is None:  # resumed with no superstep left: the checkpoint holds these labels
        return out
    if ckpt.base_dir is None:
        ckpt.record(*last)
        return out
    with checkpoints() as cp:
        return cp.keep(ckpt.save(out, *last))


# ------------------------------------------------- Label propagation (LP)
def label_propagation(
    edges: DataFrame,
    n_iter: int = 5,
    init_labels: DataFrame | None = None,
    checkpointer: SuperstepCheckpointer | None = None,
) -> DataFrame:
    """Synchronous label propagation with deterministic lowest-label
    tie-break. Returns ``(id, label)`` after ``n_iter`` supersteps.

    ≙ the LP-shaped affinity step of OGP (overlapping_partitioning.cpp:23-48)
    promoted to a first-class algorithm (north_rule); also the coarsening
    step of the graph partitioner. Superstep = join + (id, label) count +
    window argmax with (count desc, label asc) ordering — fully deterministic
    under synchronous updates.
    """
    ckpt = checkpointer or SuperstepCheckpointer(None, "lp")
    sym = _symmetrized_cached(edges)

    with checkpoints() as cp:
        labels, it0 = ckpt.resume((init_labels or vertices(edges).withColumn("label", F.col("id"))).select("id", "label"))

        w = Window.partitionBy("dst").orderBy(F.col("votes").desc(), F.col("label").asc())
        for it in range(it0, n_iter + 1):
            votes = (
                labels.join(sym, labels.id == sym.src)
                .groupBy("dst", "label")
                .agg(F.count(F.lit(1)).alias("votes"))
            )
            best = votes.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).select(
                F.col("dst").alias("id"), F.col("label").alias("new_label")
            )
            new_labels = (
                labels.join(best, "id", "left")
                .select("id", F.coalesce(F.col("new_label"), F.col("label")).alias("label"))
            )
            labels = ckpt.save(new_labels, it, {}, prev=labels)
        sym.unpersist()
        return cp.keep(labels)


# ------------------------------------------------------- Triangle counting
def triangle_count(edges: DataFrame, per_vertex: bool = False) -> DataFrame:
    """Exact triangle counting by degree-ordered orientation + two joins.

    Orient each undirected edge from the (degree, id)-smaller endpoint to the
    larger; every triangle then appears exactly once as a wedge
    u→v, v→w closed by u→w. Orientation bounds the wedge-join fan-out per
    vertex by O(sqrt(m)) — the standard hub-skew mitigation; AQE skew-join
    splits whatever remains.

    Returns 1-row ``(triangles)`` or per-vertex ``(id, triangles)``. The
    per-vertex result is an eagerly materialized localCheckpoint (so the
    internal edge cache can be released before returning); its storage
    belongs to the caller — the context cleaner reclaims it once the caller
    drops the last reference, or ``release_local_checkpoint`` frees it
    immediately.
    """
    und = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = degrees(und.select(F.col("a").alias("src"), F.col("b").alias("dst")))
    da = deg.select(F.col("id").alias("a"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("id").alias("b"), F.col("degree").alias("deg_b"))
    oriented = (
        und.join(da, "a").join(db, "b")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            ).otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v"))).alias("e")
        )
        .select("e.u", "e.v")
    ).cache()
    e1 = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = oriented.select(F.col("u").alias("y"), F.col("v").alias("z"))
    wedges = e1.join(e2, "y").select("x", "y", "z")
    closing = oriented.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tris = wedges.join(closing, ["x", "z"])
    # materialize the result eagerly so the 3×-reused oriented cache can be
    # released HERE — a lazily returned plan would pin it in executor
    # storage for the session's lifetime (the other graph ops all unpersist
    # their cached edge frames before returning)
    spark = edges.sparkSession
    if not per_vertex:
        n_tris = tris.agg(F.count(F.lit(1)).alias("triangles")).collect()[0][0]
        oriented.unpersist()
        return spark.createDataFrame([(int(n_tris),)], "triangles long")
    corners = (
        tris.select(F.col("x").alias("id"))
        .unionByName(tris.select(F.col("y").alias("id")))
        .unionByName(tris.select(F.col("z").alias("id")))
    )
    with checkpoints() as cp:
        res = cp.pin(corners.groupBy("id").agg(F.count(F.lit(1)).alias("triangles")))
        oriented.unpersist()
        return cp.keep(res)
