import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from gp_ann_spark.operators import partition as P
from tests.conftest import make_edges_df, make_points_df
from tests.test_graph import two_cliques_bridge


def ring_of_cliques(n_cliques=6, size=6):
    """n_cliques K_size cliques in a ring, adjacent cliques joined by one
    edge — ideal multilevel-partitioner fixture (clear cluster structure)."""
    e = []
    for c in range(n_cliques):
        base = c * size
        for i in range(size):
            for j in range(i + 1, size):
                e.append((base + i, base + j, 1.0))
        nxt = ((c + 1) % n_cliques) * size
        e.append((base, nxt + 1, 0.5))
    return e


def cut_weight(edge_list, assignment):
    return sum(w for a, b, w in edge_list if assignment[a] != assignment[b])


def test_random_partition_deterministic_and_spread(spark):
    pts = spark.range(100).select(F.col("id"))
    a = {r["id"]: r["shard"] for r in P.random_partition(pts, 4).collect()}
    b = {r["id"]: r["shard"] for r in P.random_partition(pts, 4).collect()}
    assert a == b
    assert set(a.values()) == {0, 1, 2, 3}


def test_max_cluster_size():
    assert P.max_cluster_size(100, 4, 0.05) == 26   # floor(26.25), ≙ partition.cpp:88
    assert P.max_cluster_size(1000, 40, 0.05) == 26
    assert P.max_cluster_size(10, 3, 0.0) == 4      # feasibility floor ceil(n/s)


def test_graph_partition_two_cliques(spark):
    edges = make_edges_df(spark, two_cliques_bridge())
    asn = {r["id"]: r["shard"] for r in P.graph_partition(edges, 2, coarse_target=4).collect()}
    assert len(asn) == 10
    # each clique uncut; only the bridge crosses
    assert len({asn[i] for i in range(5)}) == 1
    assert len({asn[i] for i in range(10, 15)}) == 1
    assert asn[0] != asn[10]
    assert cut_weight(two_cliques_bridge(), asn) == 1.0


def test_graph_partition_ring_of_cliques_balance_and_cut(spark):
    el = ring_of_cliques(6, 6)  # 36 vertices
    edges = make_edges_df(spark, el)
    asn_df = P.graph_partition(edges, 3, eps=0.05, coarse_target=12)
    asn = {r["id"]: r["shard"] for r in asn_df.collect()}
    assert len(asn) == 36
    assert P.imbalance(asn_df, 3) <= 1.05 + 1e-9
    # a good 3-way partition cuts at most 3 of the 6 ring links (weight 0.5)
    assert cut_weight(el, asn) <= 3 * 0.5 + 1e-9
    # no clique is split
    for c in range(6):
        assert len({asn[c * 6 + i] for i in range(6)}) == 1


def test_recursive_kmeans_respects_cap(spark, rng):
    X = np.vstack([rng.normal(0, 0.05, size=(80, 4)), rng.normal(4, 0.05, size=(20, 4))])
    df = make_points_df(spark, X).cache()
    asn = P.recursive_kmeans_partition(df, 4, eps=0.05, n_iter=5)
    sizes = [r["c"] for r in asn.groupBy("shard").agg(F.count(F.lit(1)).alias("c")).collect()]
    assert sum(sizes) == 100
    # shard ids dense 0..k-1
    shards = sorted(r["shard"] for r in asn.select("shard").distinct().collect())
    assert shards == list(range(len(shards)))
    assert max(sizes) <= P.max_cluster_size(100, 4, 0.05)


def test_imbalance_metric(spark):
    rows = [(i, 0) for i in range(6)] + [(i, 1) for i in range(6, 10)]
    asn = spark.createDataFrame(rows, "id long, shard int")
    assert P.imbalance(asn, 2) == 6 / 5


def test_overlapping_partition_budget_and_cover(spark):
    el = two_cliques_bridge()
    edges = make_edges_df(spark, el)
    base = spark.createDataFrame(
        [(i, 0) for i in range(5)] + [(i, 1) for i in range(10, 15)], "id long, shard int"
    )
    cover = P.overlapping_partition(edges, base, overlap=0.4, num_shards=2)
    n_extra = cover.count() - 10
    assert 0 < n_extra <= 4  # budget = 0.4 * 10
    # original assignment still contained in the cover
    assert base.exceptAll(cover.select("id", "shard")).count() == 0
    # no duplicate (id, shard) rows
    assert cover.distinct().count() == cover.count()
    # the bridge endpoints have the highest cross-affinity → duplicated first
    extras = cover.exceptAll(base).collect()
    assert {4, 10} <= {r["id"] for r in extras}


def test_overlapping_kmeans_partition(spark, rng):
    from gp_ann_spark.operators import kmeans as KM

    X = np.vstack([rng.normal(c, 0.3, size=(40, 6)) for c in (np.zeros(6), np.ones(6) * 4, np.ones(6) * 8)])
    pts = make_points_df(spark, X).cache()
    cents, asn = KM.lloyd(pts, 3, n_iter=6)
    asn = asn.localCheckpoint(eager=True)
    cover = P.overlapping_kmeans_partition(pts, asn, cents, overlap=0.25)
    n_extra = cover.count() - 120
    assert 0 < n_extra <= 30  # budget = 0.25 * 120
    assert cover.distinct().count() == cover.count()
    assert asn.exceptAll(cover).count() == 0
    # the cap derives from requested_num_clusters, NOT the actual shard
    # count (overlapping_partitioning.cpp:229-233 keeps the original k "so
    # that it chooses the correct max cluster size"): a smaller requested k
    # means a larger per-shard cap, so the cover can only grow
    cover_k2 = P.overlapping_kmeans_partition(
        pts, asn, cents, overlap=0.25, requested_num_clusters=2
    )
    assert cover_k2.count() >= cover.count()
    cap_k2 = P.max_cluster_size(120, 2, 0.05)
    mx = cover_k2.groupBy("shard").count().agg(F.max("count")).collect()[0][0]
    assert mx <= cap_k2


def test_duplicates_in_clusters_diagnostic(spark):
    cover = spark.createDataFrame(
        [(0, 0), (1, 0), (1, 0), (2, 1), (3, 1)], "id long, shard int"
    )
    out = {r["shard"]: (r["total"], r["duplicates"]) for r in P.duplicates_in_clusters(cover).collect()}
    assert out[0] == (3, 1) and out[1] == (2, 0)


def test_initial_partition_packs_disconnected_components(spark):
    """Regression for the greedy-grower reseed fix: on a graph whose
    components are much smaller than n/num_shards, every shard must be
    packed with WHOLE components (cut 0), not one component plus scattered
    leftovers — the pre-fix grower stopped at the first exhausted frontier
    and the leftover loop scattered all later components vertex-by-vertex
    (measured 0.23 cut on a 16-ring fixture where 0.03 was achievable)."""
    el = []
    for c in range(12):  # 12 disjoint K8 cliques, 96 vertices
        base = c * 8
        for i in range(8):
            for j in range(i + 1, 8):
                el.append((base + i, base + j, 1.0))
    edges = make_edges_df(spark, el)
    asn_df = P.graph_partition(edges, 4, coarse_target=200)  # no coarsening
    asn = {r["id"]: r["shard"] for r in asn_df.collect()}
    assert len(asn) == 96
    assert P.imbalance(asn_df, 4) <= 1.05 + 1e-9
    assert cut_weight(el, asn) == 0.0
    for c in range(12):  # every clique lands whole
        assert len({asn[c * 8 + i] for i in range(8)}) == 1


def test_gp_beats_kmeans_on_manifold_rings(spark):
    """The reference's headline ordering (README.md:1, arXiv:2403.01797 §5)
    on the concentric-ring manifold fixture: convex k-means cells must cut
    rings, graph partitioning packs them — GP wins on k-NN edge cut, on
    sampled-router first-shard recall, and on oracle first-shard recall.
    Mirrors the driver gate (q_gp_vs_kmeans_manifold) with the concrete
    seed-7 margins pinned."""
    from gp_ann_spark.fixtures import manifold_rings
    from gp_ann_spark.operators import knn as KNN
    from gp_ann_spark.operators import routing as RT
    from gp_ann_spark.eval import recall as R

    X, ringlab = manifold_rings()
    n = len(X)
    pts = make_points_df(spark, X).cache()
    qs = (
        pts.where(F.col("id") % (n // 128) == 0)
        .select(F.col("id").alias("query_id"), "vec")
        .localCheckpoint(eager=True)
    )
    nq = qs.count()
    gt = R.ground_truth(pts, qs, k=10).localCheckpoint(eager=True)
    edges = KNN.symmetrize(KNN.knn_edges(pts, k=10)).localCheckpoint(eager=True)
    ep = edges.toPandas()
    # the geometry premise: the k-NN graph is ring-separable (<2% bridges)
    bridges = (ringlab[ep["src"].to_numpy()] != ringlab[ep["dst"].to_numpy()]).mean()
    assert bridges < 0.02

    gp = P.graph_partition(edges, 8).localCheckpoint(eager=True)
    km = P.kmeans_partition(pts, 8).localCheckpoint(eager=True)

    def stats(asn):
        a = {r["id"]: r["shard"] for r in asn.collect()}
        sh = np.array([a[i] for i in range(n)])
        cut = (sh[ep["src"].to_numpy()] != sh[ep["dst"].to_numpy()]).mean()
        routes = RT.uniform_sample_router(qs, pts, asn, budget=1024)
        samp = R.first_shard_recall(gt, asn, routes, 10, nq)
        orc = R.first_shard_recall(gt, asn, R.oracle_probe_order(gt, asn), 10, nq)
        return cut, samp, orc

    gp_cut, gp_s, gp_o = stats(gp)
    km_cut, km_s, km_o = stats(km)
    assert P.imbalance(gp, 8) <= 1.05 + 1e-9
    assert P.imbalance(km, 8) <= 1.05 + 1e-9
    # GP finds a near-zero-cut packing; k-means cannot (convex cells)
    assert gp_cut < 0.03 < km_cut < 0.10
    assert gp_cut <= 0.75 * km_cut
    # ...and the cut advantage is visible end-to-end through routing
    assert gp_s >= km_s + 0.015
    assert gp_o >= km_o + 0.005
    pts.unpersist()


def test_leftover_shard_placement_rule():
    """A leftover vertex whose neighbors all sit in FULL shards must fall
    through to the least-loaded shard, not the lowest-index open one; with
    an open max-affinity shard, affinity wins; with no open shard at all,
    least-loaded applies regardless of affinity."""
    loads = np.array([14.0, 13.6, 15.5, 13.0])
    cap = 15.6  # shards 1 and 3 open for w=2, shards 0 and 2 full
    # neighbors only in the full shards 0/2 -> least-loaded open-agnostic
    # fallback = shard 3, NOT the lowest-index open shard 1
    assert P._leftover_shard(np.array([3.0, 0.0, 1.0, 0.0]), loads, 2.0, cap) == 3
    # an open shard with positive affinity wins over lighter zero-affinity
    assert P._leftover_shard(np.array([0.0, 1.0, 0.0, 0.0]), loads, 2.0, cap) == 1
    # no shard open -> least-loaded even if affinity points elsewhere
    assert P._leftover_shard(np.array([5.0, 0.0, 0.0, 0.0]), loads, 10.0, cap) == 3
    # isolated vertex, open shards -> least-loaded
    assert P._leftover_shard(np.zeros(4), loads, 2.0, cap) == 3


def test_grow_once_drains_overfull_leftover_shard():
    """The leftover fallback places into the least-loaded shard even when
    that breaches cap (something must take the vertex); the drain pass must
    repair it whenever a feasible move exists. Instance: weights [6,8,3,1],
    2 shards, cap 9.45, a decoy edge (v0-v3, w=100) so the v0-first growth
    grabs v3 early and strands v2 — its leftover placement lands on the
    load-7 shard (-> 10 > cap); draining the lightest member (v3) to the
    other shard restores both loads to 9, and the KL refinement cannot
    undo it (moving v3 back would breach cap again)."""
    wts = np.array([6.0, 8.0, 3.0, 1.0])
    adj = [{3: 100.0}, {}, {}, {0: 100.0}]
    order = np.array([0, 1, 2, 3])
    part, loads = P._grow_once(adj, wts, order, 2, 9.45, np.random.default_rng(0))
    assert (part >= 0).all()
    assert loads.max() <= 9.45
    assert sorted(loads.tolist()) == [9.0, 9.0]


# ------------------------------------------- driver path vs. Spark path
def knn_graph_edges(spark, n_clusters, per_cluster, dim, k, seed=555):
    """Symmetrized exact k-NN graph (min weight per pair, as
    ``knn.symmetrize``) of a seeded Gaussian mixture."""
    rng = np.random.default_rng(seed)
    X = np.vstack([
        rng.normal(rng.normal(size=dim) * 3, 1.0, size=(per_cluster, dim)) for _ in range(n_clusters)
    ])
    D = ((X[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    np.fill_diagonal(D, np.inf)
    src = np.repeat(np.arange(len(X)), k)
    dst = np.argsort(D, axis=1, kind="stable")[:, :k].ravel()
    e = pd.DataFrame({"src": np.r_[src, dst], "dst": np.r_[dst, src], "weight": np.r_[D[src, dst], D[src, dst]]})
    e = e.groupby(["src", "dst"], as_index=False)["weight"].min()
    return spark.createDataFrame(e, "src long, dst long, weight double").localCheckpoint(eager=True)


def assignment_rows(df):
    return sorted((int(r["id"]), int(r["shard"])) for r in df.collect())


def assert_paths_identical(edges, num_shards, coarse_target):
    spark_path = P._graph_partition_spark(edges, num_shards, 0.05, coarse_target, 3, P.SEED)
    driver_path = P.graph_partition(edges, num_shards, coarse_target=coarse_target)
    got = assignment_rows(driver_path)
    assert got == assignment_rows(spark_path)
    return got


def test_driver_path_matches_spark_path_multilevel(spark):
    """Multilevel case with refinement: 496 vertices coarsen below the
    target of 64, then refine at full resolution into 16 shards."""
    edges = knn_graph_edges(spark, 8, 62, 16, 10)
    got = assert_paths_identical(edges, 16, 64)
    assert len(got) == 496 and len({s for _, s in got}) == 16


def test_driver_path_matches_spark_path_without_coarsening(spark):
    """coarse_target ≥ n: no LP level runs, the initial partition is the
    answer and refinement is skipped."""
    edges = make_edges_df(spark, ring_of_cliques(6, 6))
    assert_paths_identical(edges, 4, 36)


def test_driver_path_matches_spark_path_exact_ties(spark):
    """Integer weights make affinities and gains tie exactly, so every
    tie-break order (cand asc, id asc) decides moves."""
    edges = make_edges_df(spark, ring_of_cliques(6, 6))
    assert_paths_identical(edges, 3, 12)


def test_driver_path_matches_spark_path_isolated_coarse_vertices(spark):
    """Disjoint cliques next to a ring of cliques: each disjoint clique
    contracts to a vertex with no edges, which the next LP level gates with
    a NULL affinity (ordered last) and the initial partition places as a
    leftover."""
    el = ring_of_cliques(6, 6)
    for c in range(3):
        base = 100 + 10 * c
        el += [(base + i, base + j, 1.0) for i in range(5) for j in range(i + 1, 5)]
    assert_paths_identical(make_edges_df(spark, el), 4, 4)


def partition_jobs(spark, edges, group):
    """(assignment rows, Spark jobs run) of one graph_partition call."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rows = assignment_rows(P.graph_partition(edges, 3, coarse_target=12))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def test_graph_partition_small_graph_runs_few_spark_jobs(spark):
    """A graph of at most MAX_DRIVER_EDGES edges is a count, one collect
    and driver work: a silent fall-back to the DataFrame supersteps (dozens
    of jobs) shows here."""
    edges = make_edges_df(spark, ring_of_cliques(6, 6))
    rows, jobs = partition_jobs(spark, edges, "graph_partition_job_probe")
    assert len(rows) == 36
    assert jobs <= 3


def test_graph_partition_over_cutoff_runs_spark_path(spark, monkeypatch):
    """One edge over MAX_DRIVER_EDGES sends graph_partition to the
    DataFrame supersteps, fed by the probe's checkpoint, with the same
    assignment as the driver path."""
    edges = make_edges_df(spark, ring_of_cliques(6, 6))
    driver_rows, _ = partition_jobs(spark, edges, "graph_partition_driver")
    monkeypatch.setattr(P, "MAX_DRIVER_EDGES", edges.count() - 1)
    spark_rows, jobs = partition_jobs(spark, edges, "graph_partition_spark")
    assert spark_rows == driver_rows
    assert jobs > 3


def test_spark_path_size_estimates_stay_bounded(spark, monkeypatch):
    """Over four LP levels the Spark path's carried size estimates would
    compound past 2^63 (a join's estimate is the product of its
    children's); every checkpoint it takes stays at or below Spark's
    no-estimate value, and the assignment still equals the driver path's."""
    from gp_ann_spark import checkpoint as CP

    def size_estimate(df):
        return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()

    raw, kept, levels = [], [], []
    real_checkpoint = CP._local_checkpoint

    def recording_checkpoint(df, eager=True):
        raw.append(size_estimate(df))
        out = real_checkpoint(df, eager)
        kept.append(size_estimate(out))
        return out

    real_level = P._lp_coarsen_level
    monkeypatch.setattr(CP, "_local_checkpoint", recording_checkpoint)
    monkeypatch.setattr(P, "_lp_coarsen_level", lambda *a, **kw: levels.append(1) or real_level(*a, **kw))
    edges = knn_graph_edges(spark, 6, 50, 8, 8)
    assert_paths_identical(edges, 4, 8)
    assert len(levels) >= 4
    assert max(raw) > (1 << 63) - 1
    assert max(kept) <= (1 << 63) - 1
