import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from gp_ann_spark.eval import recall as R
from gp_ann_spark.operators import kmeans as KM
from gp_ann_spark.operators import partition as P
from gp_ann_spark.operators import routing as RT
from gp_ann_spark.operators import search as S
from gp_ann_spark.operators import shard_searches as SS
from tests.conftest import make_points_df


@pytest.fixture(scope="module")
def setup(spark):
    rng = np.random.default_rng(42)
    centers = rng.normal(size=(4, 8)) * 4
    X = np.vstack([rng.normal(c, 0.4, size=(50, 8)) for c in centers])
    Q = np.vstack([rng.normal(c, 0.4, size=(5, 8)) for c in centers])
    points = make_points_df(spark, X).cache()
    queries = make_points_df(spark, Q, id_col="query_id").cache()
    assignment = P.kmeans_partition(points, 4, n_iter=6).localCheckpoint(eager=True)
    gt = R.ground_truth(points, queries, k=10).localCheckpoint(eager=True)
    return points, queries, assignment, gt, len(Q)


def test_shard_centroids_match_numpy(spark, setup):
    points, _, assignment, _, _ = setup
    rows = {r["shard"]: r for r in KM.shard_centroids(points, assignment).collect()}
    pdf = points.join(assignment, "id").toPandas()
    for s, grp in pdf.groupby("shard"):
        want = np.stack(grp["vec"].to_numpy()).mean(0)
        assert np.allclose(np.array(rows[s]["vec"]), want, atol=1e-5)
        assert rows[s]["size"] == len(grp)


def test_probe_order_policies(spark):
    rows = [
        (1, 0, 0.5, 3), (1, 1, 0.2, 1), (1, 2, 2.0, 6),
    ]
    scored = spark.createDataFrame(rows, "query_id long, shard int, min_dist double, votes long")
    md = [(r["shard"]) for r in RT.probe_order(scored, "min_dist").orderBy("probe_rank").collect()]
    assert md == [1, 0, 2]
    fr = [(r["shard"]) for r in RT.probe_order(scored, "frequency").orderBy("probe_rank").collect()]
    assert fr == [2, 0, 1]
    sp = [(r["shard"]) for r in RT.probe_order(scored, "spann", spann_eps=1.6).orderBy("probe_rank").collect()]
    assert sp == [1, 0]  # 0.5 <= 2.6*0.2? no → only within (1+1.6)*0.2=0.52 → shards 1,0
    with pytest.raises(ValueError):
        RT.probe_order(scored, "bogus")


def test_full_probe_recall_is_one(spark, setup):
    points, queries, assignment, gt, nq = setup
    routes = RT.centroid_router(queries, points, assignment)
    results = S.search_pipeline(points, assignment, queries, routes, k=10, nprobes=4)
    thr = R.distance_to_kth_neighbor(gt, 10)
    assert R.recall(results, thr, 10, nq) == pytest.approx(1.0)


def test_search_results_match_gt_at_full_probes(spark, setup):
    points, queries, assignment, gt, _ = setup
    routes = RT.centroid_router(queries, points, assignment)
    results = S.search_pipeline(points, assignment, queries, routes, k=10, nprobes=4)
    a = sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in results.collect())
    b = sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in gt.collect())
    assert a == b


def test_recall_vs_probes_monotone_and_caps_at_oracle(spark, setup):
    points, queries, assignment, gt, nq = setup
    routes = RT.centroid_router(queries, points, assignment)
    curve = R.recall_vs_probes(gt, assignment, routes, 10, nq).orderBy("nprobes").collect()
    vals = [r["recall"] for r in curve]
    assert vals == sorted(vals)
    assert vals[-1] == pytest.approx(R.max_shard_search_recall(gt, assignment, 10, nq))
    assert vals[-1] == pytest.approx(1.0)  # single-assignment partition covers all


def test_oracle_first_shard_dominates_router(spark, setup):
    points, queries, assignment, gt, nq = setup
    router_routes = RT.centroid_router(queries, points, assignment)
    oracle_routes = R.oracle_probe_order(gt, assignment)
    r_router = R.first_shard_recall(gt, assignment, router_routes, 10, nq)
    r_oracle = R.first_shard_recall(gt, assignment, oracle_routes, 10, nq)
    assert r_oracle >= r_router - 1e-9
    assert r_oracle > 0.5  # clustered data: oracle first shard is strong


def test_kmeans_tree_router_beats_random_first_shard(spark, setup):
    points, queries, assignment, gt, nq = setup
    tree = RT.train_kmeans_tree(points, assignment, branching=8, min_cluster_size=10, seed=1)
    assert tree.count() >= 4  # at least one node per shard
    routes = RT.kmeans_tree_router(queries, tree, num_voting=20)
    r_tree = R.first_shard_recall(gt, assignment, routes, 10, nq)
    rand_routes = (
        queries.select("query_id").crossJoin(spark.range(4).select(F.col("id").cast("int").alias("shard")))
        .withColumn("probe_rank", F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.xxhash64("query_id", "shard"))))
    )
    r_rand = R.first_shard_recall(gt, assignment, rand_routes, 10, nq)
    assert r_tree > r_rand


def test_pareto_front():
    rows = [(0.9, 100.0), (0.8, 200.0), (0.85, 50.0), (0.95, 20.0), (0.9, 100.0), (0.9, 90.0), (0.8, 100.0)]
    df = pd.DataFrame(rows, columns=["recall", "qps"])
    # equal rows do not dominate each other; a tie in one dimension does
    assert SS.pareto_flags(df).tolist() == [True, True, False, True, True, False, False]
    # the pairwise definition as the reference, on a grid full of ties
    rng = np.random.default_rng(5)
    df = pd.DataFrame({"recall": rng.integers(0, 6, 200) / 5, "qps": rng.integers(0, 8, 200) * 10.0})
    want = [
        not any(
            (o.recall >= r.recall and o.qps > r.qps) or (o.recall > r.recall and o.qps >= r.qps)
            for o in df.itertuples()
        )
        for r in df.itertuples()
    ]
    assert SS.pareto_flags(df).tolist() == want


def test_validate_ground_truth_detects_and_repairs(spark, rng):
    X = rng.normal(size=(60, 6)).astype(np.float32)
    pts = make_points_df(spark, X).cache()
    qs = pts.where(F.col("id") < 8).select(F.col("id").alias("query_id"), "vec").localCheckpoint(eager=True)
    gt = R.ground_truth(pts, qs, k=5).localCheckpoint(eager=True)

    # clean GT validates clean (float32-storage noise < 1e-6 can register in
    # the tight eps tiers — that is exactly what the sweep is for)
    _, thr_clean, rep = R.validate_ground_truth(gt, pts, qs, k=5)
    assert rep["wrong_sorts_before"] == 0 and rep["wrong_sorts_after"] == 0
    assert rep["wrong_by_eps"][1e-1] == 0

    # corrupt: perturb one distance by 0.5 and swap ranks 1<->2 for query 0
    corrupted = gt.withColumn(
        "dist",
        F.when((F.col("query_id") == 0) & (F.col("rank") == 3), F.col("dist") + 0.5).otherwise(F.col("dist")),
    ).withColumn(
        "rank",
        F.when((F.col("query_id") == 0) & (F.col("rank") == 1), 2)
        .when((F.col("query_id") == 0) & (F.col("rank") == 2), 1)
        .otherwise(F.col("rank")),
    )
    repaired, thr, rep2 = R.validate_ground_truth(corrupted, pts, qs, k=5)
    assert rep2["distance_mismatches"] >= 1
    assert rep2["wrong_by_eps"][1e-1] == 1  # the 0.5 perturbation
    assert rep2["wrong_sorts_before"] >= 1  # the swapped ranks
    # a rank swap is still mis-sorted after distance recomputation (the
    # reference counts exactly this before its repair sort, recall.h:116-120)
    assert rep2["wrong_sorts_after"] == 1
    # ...and the REPAIRED frame is rank-sorted by distance
    w = Window.partitionBy("query_id").orderBy("rank")
    unsorted = (
        repaired.withColumn("_p", F.lag("dist").over(w))
        .where(F.col("dist") < F.col("_p"))
        .count()
    )
    assert unsorted == 0
    # repaired thresholds equal the clean ones
    diff = (
        thr.withColumnRenamed("threshold", "a")
        .join(thr_clean.withColumnRenamed("threshold", "b"), "query_id")
        .where(F.abs(F.col("a") - F.col("b")) > 1e-9)
        .count()
    )
    assert diff == 0


def test_uniform_sample_router_baseline(spark, setup):
    """≙ the 'uniform sample' arm (analyze_approximation_losses.cpp:223-237):
    seed-420 sampled routing points, each labeled with its own shard. A
    large-budget sample must route at least as well as the random order and
    produce a valid probe permutation per query."""
    points, queries, assignment, gt, nq = setup
    routes = RT.uniform_sample_router(queries, points, assignment, budget=64)
    # valid permutation of probed shards per query
    per_q = routes.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("shard").alias("s"),
        F.max("probe_rank").alias("mx"),
    )
    assert per_q.where(F.col("n") != F.col("s")).count() == 0
    assert per_q.where(F.col("mx") != F.col("n")).count() == 0
    # deterministic across invocations (seeded sample)
    again = RT.uniform_sample_router(queries, points, assignment, budget=64)
    a = {(r["query_id"], r["shard"], r["probe_rank"]) for r in routes.collect()}
    b = {(r["query_id"], r["shard"], r["probe_rank"]) for r in again.collect()}
    assert a == b
    r_sample = R.first_shard_recall(gt, assignment, routes, 10, nq)
    rand_routes = (
        queries.select("query_id").crossJoin(spark.range(4).select(F.col("id").cast("int").alias("shard")))
        .withColumn("probe_rank", F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.xxhash64("query_id", "shard"))))
    )
    r_rand = R.first_shard_recall(gt, assignment, rand_routes, 10, nq)
    assert r_sample > r_rand  # 64 of 160 points sampled: far better than random


# ---------------------------------------------------- blocked scoring kernel
@pytest.fixture(scope="module")
def score_fixture(spark):
    """Routing table with cross-shard duplicate vectors (so the canonical
    (dist, xxhash64) tie-break actually fires at the num_voting boundary)."""
    rng = np.random.default_rng(7)
    V = rng.normal(size=(300, 8))
    V[250:] = V[:50]  # 50 exact duplicates, different rows/shards
    sh = rng.integers(0, 6, 300)
    rp = spark.createDataFrame(
        [(int(s), [float(x) for x in v]) for s, v in zip(sh, V)],
        "shard int, vec array<double>",
    ).cache()
    Q = rng.normal(size=(40, 8))
    qs = spark.createDataFrame(
        [(i, [float(x) for x in q]) for i, q in enumerate(Q)],
        "query_id long, vec array<double>",
    ).cache()
    return rp, qs, Q


def _score_map(df):
    return {(r["query_id"], r["shard"]): (r["min_dist"], r["votes"]) for r in df.collect()}


def test_score_blocked_matches_straightline_oracle(spark, score_fixture):
    """The two-axis-blocked kernel must select the SAME top-nv routing points
    as a per-query straight-line pass (ties by the Spark-side xxhash64 key).
    min_dist may carry last-ulp noise (different BLAS block shapes reorder
    the d-dim reduction), so selection/votes are exact and values ~1e-12."""
    rp, qs, Q = score_fixture
    nv = 25
    got = _score_map(RT.score_routing_points(qs, rp, num_voting=nv))
    shards, vecs, H = RT._collect_routing_table(rp)
    want = {}
    for i, q in enumerate(Q):
        # the kernel's canonical distance IS the per-pair (q-v)² form
        # (_exact_pair_dists) — GEMM only preselects — so the oracle
        # matches it bit-for-bit, not approximately
        d = np.maximum(((vecs - q) ** 2).sum(1), 0.0)
        for j in np.lexsort((H, d))[:nv]:
            s = int(shards[j])
            md, v = want.get((i, s), (np.inf, 0))
            want[(i, s)] = (min(md, d[j]), v + 1)
    assert got == want  # selection, votes AND distances bit-identical


def test_score_tiny_blocks_same_selection(spark, score_fixture):
    """budget_bytes=2048 forces many blocks on both axes — selection and
    votes must not depend on the blocking."""
    rp, qs, _ = score_fixture
    a = _score_map(RT.score_routing_points(qs, rp, num_voting=25))
    b = _score_map(RT.score_routing_points(qs, rp, num_voting=25, budget_bytes=2048))
    assert a == b  # bit-identical, duplicates included: the emitted
    # distances come from the layout-independent per-pair kernel, so a
    # 1-ulp GEMM difference between blocks can never flip a duplicate


def test_score_duplicates_layout_independent_float32(spark, score_fixture):
    """The confirmed r5 review bug: GEMM gives bitwise-identical vectors
    last-ulp-different distances in different column blocks, silently
    defeating the (dist, hash) tie-break. With exact per-pair re-ranking
    the output must be bit-identical across block budgets for BOTH dtypes
    on the duplicate-heavy fixture."""
    rp, qs, _ = score_fixture
    for dt in ("float64", "float32"):
        a = _score_map(RT.score_routing_points(qs, rp, num_voting=25, score_dtype=dt))
        b = _score_map(
            RT.score_routing_points(qs, rp, num_voting=25, score_dtype=dt, budget_bytes=2048)
        )
        assert a == b, dt


def test_score_all_points_aggregate_path_bit_identical(spark, score_fixture):
    """num_voting=None (the min-dist/centroid router semantics) routes the
    distributed case to the AGGREGATE kernel — per-(query, shard) partial
    (min, count), no top-all candidate state — which must be bit-identical
    to the broadcast path, votes = shard sizes included."""
    rp, qs, _ = score_fixture
    a = sorted(tuple(r) for r in RT.score_routing_points(qs, rp, num_voting=None).collect())
    b = sorted(
        tuple(r)
        for r in RT.score_routing_points(
            qs, rp.repartition(7), num_voting=None, distributed=True
        ).collect()
    )
    assert a == b
    # votes under "all points" = the shard's routing-point count, per query
    sizes = {r["shard"]: r["cnt"] for r in rp.groupBy("shard").count().withColumnRenamed("count", "cnt").collect()}
    for (qid, shard, _md, votes) in a:
        assert votes == sizes[shard]


def test_score_distributed_bit_identical_to_broadcast(spark, score_fixture):
    """The distributed (large-routing-table) path is bit-identical to the
    broadcast path at the same block budget — same per-partition kernel,
    same canonical tie-break, Catalyst-side global merge."""
    rp, qs, _ = score_fixture
    a = sorted(tuple(r) for r in RT.score_routing_points(qs, rp, num_voting=25).collect())
    b = sorted(
        tuple(r)
        for r in RT.score_routing_points(
            qs, rp.repartition(7), num_voting=25, distributed=True
        ).collect()
    )
    assert a == b


def test_score_distributed_auto_threshold(spark, score_fixture):
    """max_broadcast_rows below the table size must auto-select the
    distributed path and still agree with the broadcast path."""
    rp, qs, _ = score_fixture
    a = sorted(tuple(r) for r in RT.score_routing_points(qs, rp, num_voting=10).collect())
    b = sorted(
        tuple(r)
        for r in RT.score_routing_points(qs, rp, num_voting=10, max_broadcast_rows=50).collect()
    )
    assert a == b


def test_score_float32_ranks_close(spark, score_fixture):
    """float32 scoring (the at-scale bandwidth option) keeps per-shard vote
    totals within 1 of float64 and min_dist within float32 epsilon."""
    rp, qs, _ = score_fixture
    a = _score_map(RT.score_routing_points(qs, rp, num_voting=25))
    b = _score_map(RT.score_routing_points(qs, rp, num_voting=25, score_dtype="float32"))
    for k in set(a) & set(b):
        assert abs(a[k][1] - b[k][1]) <= 1
        assert a[k][0] == pytest.approx(b[k][0], rel=1e-4, abs=1e-4)


def test_centroid_router_mips_matches_numpy(spark):
    """metric='mips' probe order = ascending 1 − ⟨q, shard_mean⟩ (≙ the
    release_mips build's routing geometry, dist.cpp:50-52): the full
    centroid_router pipeline must reproduce a numpy inner-product oracle,
    including where MIPS and L2 orders genuinely differ (unnormalized
    centroids)."""
    rng = np.random.default_rng(7)
    X = rng.normal(size=(120, 6)) * np.linspace(0.5, 3.0, 120)[:, None]  # varied norms
    Q = rng.normal(size=(9, 6))
    points = make_points_df(spark, X)
    queries = make_points_df(spark, Q, id_col="query_id")
    asn = spark.createDataFrame([(int(i), int(i % 5)) for i in range(120)], "id long, shard int")
    routes = RT.centroid_router(queries, points, asn, metric="mips")
    got = {
        (r["query_id"], r["probe_rank"]): r["shard"]
        for r in routes.collect()
    }
    cents = np.stack([X[np.arange(120) % 5 == s].mean(0) for s in range(5)])
    want_any_differs = False
    for qi, q in enumerate(Q):
        d_mips = 1.0 - cents @ q
        order = np.lexsort((np.arange(5), d_mips))
        for rank, s in enumerate(order, start=1):
            assert got[(qi, rank)] == s
        if list(order) != list(np.lexsort((np.arange(5), ((cents - q) ** 2).sum(1)))):
            want_any_differs = True
    assert want_any_differs  # the fixture actually distinguishes MIPS from L2


def test_recall_short_gt_uses_last_rank_threshold(spark, rng):
    """recall@k over a corpus smaller than k: a perfect result set scores
    n/(nq*k) (every true neighbor within the last-rank threshold), not a
    silent 0.0 from queries losing their rank-k threshold row."""
    X = rng.normal(size=(5, 4)).astype(np.float32)
    pts = make_points_df(spark, X)
    qs = pts.select(F.col("id").alias("query_id"), "vec")
    gt = R.ground_truth(pts, qs, k=10)
    thr = R.distance_to_kth_neighbor(gt, 10)
    assert thr.count() == 5  # one threshold per query despite rank 10 absent
    val = R.recall(gt, thr, k=10, n_queries=5)
    assert val == pytest.approx(5 / 10)


def test_recall_vs_probes_dense_rank_axis(spark):
    """A probe rank at which no GT neighbor is first found still emits a
    row carrying the cumulative recall forward."""
    gt = spark.createDataFrame([(0, 10, 0.0, 1), (0, 11, 1.0, 2)],
                               "query_id long, neighbor_id long, dist double, rank int")
    cover = spark.createDataFrame([(10, 0), (11, 2), (12, 1)], "id long, shard int")
    routes = spark.createDataFrame(
        [(0, 0, 1), (0, 1, 2), (0, 2, 3)], "query_id long, shard int, probe_rank int"
    )
    rows = {r["nprobes"]: r["recall"] for r in R.recall_vs_probes(gt, cover, routes, 2, 1).collect()}
    # neighbor 10 found at rank 1, neighbor 11 at rank 3, rank 2 finds none
    assert rows == {1: pytest.approx(0.5), 2: pytest.approx(0.5), 3: pytest.approx(1.0)}


def test_probe_order_spann_negative_scores_mips(spark):
    """Under MIPS, min_dist = 1 - <q,v> goes negative; the (1+eps)*best
    product rule would then reject every shard INCLUDING the best (since
    (1+eps)*best < best for best < 0). The |best|-band rule must keep the
    best shard and prune by the same relative margin."""
    rows = [(1, 0, -2.0, 1), (1, 1, -1.5, 1), (1, 2, -0.2, 1)]
    scored = spark.createDataFrame(rows, "query_id long, shard int, min_dist double, votes long")
    # band = best + 0.6*|best| = -2.0 + 1.2 = -0.8: keeps -2.0 and -1.5
    sp = [r["shard"] for r in RT.probe_order(scored, "spann", spann_eps=0.6).orderBy("probe_rank").collect()]
    assert sp == [0, 1]
    # positive scores: identical to the reference's (1+eps)*best rule
    rows_l2 = [(1, 0, 0.5, 1), (1, 1, 0.2, 1), (1, 2, 2.0, 1)]
    scored_l2 = spark.createDataFrame(rows_l2, "query_id long, shard int, min_dist double, votes long")
    sp2 = [r["shard"] for r in RT.probe_order(scored_l2, "spann", spann_eps=1.6).orderBy("probe_rank").collect()]
    assert sp2 == [1, 0]


def test_uniform_routing_table_two_phase_matches_naive(spark):
    """Above the two-phase threshold the hash-prefix filter + exact rank
    must select EXACTLY the budget hash-smallest ids — bit-identical to the
    naive full orderBy+limit it replaces."""
    n, budget = 70_000, 500
    pts = (
        spark.range(n)
        .select(F.col("id"), F.array(F.col("id").cast("float"), F.lit(0.0).cast("float")).alias("vec"))
    )
    asn = pts.select("id", (F.col("id") % 7).cast("int").alias("shard"))
    got = sorted(
        r["vec"][0] for r in RT.uniform_routing_table(pts, asn, budget).collect()
    )
    naive = pts.withColumn("_h", F.xxhash64("id", F.lit(420))).orderBy("_h", "id").limit(budget)
    want = sorted(float(r["id"]) for r in naive.collect())
    assert len(got) == budget
    assert got == want


def test_train_kmeans_tree_prefix_sample_matches_window(spark):
    """The hash-prefix pre-filter + rank-survivors sampler must select
    EXACTLY the sample_per_shard hash-smallest points per shard —
    bit-identical to the full-shard window form it replaces — on a fixture
    where the filter actually bites (shards ≫ 4·sample+64)."""
    n, s_per = 1200, 5  # 2 shards × 600 rows ≫ 4·5+64
    pts = spark.range(n).select(
        "id", F.array(F.col("id").cast("float"), F.lit(0.0).cast("float")).alias("vec")
    )
    asn = pts.select("id", (F.col("id") % 2).cast("int").alias("shard"))
    joined = pts.join(asn, "id").select("shard", "id", "vec")
    got = sorted(
        (r["shard"], r["id"]) for r in RT._shard_hash_sample(joined, s_per, RT.SEED).collect()
    )
    w = Window.partitionBy("shard").orderBy(F.xxhash64("id", F.lit(RT.SEED)))
    naive = (
        joined.withColumn("_r", F.row_number().over(w)).where(F.col("_r") <= s_per)
    )
    want = sorted((r["shard"], r["id"]) for r in naive.collect())
    assert len(got) == 2 * s_per
    assert got == want
    # the plan must carry the hash-prefix Filter below the rank window — the
    # whole point is that the window's sort only sees the filtered prefix
    plan = RT._shard_hash_sample(joined, s_per, RT.SEED)._jdf.queryExecution().executedPlan().toString()
    assert "OR (xxhash64" in plan.replace("OR  (", "OR (")


def test_score_distributed_chunked_queries_bit_identical(spark, score_fixture, monkeypatch):
    """Bounding MAX_QUERY_BLOCK_BYTES forces the distributed scorer to
    collect + broadcast the query side in several blocks; per-query
    independence makes the unioned result bit-identical to the broadcast
    path, for both the top-nv and the num_voting=None aggregate kernels."""
    rp, qs, _ = score_fixture
    monkeypatch.setattr(RT, "MAX_QUERY_BLOCK_BYTES", 512)  # d=8 → 8 rows/block
    for nv in (25, None):
        a = sorted(tuple(r) for r in RT.score_routing_points(qs, rp, num_voting=nv).collect())
        b = sorted(
            tuple(r)
            for r in RT.score_routing_points(
                qs, rp.repartition(7), num_voting=nv, distributed=True
            ).collect()
        )
        assert a == b, nv


@pytest.mark.parametrize("null_row", [0, 23])
@pytest.mark.parametrize("block_bytes", [None, 512])
def test_score_distributed_null_query_vector_raises(spark, score_fixture, monkeypatch, null_row, block_bytes):
    """A NULL query vector fails the distributed scorer loudly — in the
    first row (the dimension probe) and in a later row (the collected
    block), with one query block and with several."""
    rp, _, Q = score_fixture
    if block_bytes is not None:
        monkeypatch.setattr(RT, "MAX_QUERY_BLOCK_BYTES", block_bytes)  # d=8 → 8 rows/block
    qs = spark.createDataFrame(
        [(i, None if i == null_row else [float(x) for x in q]) for i, q in enumerate(Q)],
        "query_id long, vec array<double>",
    )
    with pytest.raises(ValueError, match="NULL vectors"):
        RT.score_routing_points(qs, rp, num_voting=25, distributed=True).collect()


def test_score_overflow_all_duplicates_vectorized(spark):
    """Adversarial mass-duplicate routing table: every row is the same
    vector, so EVERY query row overflows the preselect margin in every
    block. The (vectorized) overflow rescore must stay canonical — equal to
    the straight-line (dist, hash) oracle and independent of the block
    budget."""
    rng = np.random.default_rng(11)
    v = rng.normal(size=8)
    n = 300
    sh = rng.integers(0, 5, n)
    rp = spark.createDataFrame(
        [(int(s), [float(x) for x in v]) for s in sh], "shard int, vec array<double>"
    )
    Q = rng.normal(size=(17, 8))
    qs = spark.createDataFrame(
        [(i, [float(x) for x in q]) for i, q in enumerate(Q)], "query_id long, vec array<double>"
    )
    nv = 7
    got = {(r["query_id"], r["shard"]): (r["min_dist"], r["votes"])
           for r in RT.score_routing_points(qs, rp, num_voting=nv).collect()}
    tiny = {(r["query_id"], r["shard"]): (r["min_dist"], r["votes"])
            for r in RT.score_routing_points(qs, rp, num_voting=nv, budget_bytes=2048).collect()}
    shards, vecs, H = RT._collect_routing_table(rp)
    want = {}
    for i, q in enumerate(Q):
        d = np.maximum(((vecs - q) ** 2).sum(1), 0.0)
        for j in np.lexsort((H, d))[:nv]:
            s = int(shards[j])
            md, cnt = want.get((i, s), (np.inf, 0))
            want[(i, s)] = (min(md, d[j]), cnt + 1)
    assert got == want
    assert tiny == want


@pytest.mark.parametrize(
    "bad",
    [{"num_voting": -1}, {"num_voting": 0}, {"score_dtype": "float16"}, {"metric": "cosine"}],
)
def test_score_rejects_bad_inputs_before_any_job(spark, score_fixture, bad):
    """Invalid scorer options fail on the driver with ValueError before the
    size probe or any other Spark job — not inside a Python worker on one
    strategy and as a silently empty (or silently float64) result on the
    other."""
    rp, qs, _ = score_fixture
    sc, group = spark.sparkContext, f"score-bad-input-{bad}"
    sc.setJobGroup(group, "validation must not submit jobs")
    try:
        with pytest.raises(ValueError, match=next(iter(bad))):
            RT.score_routing_points(qs, rp, **bad)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.mark.parametrize("budget", [RT.SCORE_BUDGET_BYTES, 2048])
@pytest.mark.parametrize("nv", [25, None])
@pytest.mark.parametrize("dt", ["float64", "float32"])
@pytest.mark.parametrize("metric", ["l2", "mips"])
def test_score_strategies_agree_on_every_option(spark, score_fixture, metric, dt, nv, budget):
    """Broadcast and distributed scoring share one kernel set, so they are
    bit-identical for every metric × score dtype × num_voting form × block
    budget — not only on the l2 / float64 / default-budget defaults."""
    rp, qs, _ = score_fixture
    kw = dict(num_voting=nv, metric=metric, score_dtype=dt, budget_bytes=budget)
    a = sorted(tuple(r) for r in RT.score_routing_points(qs, rp, distributed=False, **kw).collect())
    b = sorted(
        tuple(r)
        for r in RT.score_routing_points(qs, rp.repartition(7), distributed=True, **kw).collect()
    )
    assert a and a == b


@pytest.mark.parametrize("empty", ["routing_points", "queries"])
@pytest.mark.parametrize("nv", [25, None])
@pytest.mark.parametrize("distributed", [False, True])
def test_score_empty_inputs(spark, score_fixture, empty, nv, distributed):
    """An empty routing table or an empty query set scores to zero rows with
    the scored schema, through both strategies and both forms."""
    rp, qs, _ = score_fixture
    if empty == "routing_points":
        rp = rp.where(F.lit(False))
    else:
        qs = qs.where(F.lit(False))
    out = RT.score_routing_points(qs, rp, num_voting=nv, distributed=distributed)
    assert out.schema.simpleString() == (
        "struct<query_id:bigint,shard:int,min_dist:double,votes:bigint>"
    )
    assert out.collect() == []


def test_score_broadcast_null_query_vector_raises(spark, score_fixture):
    """A NULL query vector fails the broadcast scorer with the same message
    as the distributed one, not with a NumPy shape error."""
    rp, _, Q = score_fixture
    qs = spark.createDataFrame(
        [(i, None if i == 3 else [float(x) for x in q]) for i, q in enumerate(Q)],
        "query_id long, vec array<double>",
    )
    for nv in (25, None):
        with pytest.raises(Exception, match="NULL vectors"):
            RT.score_routing_points(qs, rp, num_voting=nv, distributed=False).collect()
