"""The sublinear in-shard IVF kernel (≙ InvertedIndexHNSW,
inverted_index_hnsw.h:10-78) and its ef sweep (shard_searches.cpp:13)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gp_ann_spark.functions.distances import distance_matrix
from gp_ann_spark.operators import search as S
from gp_ann_spark.operators import shard_searches as SS
from gp_ann_spark.operators.ivf_shard import (
    DEFAULT_SPILL,
    build_ivf,
    ivf_search,
    ivf_search_reference,
)
from tests.conftest import make_points_df


@pytest.fixture(scope="module")
def xq():
    rng = np.random.default_rng(7)
    # clustered data (IVF's operating regime): 8 gaussian blobs
    centers = rng.normal(scale=6.0, size=(8, 16))
    X = np.concatenate([c + rng.normal(size=(120, 16)) for c in centers])
    Q = X[rng.choice(len(X), 40, replace=False)] + rng.normal(scale=0.05, size=(40, 16))
    return X.astype(np.float64), Q.astype(np.float64)


def test_build_ivf_covers_all_points_spilled(xq):
    X, _ = xq
    C, order, starts, ends, primary = build_ivf(X, seed=555)
    # every point present, each in at most `spill` cells, primary counts sum n
    counts = np.bincount(order, minlength=len(X))
    assert (counts >= 1).all() and (counts <= DEFAULT_SPILL).all()
    assert primary.sum() == len(X)
    covered = np.concatenate([order[s:e] for s, e in zip(starts, ends)])
    assert len(covered) == len(order)
    # entries within a cell are unique (dedup is per-query, not per-cell)
    for s, e in zip(starts, ends):
        assert len(np.unique(order[s:e])) == e - s


def test_ivf_exact_at_full_budget_and_monotone(xq):
    X, Q = xq
    idx = build_ivf(X, seed=555)
    exact = distance_matrix(Q, X, "l2").argsort(axis=1, kind="stable")[:, :10]
    got_full, dist_full = ivf_search(Q, X, idx, 10, ef=len(X))
    prev = -1.0
    for ef in (50, 150, 400, len(X)):
        got, _ = ivf_search(Q, X, idx, 10, ef=ef)
        rec = np.mean([len(set(got[i]) & set(exact[i])) / 10 for i in range(len(Q))])
        assert rec >= prev - 1e-12  # nested candidate sets → monotone
        prev = rec
    assert prev == 1.0  # full budget probes every cell → exact
    for i in range(len(Q)):
        assert set(got_full[i]) == set(exact[i])
        assert (np.diff(dist_full[i]) >= -1e-12).all()  # rows sorted


def test_ivf_deterministic(xq):
    X, Q = xq
    a = ivf_search(Q, X, build_ivf(X, seed=555), 10, ef=100)
    b = ivf_search(Q, X, build_ivf(X, seed=555), 10, ef=100)
    for ra, rb in zip(a[0], b[0]):
        assert (ra == rb).all()


@pytest.mark.parametrize("metric", ["l2", "mips", "cosine"])
def test_ivf_vectorized_equals_reference_impl(xq, metric):
    """The batched ragged-gather search path is extensionally identical to
    the straight-line per-query implementation (the r3→r4 vectorization
    contract: same candidates, same (dist, position) tie-break). Cosine is
    the regression for the r5 review finding: the kernel scored cosine
    candidates with the raw MIPS formula (1 - dot on unnormalized rows)."""
    X, Q = xq
    idx = build_ivf(X, seed=555, metric=metric)
    for ef in (30, 100, 400, len(X)):
        a_i, a_d = ivf_search(Q, X, idx, 10, ef, metric)
        b_i, b_d = ivf_search_reference(Q, X, idx, 10, ef, metric)
        for i in range(len(Q)):
            assert np.array_equal(a_i[i], b_i[i])
            assert np.allclose(a_d[i], b_d[i], atol=1e-9)


def test_ivf_cosine_exact_at_full_budget(xq):
    """At full budget the cosine kernel must return the exact cosine top-k —
    NOT the inner-product top-k (they differ on these unnormalized blobs)."""
    X, Q = xq
    idx = build_ivf(X, seed=555, metric="cosine")
    exact = distance_matrix(Q, X, "cosine").argsort(axis=1, kind="stable")[:, :10]
    mips = distance_matrix(Q, X, "mips").argsort(axis=1, kind="stable")[:, :10]
    # sanity: the two metrics disagree on this fixture, so the test can bite
    assert any(set(exact[i]) != set(mips[i]) for i in range(len(Q)))
    got, dist = ivf_search(Q, X, idx, 10, ef=len(X), metric="cosine")
    for i in range(len(Q)):
        assert set(got[i]) == set(exact[i])
        assert (np.diff(dist[i]) >= -1e-12).all()


@pytest.mark.parametrize("metric", ["l2", "mips"])
def test_ivf_recall_floor_large_shard(metric):
    """HNSW-class quality on a realistic 20k-point shard (the regime the
    sf0.01 gate cannot exercise because its label shards are ~50 points):
    recall@10 ≥ 0.9 at ef=200 and ≥ 0.75 at ef=50 vs the exact scan —
    ≙ the reference's per-shard hnswlib at M=32/efC=200 (defs.h:52-56),
    which sits at ~0.9+ on comparable regimes."""
    rng = np.random.default_rng(11)
    n, d, nq, k = 20000, 64, 150, 10
    centers = rng.normal(size=(40, d)) * 3.0
    X = centers[rng.integers(0, 40, n)] + rng.normal(size=(n, d))
    Q = centers[rng.integers(0, 40, nq)] + rng.normal(size=(nq, d))
    D = distance_matrix(Q, X, metric)
    gt = [set(np.argsort(D[i], kind="stable")[:k]) for i in range(nq)]
    idx = build_ivf(X, seed=555, metric=metric)
    rec = {}
    for ef in (50, 200):
        rows, _ = ivf_search(Q, X, idx, k, ef, metric)
        rec[ef] = sum(len(gt[i] & set(rows[i])) for i in range(nq)) / (nq * k)
    assert rec[200] >= 0.9, rec
    assert rec[50] >= 0.75, rec


@pytest.mark.parametrize("metric", ["l2", "mips"])
def test_ivf_sampled_training_recall_and_determinism(metric):
    """The sampled-training path (train_n < n: Lloyd runs on a seeded sample,
    only the final spilled assignment sees every point — FAISS's strategy,
    auto-enabled above SAMPLED_TRAIN_THRESHOLD) must hold the same recall
    floors as the full-train kernel and stay deterministic. Forced here via
    an explicit train_n on the 20k fixture so the test stays fast."""
    rng = np.random.default_rng(11)
    n, d, nq, k = 20000, 64, 150, 10
    centers = rng.normal(size=(40, d)) * 3.0
    X = centers[rng.integers(0, 40, n)] + rng.normal(size=(n, d))
    Q = centers[rng.integers(0, 40, nq)] + rng.normal(size=(nq, d))
    D = distance_matrix(Q, X, metric)
    gt = [set(np.argsort(D[i], kind="stable")[:k]) for i in range(nq)]
    # 256 per cell (the auto policy's per-cell budget at scale): ⌈√20000⌉=142
    idx = build_ivf(X, seed=555, metric=metric, train_n=4000)
    rec = {}
    for ef in (50, 200):
        rows, _ = ivf_search(Q, X, idx, k, ef, metric)
        rec[ef] = sum(len(gt[i] & set(rows[i])) for i in range(nq)) / (nq * k)
    assert rec[200] >= 0.9, rec
    assert rec[50] >= 0.75, rec
    idx2 = build_ivf(X, seed=555, metric=metric, train_n=4000)
    assert all(np.array_equal(a, b) for a, b in zip(idx, idx2))
    # every point still lands in ≤ spill cells with primaries summing to n
    C, order, starts, ends, primary = idx
    counts = np.bincount(order, minlength=n)
    assert (counts >= 1).all() and (counts <= DEFAULT_SPILL).all()
    assert primary.sum() == n


def test_ivf_mips_build_uses_mips_geometry():
    """Under metric='mips' the cells must be trained in MIPS space: with
    points of wildly different norms, L2 cells group by norm while MIPS
    (spherical) cells group by direction — check the spilled entries of a
    high-norm probe's best cell contain its directional neighbors."""
    rng = np.random.default_rng(3)
    d, n = 8, 600
    dirs = rng.normal(size=(3, d))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    X = np.concatenate(
        [dirs[i] * rng.uniform(0.5, 20.0, size=(200, 1)) + rng.normal(scale=0.01, size=(200, d)) for i in range(3)]
    )
    idx_m = build_ivf(X, seed=555, n_cells=3, n_iter=8, metric="mips")
    # MIPS centroids should be near-parallel to one of the three directions
    C = idx_m[0] / np.linalg.norm(idx_m[0], axis=1, keepdims=True)
    best = np.abs(C @ dirs.T).max(axis=1)
    assert (best > 0.95).all(), best


def test_probe_shards_ivf_matches_exact_at_full_ef(spark, rng):
    X = rng.normal(size=(200, 8)).astype(np.float32)
    pts = make_points_df(spark, X).cache()
    asn = pts.select("id", (F.pmod("id", F.lit(4))).cast("int").alias("shard"))
    qs = pts.select(F.col("id").alias("query_id"), "vec").limit(15)
    shards = spark.createDataFrame([(s,) for s in range(4)], "shard int")
    routes = qs.select("query_id").crossJoin(shards).withColumn("probe_rank", F.col("shard") + 1)
    sp = S.shard_points(pts, asn).localCheckpoint(eager=True)
    exact = S.merge_results(S.probe_shards(sp, qs, routes, k=5), 5)
    ivf = S.merge_results(S.probe_shards(sp, qs, routes, k=5, in_shard="ivf", ef=10**9), 5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    v = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
    assert e == v


def test_run_in_shard_searches_ef_axis(spark, rng):
    X = rng.normal(size=(300, 8)).astype(np.float32)
    pts = make_points_df(spark, X).cache()
    asn = pts.select("id", (F.pmod("id", F.lit(3))).cast("int").alias("shard"))
    qs = pts.select(F.col("id").alias("query_id"), "vec").limit(10)
    shards = spark.createDataFrame([(s,) for s in range(3)], "shard int")
    routes = qs.select("query_id").crossJoin(shards).withColumn("probe_rank", F.col("shard") + 1)
    sp = S.shard_points(pts, asn).localCheckpoint(eager=True)
    sr = SS.run_in_shard_searches(
        sp, qs, routes, k=5, ef_values=(20, 1000), reps=1
    ).localCheckpoint(eager=True)
    efs = sorted(r["ef"] for r in sr.select("ef").distinct().collect())
    assert efs == [20, 1000]
    assert sr.where(F.size("neighbors") > 5).count() == 0
    assert sr.where(F.col("time_s") <= 0).count() == 0

    def hits(df, ef):
        return df.where(F.col("ef") == ef).select("shard", "query_id", F.explode("neighbors").alias("n"))

    def same(a, b):
        return a.exceptAll(b).count() + b.exceptAll(a).count() == 0

    # ef=1000 ≥ every shard size → per-shard hits equal the exact search's
    exact = SS.run_in_shard_searches(sp, qs, routes, k=5, reps=1)
    assert same(hits(sr, 1000), hits(exact, 0))
    # one call mixing the exact kernel (ef 0) with IVF at full budget
    mixed = SS.run_in_shard_searches(sp, qs, routes, k=5, ef_values=(0, 1000), reps=1).localCheckpoint(eager=True)
    assert sorted(r["ef"] for r in mixed.select("ef").distinct().collect()) == [0, 1000]
    assert same(hits(mixed, 0), hits(mixed, 1000))


def test_per_shard_searches_skip_empty_sides(spark, rng):
    """A shard that no query probes and a route to a shard without points
    each leave one cogroup side empty: every per-shard search must return
    its declared columns and the same rows as a run without the two."""
    X = rng.normal(size=(120, 8)).astype(np.float32)
    pts = make_points_df(spark, X).cache()
    asn = pts.select("id", (F.pmod("id", F.lit(3))).cast("int").alias("shard"))
    qs = pts.select(F.col("id").alias("query_id"), "vec").where(F.col("query_id") < 8)
    shards = spark.createDataFrame([(0,), (1,)], "shard int")
    routes = qs.select("query_id").crossJoin(shards).withColumn("probe_rank", F.col("shard") + 1)
    # shard 2 holds points but is never probed; shard 7 is probed but empty
    extra_routes = routes.unionByName(
        qs.select("query_id", F.lit(7).alias("shard"), F.lit(3).alias("probe_rank"))
    )
    sp_all = S.shard_points(pts, asn).localCheckpoint(eager=True)
    sp_probed = S.shard_points(pts, asn.where(F.col("shard") < 2)).localCheckpoint(eager=True)
    probe_cols = [
        ("query_id", "bigint"), ("shard", "int"), ("probe_rank", "int"), ("neighbor_id", "bigint"), ("dist", "double")
    ]
    timed_cols = [
        ("shard", "int"), ("query_id", "bigint"), ("probe_rank", "int"), ("ef", "int"), ("neighbors", "array<bigint>")
    ]
    searches = [
        (lambda sp, r: S.probe_shards(sp, qs, r, k=5), probe_cols),
        (lambda sp, r: S.probe_shards(sp, qs, r, k=5, in_shard="ivf", ef=20), probe_cols),
        (lambda sp, r: SS.run_in_shard_searches(sp, qs, r, k=5, reps=1).drop("time_s"), timed_cols),
        (lambda sp, r: SS.run_in_shard_searches(sp, qs, r, k=5, reps=1, ef_values=(20,)).drop("time_s"), timed_cols),
    ]
    for search, cols in searches:
        got = search(sp_all, extra_routes)
        want = search(sp_probed, routes)
        assert got.dtypes == want.dtypes == cols
        got_rows, want_rows = got.collect(), want.collect()
        assert len(want_rows) > 0
        assert sorted(map(_hashable, got_rows)) == sorted(map(_hashable, want_rows))


def _hashable(row):
    return tuple(tuple(v) if isinstance(v, list) else v for v in row)


def _canon_d(q, X):
    """Shape-independent canonical distance: the DIFFERENCE form's reduction
    order depends only on d, never on how pairs were batched — unlike the
    dgemm expansion, whose last-ulp output varies with the call shape."""
    return ((X - q[None, :]) ** 2).sum(-1)


def _kth_excl_self(X, qid, k):
    d = _canon_d(X[qid], X)
    d[qid] = np.inf  # the probe's exclude-self semantics (query IS a point)
    return np.sort(d, kind="stable")[k - 1]


def test_ivf_ties_with_duplicate_vectors_valid_topk(spark, rng):
    """Shards containing DUPLICATE vectors (real corpora have them) tie many
    candidates at the k-th distance, and those ties are only NEAR-ties in
    computed distances (different BLAS call shapes differ in the last ulp —
    the same reassociation the reference tolerates via its 1e-1..1e-10 GT
    validation sweep, recall.h:85-86). The honest contract on such data is
    distance-based validity with ties counting (≙ Recall recall.h:139-150):
    every path must return a top-k whose canonical distances are within eps
    of the canonical k-th distance."""
    k, eps = 5, 1e-9
    base = rng.normal(size=(40, 8))
    X = base[rng.integers(0, 40, 300)].astype(np.float64)  # ~7.5 copies each
    Q = base[rng.integers(0, 40, 30)].astype(np.float64)
    idx = build_ivf(X, seed=555)
    kth_full = np.array([np.sort(_canon_d(q, X), kind="stable")[k - 1] for q in Q])
    for ef in (10, 60, 10**9):
        a_i, _a_d = ivf_search(Q, X, idx, k, ef)
        b_i, _b_d = ivf_search_reference(Q, X, idx, k, ef)
        for i in range(len(Q)):
            # identical candidate sets → same row count; per-rank canonical
            # dists agree within eps (tie groups may permute internally)
            assert len(a_i[i]) == len(b_i[i]) == k
            da = np.sort(_canon_d(Q[i], X[a_i[i]]), kind="stable")
            db = np.sort(_canon_d(Q[i], X[b_i[i]]), kind="stable")
            assert np.allclose(da, db, atol=eps), (ef, i)
            if ef >= len(X):  # full budget → valid GLOBAL top-k, ties count
                assert (da <= kth_full[i] + eps).all(), (ef, i)

    # Spark side: the exact probe and ivf-at-full-budget must EACH return a
    # valid global top-k under the canonical distance (set equality between
    # them is not guaranteed on duplicate data — tie groups resolve by each
    # path's own computed last-ulp distances)
    pts = make_points_df(spark, X).cache()
    asn = pts.select("id", (F.pmod("id", F.lit(4))).cast("int").alias("shard"))
    qs = pts.select(F.col("id").alias("query_id"), "vec").where(F.col("query_id") < 15)
    shards = spark.createDataFrame([(s,) for s in range(4)], "shard int")
    routes = qs.select("query_id").crossJoin(shards).withColumn("probe_rank", F.col("shard") + 1)
    sp = S.shard_points(pts, asn).localCheckpoint(eager=True)
    for in_shard, ef in (("exact", 0), ("ivf", 10**9)):
        res = S.merge_results(S.probe_shards(sp, qs, routes, k=k, in_shard=in_shard, ef=ef), k)
        by_q = {}
        for r in res.select("query_id", "neighbor_id").collect():
            by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
        assert set(by_q) == set(range(15))
        for qid, nbrs in by_q.items():
            assert len(nbrs) == k
            dc = _canon_d(X[qid], X[np.array(nbrs)])
            assert (dc <= _kth_excl_self(X, qid, k) + eps).all(), (in_shard, qid)


def test_exact_probe_emits_k_rows_per_shard_on_duplicate_vectors(spark, rng):
    """Shards full of duplicate vectors tie many candidates at the k-th
    distance. Small-integer coordinates make every distance exact, so the
    ties are real. The exact probe keeps exactly min(k, |shard|) rows per
    (query, shard), chosen in (dist, neighbor_id) order, and the merged
    result is the global (dist, neighbor_id) top-k."""
    k = 4
    base = rng.integers(0, 3, size=(6, 4)).astype(np.float64)
    X = base[rng.integers(0, 6, 60)]
    pts = make_points_df(spark, X)
    asn = pts.select("id", (F.pmod("id", F.lit(3))).cast("int").alias("shard"))
    qs = pts.select(F.col("id").alias("query_id"), "vec").where(F.col("query_id") < 10)
    shards = spark.createDataFrame([(s,) for s in range(3)], "shard int")
    routes = qs.select("query_id").crossJoin(shards).withColumn("probe_rank", F.col("shard") + 1)
    sp = S.shard_points(pts, asn).localCheckpoint(eager=True)
    per_shard = S.probe_shards(sp, qs, routes, k=k).localCheckpoint(eager=True)
    counts = per_shard.groupBy("query_id", "shard").count().collect()
    assert len(counts) == 10 * 3
    assert {r["count"] for r in counts} == {k}
    ids = np.arange(len(X))
    for r in per_shard.collect():
        in_shard = ids[ids % 3 == r["shard"]]
        d = _canon_d(X[r["query_id"]], X[in_shard])
        assert r["neighbor_id"] in in_shard[np.lexsort((in_shard, d))[:k]]
    merged = S.merge_results(per_shard, k).collect()
    got = {(r["query_id"], r["rank"]): (r["dist"], r["neighbor_id"]) for r in merged}
    for q in range(10):
        d = _canon_d(X[q], X)
        for rank, j in enumerate(np.lexsort((ids, d))[:k], start=1):
            assert got[(q, rank)] == (d[j], j)


def test_probe_small_shard_includes_self_match(spark, rng):
    """A query drawn from the probed shard matches its own point (dist 0,
    no self-exclusion), and a shard of n <= k points yields exactly n rows
    per query — the row-count contract the ann_shard_invariants oracle
    encodes as least(k, n), NOT least(k, n-1)."""
    X = rng.normal(size=(5, 8)).astype(np.float32)
    pts = make_points_df(spark, X)
    asn = pts.select("id", F.lit(0).cast("int").alias("shard"))
    qs = pts.select(F.col("id").alias("query_id"), "vec")
    routes = qs.select("query_id").withColumn("shard", F.lit(0)).withColumn("probe_rank", F.lit(1))
    sp = S.shard_points(pts, asn).localCheckpoint(eager=True)
    for in_shard, ef in (("exact", 0), ("ivf", 10**9)):
        res = S.merge_results(S.probe_shards(sp, qs, routes, k=10, in_shard=in_shard, ef=ef), 10).collect()
        assert len(res) == 5 * 5, in_shard
        selfs = {(r["query_id"], r["neighbor_id"]) for r in res if r["query_id"] == r["neighbor_id"]}
        assert len(selfs) == 5, in_shard
