import numpy as np
import pytest
from pyspark.sql import functions as F

from gp_ann_spark.operators import kmeans as KM
from gp_ann_spark.operators import partition as P
from tests.conftest import make_points_df


def blobs(rng, centers, per=30, d=6, spread=0.05):
    pts = []
    for c in centers:
        pts.append(rng.normal(loc=c, scale=spread, size=(per, d)))
    return np.vstack(pts)


def test_lloyd_recovers_separated_blobs(spark, rng):
    centers = [np.full(6, v) for v in (0.0, 5.0, 10.0)]
    X = blobs(rng, centers)
    df = make_points_df(spark, X).cache()
    centroids, asn = KM.lloyd(df, 3, n_iter=8)
    labels = {r["id"]: r["shard"] for r in asn.collect()}
    for g in range(3):
        group = {labels[i] for i in range(g * 30, (g + 1) * 30)}
        assert len(group) == 1  # each blob in exactly one shard
    assert len({labels[0], labels[30], labels[60]}) == 3
    assert centroids.shape == (3, 6)


def test_assign_matches_numpy_argmin(spark, rng):
    X = rng.normal(size=(40, 5))
    C = rng.normal(size=(4, 5))
    df = make_points_df(spark, X)
    got = {r["id"]: r["shard"] for r in KM.assign_to_centroids(df, C).collect()}
    want = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
    assert got == {i: int(want[i]) for i in range(40)}


def test_lloyd_deterministic(spark, rng):
    X = rng.normal(size=(80, 4))
    df = make_points_df(spark, X).cache()
    c1, a1 = KM.lloyd(df, 4, n_iter=5)
    c2, a2 = KM.lloyd(df, 4, n_iter=5)
    assert np.allclose(c1, c2)
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))


def dominant_blob(rng):
    # plain k-means would put ~all mass in one shard
    return np.vstack([rng.normal(0, 0.05, size=(90, 4)), rng.normal(5, 0.05, size=(10, 4))])


def skewed_blobs(rng):
    return np.vstack(
        [rng.normal(c, 0.3, size=(n, 6)) for c, n in ((np.zeros(6), 70), (np.ones(6) * 5, 20), (np.ones(6) * 10, 10))]
    )


@pytest.mark.parametrize(
    "make, k, eps, n_iter, cap",
    [(dominant_blob, 3, 0.2, 5, 40), (skewed_blobs, 4, 0.05, 6, 26)],
    ids=["dominant_blob", "skewed_blobs"],
)
def test_kmeans_partition_enforces_cap(spark, rng, make, k, eps, n_iter, cap):
    df = make_points_df(spark, make(rng)).cache()
    assert P.max_cluster_size(100, k, eps) == cap
    asn = P.kmeans_partition(df, k, eps=eps, n_iter=n_iter)
    sizes = [r["cnt"] for r in asn.groupBy("shard").agg(F.count(F.lit(1)).alias("cnt")).collect()]
    assert sum(sizes) == 100  # every point assigned exactly once
    assert max(sizes) <= cap
    assert asn.select("id").distinct().count() == 100


def test_capacity_fill_semantics(spark):
    # two shards cap 1; ids 1,2 both prefer shard 0; id 2's better score wins.
    rows = [(1, 0, 0.5), (1, 1, 0.9), (2, 0, 0.1), (2, 1, 0.8)]
    df = spark.createDataFrame(rows, "id long, shard int, dist double")
    out = {(r["id"], r["shard"]) for r in KM.capacity_fill(df, 1).collect()}
    assert out == {(2, 0), (1, 1)}


def test_seeded_sample_deterministic(spark, rng):
    X = rng.normal(size=(50, 3))
    df = make_points_df(spark, X)
    a = KM.seeded_sample_centroids(df, 5, seed=555)
    b = KM.seeded_sample_centroids(df, 5, seed=555)
    assert np.array_equal(a, b)
    c = KM.seeded_sample_centroids(df, 5, seed=556)
    assert not np.array_equal(a, c)


def test_bkm_plus_balances_with_good_objective(spark, rng):
    # one dominant blob (80%) + two small: plain k-means is far from balanced
    X = np.vstack([
        rng.normal(0, 0.05, size=(80, 4)),
        rng.normal(4, 0.05, size=(10, 4)),
        rng.normal(8, 0.05, size=(10, 4)),
    ])
    df = make_points_df(spark, X).cache()
    cap = 40
    cents, asn = KM.balanced_kmeans_bkm(df, 3, cap, n_lloyd_iter=5, max_rounds=10)
    sizes = [r["c"] for r in asn.groupBy("shard").agg(F.count(F.lit(1)).alias("c")).collect()]
    assert sum(sizes) == 100
    assert max(sizes) <= cap
    assert asn.select("id").distinct().count() == 100
    # small blobs must not be split across shards by the balancing
    labels = {r["id"]: r["shard"] for r in asn.collect()}
    assert len({labels[i] for i in range(80, 90)}) == 1
    assert len({labels[i] for i in range(90, 100)}) == 1


def numpy_mips_superstep(X, C):
    """Step simulator for the reference's MIPS spherical update
    (kmeans.cpp:72-100): assign by 1-⟨p,c⟩, sum members with weight 1/‖p‖,
    rescale so ‖C‖² equals the mean member ‖p‖²."""
    d = 1.0 - X @ C.T
    a = d.argmin(axis=1)
    new_c = C.copy()
    for j in range(len(C)):
        m = a == j
        if not m.any():
            continue
        norms = np.linalg.norm(X[m], axis=1)
        safe = np.where(norms == 0.0, 1.0, norms)
        s = (X[m] / safe[:, None]).sum(axis=0)
        desired = float((norms**2).mean())
        cur = float((s * s).sum())
        new_c[j] = s * np.sqrt(desired / cur) if cur > 0 else s
    return new_c


def test_mips_superstep_matches_numpy_simulator(spark, rng):
    X32 = rng.normal(size=(90, 6)).astype(np.float32)
    X = X32.astype(np.float64)  # the DataFrame stores float32 — mirror it
    df = make_points_df(spark, X32).cache()
    C = KM.seeded_sample_centroids(df, 4)
    Cn = C.copy()
    Cs = C.copy()
    for _ in range(3):
        Cs, sizes, _ = KM._superstep(df, Cs, "mips")
        Cn = numpy_mips_superstep(X, Cn)
        np.testing.assert_allclose(Cs, Cn, atol=1e-6)
    assert sizes.sum() == 90


def test_mips_lloyd_matches_simulator_end_to_end(spark, rng):
    X32 = (rng.normal(size=(120, 8)) * 2.0).astype(np.float32)
    X = X32.astype(np.float64)
    df = make_points_df(spark, X32).cache()
    cents, asn = KM.lloyd(df, 3, n_iter=6, metric="mips")
    Cn = KM.seeded_sample_centroids(df, 3)
    for _ in range(6):
        Cn = numpy_mips_superstep(X, Cn)
    np.testing.assert_allclose(cents, Cn, atol=1e-6)
    # and the returned assignment is the argmin against those centroids
    labels = {r["id"]: r["shard"] for r in asn.collect()}
    expect = (1.0 - X @ Cn.T).argmin(axis=1)
    assert all(labels[i] == expect[i] for i in range(len(X)))


def test_superstep_given_assignment_keeps_empty_cluster_centroid(spark, rng):
    """A cluster with no members keeps its previous centroid (matching
    _superstep's rule) — zeroing it parks the centroid at the origin, where
    normalized corpora score every point at distance 1 and the BKM penalty
    schedule dumps arbitrary points into it."""
    X = rng.normal(size=(12, 4)).astype(np.float32)
    pts = make_points_df(spark, X)
    # clusters 0 and 1 populated, cluster 2 empty
    asn = pts.select("id", (F.col("id") % 2).cast("int").alias("shard"))
    prev = np.arange(12, dtype=np.float64).reshape(3, 4)
    C, sizes, _obj = KM._superstep_given_assignment(pts, asn, 3, "l2", prev_centroids=prev)
    assert sizes[2] == 0
    assert np.array_equal(C[2], prev[2])
    assert not np.array_equal(C[0], prev[0])  # populated clusters do update


def test_pyramid_refuses_more_shards_than_aggregates(spark, rng):
    from gp_ann_spark.operators import hierarchical as H

    X = rng.normal(size=(40, 4)).astype(np.float32)
    pts = make_points_df(spark, X)
    with pytest.raises(ValueError, match="unreachable"):
        H.pyramid_partition(pts, num_shards=16, n_aggregates=8)
