import numpy as np
import pytest

from gp_ann_spark.functions import distances as D


@pytest.fixture()
def ab(rng):
    return rng.normal(size=(7, 16)), rng.normal(size=(5, 16))


def test_pairwise_sqr_l2_matches_naive(ab):
    a, b = ab
    naive = ((a[:, None, :] - b[None, :, :]) ** 2).sum(-1)
    assert np.allclose(D.pairwise_sqr_l2(a, b), naive, atol=1e-9)


def test_mips_matches_naive(ab):
    a, b = ab
    assert np.allclose(D.mips_distance_matrix(a, b), 1.0 - a @ b.T)


def test_pos_distance_nonnegative_for_unit_vectors(ab):
    a, b = ab
    an, bn = D.l2_normalize(a), D.l2_normalize(b)
    assert (D.pos_distance_matrix(an, bn, "mips") >= 0).all()
    assert (D.pos_distance_matrix(a, b, "l2") >= 0).all()


def test_l2_normalize(ab):
    a, _ = ab
    n = D.vec_norm(D.l2_normalize(a))
    assert np.allclose(n, 1.0)
    z = D.l2_normalize(np.zeros((2, 4)))
    assert (z == 0).all()


def test_sql_sqr_l2_matches_numpy(spark, ab):
    a, b = ab
    from pyspark.sql import functions as F

    rows = [([float(x) for x in a[i]], [float(y) for y in b[i % len(b)]]) for i in range(len(a))]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    got = np.array([r[0] for r in df.select(D.sql_sqr_l2(F.col("a"), F.col("b"))).collect()])
    want = np.array([((a[i] - b[i % len(b)]) ** 2).sum() for i in range(len(a))])
    assert np.allclose(got, want, atol=1e-9)


def test_metric_dispatch_rejects_unknown():
    with pytest.raises(ValueError):
        D.distance_matrix(np.zeros((1, 2)), np.zeros((1, 2)), "cosine!")
    # cosine is a SEARCH metric only — the clustering kernel rejects it
    with pytest.raises(ValueError):
        D.pos_distance_matrix(np.zeros((1, 2)), np.zeros((1, 2)), "cosine")


def test_cosine_matches_naive(ab):
    a, b = ab
    na = a / np.linalg.norm(a, axis=1, keepdims=True)
    nb = b / np.linalg.norm(b, axis=1, keepdims=True)
    naive = 1.0 - na @ nb.T
    assert np.allclose(D.cosine_distance_matrix(a, b), naive, atol=1e-12)
    assert np.allclose(D.distance_matrix(a, b, "cosine"), naive, atol=1e-12)
    # zero rows: cosine 0 → distance 1 (l2_normalize keeps zeros at zero)
    z = D.cosine_distance_matrix(np.zeros((2, b.shape[1])), b[:1])
    assert np.allclose(z, 1.0)


def test_sql_cosine_matches_numpy(spark, ab):
    a, b = ab
    from pyspark.sql import functions as F

    rows = [([float(x) for x in a[i]], [float(y) for y in b[i % len(b)]]) for i in range(len(a))]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    got = np.array([r[0] for r in df.select(D.sql_distance(F.col("a"), F.col("b"), "cosine")).collect()])
    want = np.array(
        [D.cosine_distance_matrix(a[i : i + 1], b[i % len(b)][None, :])[0, 0] for i in range(len(a))]
    )
    assert np.allclose(got, want, atol=1e-9)

