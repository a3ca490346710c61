import numpy as np
import pytest
from pyspark.sql import functions as F

from gp_ann_spark.operators import knn
from tests.conftest import make_points_df


def brute_force_oracle(base, queries, k, exclude_self=False):
    """O(n^2) NumPy oracle ≙ reference BuildExactKNNGraph knn_graph.h:30-34."""
    d = ((queries[:, None, :] - base[None, :, :]) ** 2).sum(-1)
    if exclude_self:
        for i in range(len(queries)):
            d[i, i] = np.inf
    out = {}
    for i in range(len(queries)):
        order = np.lexsort((np.arange(len(base)), d[i]))
        out[i] = [int(j) for j in order[:k] if np.isfinite(d[i, j])]
    return out


def test_exact_knn_matches_numpy_oracle(spark, rng):
    base = rng.normal(size=(120, 8))
    qs = rng.normal(size=(15, 8))
    pdf = make_points_df(spark, base)
    qdf = make_points_df(spark, qs, id_col="query_id")
    got = knn.exact_knn(pdf, qdf, k=5).orderBy("query_id", "rank").collect()
    want = brute_force_oracle(base, qs, 5)
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert by_q == want


def test_exact_knn_sql_agrees_with_arrow_path(spark, rng):
    base = rng.normal(size=(60, 6))
    pdf = make_points_df(spark, base)
    qdf = make_points_df(spark, base[:10], id_col="query_id")
    a = knn.exact_knn(pdf, qdf, k=4).select("query_id", "rank", "neighbor_id").orderBy("query_id", "rank").collect()
    b = knn.exact_knn_sql(pdf, qdf, k=4).select("query_id", "rank", "neighbor_id").orderBy("query_id", "rank").collect()
    assert a == b


def test_exact_knn_refuses_queries_over_the_broadcast_cap(spark, rng, monkeypatch):
    monkeypatch.setattr(knn, "MAX_BROADCAST_QUERIES", 5)
    base = rng.normal(size=(20, 4))
    with pytest.raises(ValueError, match="MAX_BROADCAST_QUERIES"):
        knn.exact_knn(make_points_df(spark, base), make_points_df(spark, base[:6], id_col="query_id"), k=3)


def test_knn_edges_and_symmetrize(spark, rng):
    base = rng.normal(size=(50, 4))
    pdf = make_points_df(spark, base)
    edges = knn.knn_edges(pdf, k=3)
    assert edges.where(F.col("src") == F.col("dst")).count() == 0
    assert edges.groupBy("src").count().agg(F.max("count")).collect()[0][0] == 3
    sym = knn.symmetrize(edges)
    rev = sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    assert sym.select("src", "dst").exceptAll(rev).count() == 0  # symmetric


def test_merge_topk_dedups_and_bounds(spark):
    rows = [(1, 2, 0.5), (1, 2, 0.3), (1, 3, 0.1), (1, 4, 0.2), (2, 1, 0.9)]
    df = spark.createDataFrame(rows, "src long, dst long, weight double")
    out = knn.merge_topk(df, k=2).orderBy("src", "weight").collect()
    assert [(r["src"], r["dst"], r["weight"]) for r in out] == [(1, 3, 0.1), (1, 4, 0.2), (2, 1, 0.9)]


def test_exact_knn_empty_query_set(spark, rng):
    """An empty query batch yields an empty (schema-stable) result, not a
    np.stack ValueError — delta/streaming paths delegate here with
    possibly-empty batches."""
    X = rng.normal(size=(20, 4)).astype(np.float32)
    pts = make_points_df(spark, X)
    qs = pts.select(F.col("id").alias("query_id"), "vec").where(F.lit(False))
    res = knn.exact_knn(pts, qs, k=3)
    assert res.columns == ["query_id", "neighbor_id", "dist", "rank"]
    assert res.count() == 0
