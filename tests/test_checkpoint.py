"""Checkpoint scopes: ownership rules, and no operator leaves persisted RDDs
behind once its result is released."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gp_ann_spark.checkpoint import checkpoints
from gp_ann_spark.operators import graph as G
from gp_ann_spark.operators import knn as KNN
from gp_ann_spark.operators import knn_approx as KA
from gp_ann_spark.operators import partition as P

from tests.conftest import make_points_df


def persisted_ids(spark):
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
    out = set()
    while it.hasNext():
        out.add(int(it.next()))
    return out


def rdd_id(df):
    return df._jdf.queryExecution().analyzed().rdd().id()


def release_result(df):
    """Release the checkpoints a result is built on: the caller's storage."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getName().endswith("LogicalRDD"):
            leaf.rdd().unpersist(False)


def test_result_keeps_unmaterialized_upstream_pin(spark):
    base = spark.range(40).withColumn("g", F.col("id") % 4)
    with checkpoints() as cp:
        a = cp.pin(base)
        b = cp.pin(a.select((F.col("id") * 2).alias("x")), eager=False)
        out = cp.keep(b)
    assert {rdd_id(a), rdd_id(b)} <= persisted_ids(spark)
    assert sorted(r["x"] for r in out.collect()) == list(range(0, 80, 2))
    # once the reader materializes, the upstream pin is no longer read
    with checkpoints() as cp:
        a = cp.pin(base)
        b = cp.pin(a.select("id"), eager=False)
        b.count()
        cp.keep(b)
    assert rdd_id(a) not in persisted_ids(spark)
    assert rdd_id(b) in persisted_ids(spark)


def test_swap_never_releases_what_the_scope_did_not_pin(spark):
    with checkpoints() as outer:
        theirs = outer.pin(spark.range(10))
        with checkpoints() as cp:
            state = cp.swap(theirs.select((F.col("id") + 1).alias("id")), theirs)
            state = cp.swap(state.select((F.col("id") + 1).alias("id")), state)
            assert rdd_id(theirs) in persisted_ids(spark)
        assert theirs.count() == 10


def test_leftover_passes_to_enclosing_scope(spark):
    def inner(df):
        with checkpoints() as cp:
            return cp.keep(cp.pin(df).select("id"))

    with checkpoints() as cp:
        lazy = inner(spark.range(12))
        leaf = lazy._jdf.queryExecution().analyzed().collectLeaves().apply(0).rdd().id()
        assert leaf in persisted_ids(spark)
        done = cp.pin(lazy)
    # nothing reads the leftover once the enclosing scope's pin materialized
    assert leaf not in persisted_ids(spark)
    assert rdd_id(done) not in persisted_ids(spark)


def test_exception_releases_the_scopes_pins(spark):
    with pytest.raises(RuntimeError):
        with checkpoints() as cp:
            a = cp.pin(spark.range(5))
            rid = rdd_id(a)
            assert rid in persisted_ids(spark)
            raise RuntimeError("boom")
    assert rid not in persisted_ids(spark)


@pytest.fixture(scope="module")
def small_graph(spark):
    rng = np.random.default_rng(7)
    X = np.vstack([rng.normal(rng.normal(size=8) * 4, 1.0, size=(60, 8)) for _ in range(5)])
    pts = make_points_df(spark, X).localCheckpoint(eager=True)
    edges = KNN.symmetrize(KNN.knn_edges(pts, k=5)).localCheckpoint(eager=True)
    asn = P.random_partition(pts, 4).localCheckpoint(eager=True)
    return pts, edges, asn


def forced(module, name, value, fn):
    """``fn()`` with the hand-off constant ``module.name`` set to ``value``."""
    old = getattr(module, name)
    setattr(module, name, value)
    try:
        return fn()
    finally:
        setattr(module, name, old)


def knn_graph(pts):
    return KA.build_knn_graph(pts, k=5, max_cluster_size=40, top_level_leaders=6, repetitions=2)


OPERATORS = {
    "build_knn_graph": lambda pts, edges, asn: knn_graph(pts),
    "build_knn_graph_supersteps": lambda pts, edges, asn: forced(KA, "MAX_TASK_POINTS", -1, lambda: knn_graph(pts)),
    "connected_components": lambda pts, edges, asn: G.connected_components(edges),
    "connected_components_spark": lambda pts, edges, asn: forced(
        G, "MAX_DRIVER_EDGES", -1, lambda: G.connected_components(edges)
    ),
    "pagerank": lambda pts, edges, asn: G.pagerank(edges, max_iter=6),
    "graph_partition_spark": lambda pts, edges, asn: P._graph_partition_spark(edges, 4, 0.05, 32, 2, P.SEED),
    "kmeans_partition": lambda pts, edges, asn: P.kmeans_partition(pts, 4, n_iter=3),
    "overlapping_partition": lambda pts, edges, asn: P.overlapping_partition(edges, asn, num_shards=4),
}


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_operator_leaves_no_persisted_rdds(spark, small_graph, name):
    """Spark's context cleaner can only lower the count, so the bound is
    stable: everything the operator persisted is released with its result
    or before it returns."""
    sc = spark.sparkContext
    before = sc._jsc.sc().getPersistentRDDs().size()
    result = OPERATORS[name](*small_graph)
    assert result.count() > 0
    release_result(result)
    assert sc._jsc.sc().getPersistentRDDs().size() <= before
