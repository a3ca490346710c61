"""Graph-witness tests (FIXTURES.md §3): tiny hand-checkable graphs vs
NumPy/union-find/exact-enumeration oracles — allclose 1e-6 / exact."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gp_ann_spark.operators import graph as G
from tests.conftest import make_edges_df


def path_graph(n=8):
    return [(i, i + 1, 1.0) for i in range(n - 1)]


def two_cliques_bridge():
    """Two K5s (vertices 0-4 and 10-14) joined by bridge (4,10)."""
    e = []
    for base in (0, 10):
        for i in range(5):
            for j in range(i + 1, 5):
                e.append((base + i, base + j, 1.0))
    e.append((4, 10, 1.0))
    return e


def star_graph(spokes=50):
    return [(0, i, 1.0) for i in range(1, spokes + 1)]


def numpy_pagerank(edge_list, d=0.85, tol=1e-10):
    """Power-iteration oracle (FIXTURES.md §3) — same dangling semantics."""
    vs = sorted({a for a, b, _ in edge_list} | {b for a, b, _ in edge_list})
    idx = {v: i for i, v in enumerate(vs)}
    n = len(vs)
    out = np.zeros(n)
    for a, b, _ in edge_list:
        out[idx[a]] += 1
    pr = np.full(n, 1.0 / n)
    for _ in range(1000):
        new = np.full(n, (1.0 - d) / n)
        dangling = pr[out == 0].sum()
        new += d * dangling / n
        for a, b, _ in edge_list:
            new[idx[b]] += d * pr[idx[a]] / out[idx[a]]
        if np.abs(new - pr).max() < tol:
            pr = new
            break
        pr = new
    return {v: pr[idx[v]] for v in vs}


@pytest.mark.parametrize("maker", [path_graph, two_cliques_bridge, star_graph])
def test_pagerank_matches_numpy_oracle(spark, maker):
    edges = make_edges_df(spark, maker())
    got = {r["id"]: r["pagerank"] for r in G.pagerank(edges, tol=1e-8).collect()}
    want = numpy_pagerank(maker())
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-6)


def test_connected_components_exact(spark):
    # two cliques + bridge = one component; remove bridge = two
    full = make_edges_df(spark, two_cliques_bridge())
    one = G.connected_components(full)
    assert one.select("component").distinct().count() == 1
    no_bridge = full.where(~((F.col("src") == 4) & (F.col("dst") == 10)))
    two = G.connected_components(no_bridge)
    comp = {r["id"]: r["component"] for r in two.collect()}
    assert {comp[i] for i in range(5)} == {0}
    assert {comp[i] for i in range(10, 15)} == {10}


def test_connected_components_path_converges(spark):
    labels = G.connected_components(make_edges_df(spark, path_graph(8)))
    assert {r["component"] for r in labels.collect()} == {0}


def test_connected_components_log_rounds_on_long_chain(spark):
    """Pointer jumping must converge in O(log diameter) supersteps:
    a 64-vertex path (diameter 63) needs ≤ 10 rounds, not ~63."""
    from gp_ann_spark.checkpoint import SuperstepCheckpointer

    cp = SuperstepCheckpointer(None, "cc_chain")
    labels = G.connected_components(make_edges_df(spark, path_graph(64)), checkpointer=cp)
    assert {r["component"] for r in labels.collect()} == {0}
    n_supersteps = len(cp.history) - 1  # history[0] is the init save
    assert cp.history[0] == {"superstep": 0, "changed": None}
    assert n_supersteps >= 1 and cp.history[-1]["changed"] == 0
    assert n_supersteps <= 10, f"expected O(log n) rounds, took {n_supersteps}"


def test_label_propagation_cliques(spark):
    """After LP on two bridged cliques, each clique converges to its lowest
    label (deterministic lowest-label tie-break)."""
    edges = make_edges_df(spark, two_cliques_bridge())
    labels = {r["id"]: r["label"] for r in G.label_propagation(edges, n_iter=5).collect()}
    assert {labels[i] for i in range(5)} == {0}
    assert {labels[i] for i in range(11, 15)} == {10}


def test_label_propagation_deterministic(spark):
    edges = make_edges_df(spark, two_cliques_bridge())
    a = sorted((r["id"], r["label"]) for r in G.label_propagation(edges, n_iter=3).collect())
    b = sorted((r["id"], r["label"]) for r in G.label_propagation(edges, n_iter=3).collect())
    assert a == b


def test_triangle_count_exact(spark):
    # K5 has C(5,3)=10 triangles; two K5s + bridge = 20, bridge adds none.
    assert G.triangle_count(make_edges_df(spark, two_cliques_bridge())).collect()[0]["triangles"] == 20
    assert G.triangle_count(make_edges_df(spark, path_graph(8))).collect()[0]["triangles"] == 0
    assert G.triangle_count(make_edges_df(spark, star_graph(20))).collect()[0]["triangles"] == 0


def test_triangle_count_per_vertex(spark):
    tri = [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0), (2, 3, 1.0)]
    got = {r["id"]: r["triangles"] for r in G.triangle_count(make_edges_df(spark, tri), per_vertex=True).collect()}
    assert got == {0: 1, 1: 1, 2: 1}


def test_degrees_and_salted_count_agree(spark):
    edges = make_edges_df(spark, star_graph(30))
    plain = {r["id"]: r["degree"] for r in G.degrees(edges).collect()}
    assert plain[0] == 30
    both = edges.select(F.col("src").alias("id")).unionByName(edges.select(F.col("dst").alias("id")))
    salted = {r["id"]: r["count"] for r in G.salted_count(both, "id", n_salts=8).collect()}
    assert salted == plain


def test_pagerank_checkpoint_resume(spark, tmp_path):
    """north_rule: kill after superstep t, resume from checkpoint, identical
    final scores."""
    from gp_ann_spark.checkpoint import SuperstepCheckpointer

    edges = make_edges_df(spark, two_cliques_bridge())
    full = G.pagerank(edges, tol=1e-8)
    ref = {r["id"]: r["pagerank"] for r in full.collect()}

    cp_dir = str(tmp_path / "cp")
    cp1 = SuperstepCheckpointer(cp_dir, "pr")
    G.pagerank(edges, tol=1e-8, max_iter=3, checkpointer=cp1, checkpoint_every=1)  # "killed" at t=3
    assert cp1.latest() == 3
    meta = cp1.load_meta(3)
    assert meta["rows"] == 10 and meta["partitions"]  # per-partition lineage

    cp2 = SuperstepCheckpointer(cp_dir, "pr")
    resumed = G.pagerank(edges, tol=1e-8, checkpointer=cp2, checkpoint_every=1)
    got = {r["id"]: r["pagerank"] for r in resumed.collect()}
    assert resumed.select("n_iter").first()["n_iter"] > 3
    for v in ref:
        assert got[v] == pytest.approx(ref[v], abs=1e-9)


def cc_both_paths(spark, monkeypatch, edge_list, **kw):
    """(rows, history) of connected_components on the driver path and on
    the DataFrame supersteps, MAX_DRIVER_EDGES monkeypatched to force each."""
    from gp_ann_spark.checkpoint import SuperstepCheckpointer

    edges = make_edges_df(spark, edge_list)
    out = []
    for cutoff in (G.MAX_DRIVER_EDGES, -1):
        monkeypatch.setattr(G, "MAX_DRIVER_EDGES", cutoff)
        cp = SuperstepCheckpointer(None, "cc")
        rows = sorted((r["id"], r["component"]) for r in G.connected_components(edges, checkpointer=cp, **kw).collect())
        out.append((rows, cp.history))
    return out


@pytest.mark.parametrize(
    "case",
    [
        pytest.param(dict(edge_list=two_cliques_bridge()[:-1] + star_graph(4)[1:]), id="disconnected"),
        pytest.param(dict(edge_list=path_graph(64)), id="chain64"),
        pytest.param(dict(edge_list=path_graph(64), max_iter=2), id="chain64_max_iter_2"),
    ],
)
def test_connected_components_driver_path_equals_supersteps(spark, monkeypatch, case):
    """Same labels and the same per-superstep ``changed`` history on both
    sides of the hand-off, also when ``max_iter`` stops before convergence."""
    (local, local_hist), (spark_rows, spark_hist) = cc_both_paths(spark, monkeypatch, **case)
    assert local == spark_rows
    assert local_hist == spark_hist
    if case.get("max_iter") == 2:
        assert len(local_hist) == 3 and local_hist[-1]["changed"] > 0
        assert len({c for _, c in local}) > 1  # stopped before convergence
    else:
        assert local_hist[-1]["changed"] == 0


def test_connected_components_driver_path_runs_few_spark_jobs(spark):
    """An edge table of at most MAX_DRIVER_EDGES rows is a count, one
    collect and driver work: a silent fall-back to the DataFrame supersteps
    (about five jobs per superstep) shows here."""
    edges = make_edges_df(spark, path_graph(64))
    sc = spark.sparkContext
    sc.setJobGroup("cc_driver_probe", "cc_driver_probe")
    try:
        labels = G.connected_components(edges).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert {r["component"] for r in labels} == {0}
    assert len(sc.statusTracker().getJobIdsForGroup("cc_driver_probe")) <= 3
