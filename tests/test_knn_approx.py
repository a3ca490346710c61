import numpy as np
import pytest
from pyspark.sql import functions as F

from gp_ann_spark.operators import knn, knn_approx
from tests.conftest import make_points_df


def test_approx_graph_recall_against_exact(spark, rng):
    X = rng.normal(size=(600, 12))
    pts = make_points_df(spark, X).cache()
    exact = knn.knn_edges(pts, k=5).localCheckpoint(eager=True)
    approx = knn_approx.build_knn_graph(
        pts, k=5, max_cluster_size=120, top_level_leaders=24, repetitions=3, seed=555
    ).localCheckpoint(eager=True)
    # structural invariants
    assert approx.where(F.col("src") == F.col("dst")).count() == 0
    assert approx.groupBy("src").count().agg(F.max("count")).collect()[0][0] <= 5
    assert approx.select("src").distinct().count() == 600
    # graph recall vs exact oracle (≙ graph_quality_benchmark.cpp acceptance)
    rec = knn_approx.graph_recall(approx, exact)
    assert rec >= 0.75, f"graph recall too low: {rec}"


def test_approx_graph_deterministic(spark, rng):
    X = rng.normal(size=(300, 8))
    pts = make_points_df(spark, X).cache()
    a = knn_approx.build_knn_graph(pts, k=4, max_cluster_size=80, top_level_leaders=12, repetitions=2)
    b = knn_approx.build_knn_graph(pts, k=4, max_cluster_size=80, top_level_leaders=12, repetitions=2)
    assert sorted(map(tuple, a.select("src", "dst").collect())) == sorted(
        map(tuple, b.select("src", "dst").collect())
    )


def test_small_input_falls_back_to_single_bucket(spark, rng):
    X = rng.normal(size=(50, 6))
    pts = make_points_df(spark, X)
    edges = knn_approx.build_knn_graph(pts, k=3, repetitions=1)
    exact = knn.knn_edges(pts, k=3)
    # one bucket ≤ max_cluster_size → brute force = exact
    assert knn_approx.graph_recall(edges, exact) == 1.0


def test_repetitions_are_independent_sketches_seeded_seed_plus_rep(spark, rng):
    """``repetitions=3`` is the top-k merge of three one-repetition builds
    seeded ``seed + rep`` (knn_graph.h:145-162 unions independent sketches)."""
    X = rng.normal(size=(300, 8))
    pts = make_points_df(spark, X).localCheckpoint(eager=True)
    kw = dict(k=4, max_cluster_size=80, top_level_leaders=12)

    def edges(df):
        return sorted((r["src"], r["dst"], round(r["weight"], 9)) for r in df.collect())

    together = knn_approx.build_knn_graph(pts, repetitions=3, seed=101, **kw)
    singles = [knn_approx.build_knn_graph(pts, repetitions=1, seed=101 + r, **kw) for r in range(3)]
    merged = knn.merge_topk(singles[0].unionByName(singles[1]).unionByName(singles[2]), 4)
    assert edges(together) == edges(merged)


def test_assign_to_leaders_canonical_at_tied_fanout_boundary(spark):
    """Two leaders with identical vectors tied at the fanout boundary must be
    broken by leader_rank, not shuffle-arrival column order (r5 review
    finding: bare argpartition made two builds route the point to different
    buckets). Both leader-row input orders must yield the same bucket."""
    import pandas as pd

    pts = spark.createDataFrame(
        pd.DataFrame({"rep": [0], "id": [0], "bucket": [7], "vec": [[0.0, 0.0]]})
    ).withColumn("rep", F.col("rep").cast("int"))
    rows = [(0, 7, r, [1.0, 0.0]) for r in (0, 1)]  # identical vectors, ranks 0/1
    outs = []
    for order in (rows, rows[::-1]):
        leaders = spark.createDataFrame(order, "rep int, bucket long, leader_rank long, vec array<double>")
        outs.append(
            knn_approx._assign_to_leaders(pts, leaders, fanout=1, metric="l2")
            .collect()[0]["bucket"]
        )
    assert outs[0] == outs[1]


def edge_rows(df):
    return sorted((r["src"], r["dst"], r["weight"]) for r in df.collect())


def both_paths(monkeypatch, pts, **kw):
    """(in-task edges, superstep edges) of one build_knn_graph call, the
    point-count constant monkeypatched to force each side."""
    in_task = edge_rows(knn_approx.build_knn_graph(pts, **kw))
    with monkeypatch.context() as m:
        m.setattr(knn_approx, "MAX_TASK_POINTS", -1)
        supersteps = edge_rows(knn_approx.build_knn_graph(pts, **kw))
    return in_task, supersteps


def spy(monkeypatch, name, calls):
    """Record (input, result) of every driver-side call of a superstep-path
    helper."""
    real = getattr(knn_approx, name)

    def wrapped(pts, *a, **kw):
        out = real(pts, *a, **kw)
        calls.append((pts, out))
        return out

    monkeypatch.setattr(knn_approx, name, wrapped)


@pytest.mark.parametrize("metric,repetitions", [("l2", 1), ("mips", 3)])
def test_in_task_sketch_equals_supersteps(spark, monkeypatch, metric, repetitions):
    """Both hand-off sides return the same edges on an input whose sketch
    recurses at least two levels below the top and merges small buckets."""
    rng = np.random.default_rng(11)
    pts = make_points_df(spark, rng.normal(size=(400, 8))).localCheckpoint(eager=True)
    assigns, merges = [], []
    spy(monkeypatch, "_assign_to_leaders", assigns)
    spy(monkeypatch, "_merge_small_buckets", merges)
    kw = dict(k=5, metric=metric, max_cluster_size=60, top_level_leaders=4, repetitions=repetitions)
    in_task, supersteps = both_paths(monkeypatch, pts, **kw)
    assert len(assigns) >= 3  # depth 0 plus at least two recursion levels
    assert merges and merges[0][1] is not merges[0][0]  # small buckets merged
    assert in_task == supersteps
    assert len({(s, d) for s, d, _ in in_task}) == len(in_task) and len(in_task) >= 400


def test_in_task_sketch_equals_supersteps_with_force_split(spark, monkeypatch):
    """A near-duplicate cluster that leader sampling cannot shrink below the
    cap within ``max_depth`` is hash-split the same way on both sides."""
    rng = np.random.default_rng(5)
    X = np.vstack([rng.normal(size=8) + rng.normal(0, 1e-6, size=(200, 8)), rng.normal(size=(100, 8))])
    pts = make_points_df(spark, X).localCheckpoint(eager=True)
    splits = []
    spy(monkeypatch, "_force_split_big_buckets", splits)
    in_task, supersteps = both_paths(
        monkeypatch, pts, k=4, max_cluster_size=40, top_level_leaders=3, max_depth=1, repetitions=1,
    )
    assert splits and splits[0][1] is not splits[0][0]  # the force split fired
    assert in_task == supersteps


def test_short_leader_prefilter_ranks_whole_bucket(spark, monkeypatch):
    """With the prefilter margin at 0 no row survives the hash prefix, so
    every bucket comes up short and must rank its whole membership: the
    superstep path still takes the n_leaders smallest (hash, id) pairs and
    returns the in-task edges (which rank every bucket whole)."""
    rng = np.random.default_rng(2)
    pts = make_points_df(spark, rng.normal(size=(300, 6))).localCheckpoint(eager=True)
    monkeypatch.setattr(knn_approx, "LEADER_PREFILTER_MARGIN", 0)
    in_task, supersteps = both_paths(monkeypatch, pts, k=4, max_cluster_size=50, top_level_leaders=4, repetitions=2)
    assert supersteps == in_task


def test_bucket_bruteforce_gives_distinct_neighbours():
    """A point present twice in a merged bucket fills one candidate slot,
    not two: on 1-d points 0..5 with point 1 twice, every row gets k = 2
    distinct neighbours (point 0 used to get the edge to 1 twice)."""
    ids = np.array([0, 1, 1, 2, 3, 4, 5], dtype=np.int64)
    X = ids[:, None].astype(np.float64)
    src, dst, w = knn_approx._crunch(ids, X, 2, "l2")
    got = {}
    for s, d in zip(src, dst):
        got.setdefault(int(s), []).append(int(d))
    assert sorted(got[0]) == [1, 2]
    for s, ds in got.items():
        assert s not in ds
    # each row draws k distinct ids; point 1's two rows draw the same pair
    rows = np.repeat(np.arange(len(ids)), 2)
    assert len(src) == len(rows)
    assert all(len(set(dst[rows == r])) == 2 for r in range(len(ids)))


def build_jobs(spark, fn, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_in_task_build_runs_few_spark_jobs(spark, rng):
    """A point set under MAX_TASK_POINTS is a count, one Arrow task per
    repetition and the top-k merge: a silent fall-back to the depth loop
    (dozens of jobs) shows here."""
    pts = make_points_df(spark, rng.normal(size=(300, 8))).localCheckpoint(eager=True)
    jobs = build_jobs(
        spark,
        lambda: knn_approx.build_knn_graph(pts, k=4, max_cluster_size=40, top_level_leaders=4).count(),
        "knn_approx_in_task_probe",
    )
    assert jobs <= 10
