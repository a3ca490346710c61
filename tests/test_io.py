"""Source/sink round-trips: Parquet tables, the reference's text formats
(METIS partition / clusters / graph, metis_io.cpp), routes serialization,
and partition-pruned sharded scans."""

import numpy as np
from pyspark.sql import functions as F

from gp_ann_spark import io as IO
from tests.conftest import make_points_df


def _asn(spark):
    return spark.createDataFrame(
        [(0, 5), (1, 5), (2, 9), (3, 9), (4, 7)], "id long, shard int"
    )


def test_assignment_roundtrip_and_partition_pruning(spark, tmp_path):
    path = str(tmp_path / "asn")
    IO.write_assignment(_asn(spark), path)
    back = IO.read_assignment(spark, path)
    assert {(r["id"], r["shard"]) for r in back.collect()} == {(0, 5), (1, 5), (2, 9), (3, 9), (4, 7)}
    # shard filter must reach the scan as a PARTITION filter (pruned read,
    # ≙ the seek-coalesced sharded scan distributed_query_benchmark.h:48-84)
    plan = back.where(F.col("shard") == 9)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "shard" in plan.split("PartitionFilters")[1][:120]


def test_metis_partition_roundtrip_densifies(spark, tmp_path):
    path = str(tmp_path / "part.metis")
    IO.write_metis_partition(_asn(spark), path)
    with open(path) as f:
        assert [int(x) for x in f.read().split()] == [5, 5, 9, 9, 7]
    back = IO.read_metis_partition(spark, path)
    by_id = {r["id"]: r["shard"] for r in back.collect()}
    # dense remap (metis_io.cpp:6-16): 5→0, 7→1, 9→2
    assert by_id == {0: 0, 1: 0, 2: 2, 3: 2, 4: 1}


def test_clusters_roundtrip(spark, tmp_path):
    path = str(tmp_path / "clusters.txt")
    asn = spark.createDataFrame([(3, 0), (1, 0), (2, 1)], "id long, shard int")
    IO.write_clusters(asn, path)
    with open(path) as f:
        lines = f.read().splitlines()
    assert lines == ["1 3", "2"]  # members sorted, one shard per line
    back = IO.read_clusters(spark, path)
    assert {(r["id"], r["shard"]) for r in back.collect()} == {(1, 0), (3, 0), (2, 1)}


def test_metis_graph_format(spark, tmp_path):
    path = str(tmp_path / "graph.metis")
    edges = spark.createDataFrame([(0, 1, 1.0), (1, 2, 1.0)], "src long, dst long, weight double")
    IO.write_metis_graph(edges, path)
    with open(path) as f:
        lines = f.read().splitlines()
    # header 'n m', then 1-indexed adjacency (metis_io.cpp:26-38)
    assert lines[0] == "3 2"
    assert lines[1:] == ["2", "1 3", "2"]


def test_points_and_gt_parquet_roundtrip(spark, tmp_path, rng):
    pts = make_points_df(spark, rng.normal(size=(10, 4)).astype(np.float32))
    ppath = str(tmp_path / "pts")
    IO.write_points(pts, ppath)
    back = spark.read.parquet(ppath)
    assert back.count() == 10 and set(back.columns) == {"id", "vec"}
    a = {r["id"]: r["vec"] for r in pts.collect()}
    b = {r["id"]: r["vec"] for r in back.collect()}
    assert all(np.allclose(a[i], b[i]) for i in a)

    gt = spark.createDataFrame([(0, 1, 0.5, 1), (0, 2, 0.7, 2)], "query_id long, neighbor_id long, dist double, rank int")
    gpath = str(tmp_path / "gt")
    IO.write_ground_truth(gt, gpath)
    assert IO.read_ground_truth(spark, gpath).count() == 2


def test_points_bin_roundtrip_fbin(spark, tmp_path, rng):
    X = rng.normal(size=(50, 8)).astype(np.float32)
    pts = make_points_df(spark, X)
    path = str(tmp_path / "pts.fbin")
    IO.write_points_bin(pts, path, fmt="fbin")
    import struct

    with open(path, "rb") as f:
        n, d = struct.unpack("<II", f.read(8))
    assert (n, d) == (50, 8)
    back = IO.read_points_bin(spark, path, fmt="fbin", parallelism=4)
    b = {r["id"]: np.array(r["vec"]) for r in back.collect()}
    assert len(b) == 50 and all(np.allclose(b[i], X[i]) for i in range(50))


def test_points_bin_u8_widening(spark, tmp_path):
    # ≙ internal::ReadBytes (points_io.cpp:63-111): u8 payload → float32
    import struct

    X = (np.arange(24, dtype=np.uint8) % 251).reshape(6, 4)
    path = str(tmp_path / "pts.u8bin")
    with open(path, "wb") as f:
        f.write(struct.pack("<II", 6, 4))
        X.tofile(f)
    back = IO.read_points_bin(spark, path, fmt="u8bin", parallelism=3)
    b = {r["id"]: r["vec"] for r in back.collect()}
    assert len(b) == 6
    assert b[5] == [float(v) for v in X[5]]
    # limit truncates like the reference's `size` arg (points_io.cpp:25-27)
    assert IO.read_points_bin(spark, path, fmt="u8bin", limit=4).count() == 4


def test_ground_truth_bin_roundtrip_and_layout(spark, tmp_path, rng):
    """The binary GT interchange must match the reference's ids-then-dists
    layout exactly (points_io.cpp:136-179): header (nq,k) u32, then ALL
    nq*k neighbor ids u32, then ALL nq*k dists f32 — verified against a
    struct-written fixture, both directions."""
    import struct

    nq, k = 4, 3
    ids = rng.integers(0, 1000, size=(nq, k)).astype(np.uint32)
    dists = np.sort(rng.random(size=(nq, k)).astype(np.float32), axis=1)
    path = str(tmp_path / "gt.bin")
    with open(path, "wb") as f:
        f.write(struct.pack("<II", nq, k))
        ids.tofile(f)
        dists.tofile(f)

    gt = IO.read_ground_truth_bin(spark, path)
    rows = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["dist"]) for r in gt.collect()}
    assert len(rows) == nq * k
    for q in range(nq):
        for j in range(k):
            nid, d = rows[(q, j + 1)]
            assert nid == int(ids[q, j])
            assert abs(d - float(dists[q, j])) < 1e-7
    # dispatch: a regular file routes to the binary reader
    assert IO.read_ground_truth(spark, path).count() == nq * k

    out = str(tmp_path / "gt2.bin")
    IO.write_ground_truth_bin(gt, out)
    with open(out, "rb") as f:
        assert struct.unpack("<II", f.read(8)) == (nq, k)
        back_ids = np.fromfile(f, dtype="<u4", count=nq * k).reshape(nq, k)
        back_d = np.fromfile(f, dtype="<f4", count=nq * k).reshape(nq, k)
    assert (back_ids == ids).all()
    assert np.allclose(back_d, dists)


def test_ground_truth_bin_rejects_ragged(spark, tmp_path):
    gt = spark.createDataFrame(
        [(0, 1, 5, 0.1), (0, 2, 6, 0.2), (1, 1, 7, 0.3)],
        "query_id long, rank int, neighbor_id long, dist double",
    )
    import pytest

    with pytest.raises(ValueError, match="ragged"):
        IO.write_ground_truth_bin(gt, str(tmp_path / "bad.bin"))


def test_write_clusters_rejects_non_dense_shards(spark, tmp_path):
    import pytest

    asn = spark.createDataFrame([(0, 0), (1, 1), (2, 3)], "id long, shard int")
    with pytest.raises(ValueError, match="dense shard ids"):
        IO.write_clusters(asn, str(tmp_path / "bad_clusters.txt"))


def test_ground_truth_bin_rejects_ids_beyond_u32(spark, tmp_path):
    import pytest

    gt = spark.createDataFrame(
        [(0, 1, 2**32, 0.1)], "query_id long, rank int, neighbor_id long, dist double"
    )
    with pytest.raises(ValueError, match="uint32"):
        IO.write_ground_truth_bin(gt, str(tmp_path / "bad_u32.bin"))
