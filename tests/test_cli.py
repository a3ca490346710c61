"""CLI parity tests: the reference-binary-shaped entry points in tools/cli.py
(driven in-process with the shared session)."""

import json
import sys

import numpy as np
import pytest

sys.path.insert(0, "tools")
import cli as CLI  # noqa: E402

from tests.conftest import make_points_df  # noqa: E402


@pytest.fixture()
def pts_file(spark, rng, tmp_path):
    from gp_ann_spark import io as IO

    X = np.vstack(
        [rng.normal(c, 0.4, size=(30, 6)) for c in (np.zeros(6), np.ones(6) * 4, np.ones(6) * 8)]
    ).astype(np.float32)
    path = str(tmp_path / "pts.fbin")
    IO.write_points_bin(make_points_df(spark, X), path)
    return path


def test_cli_partition_kmeans_and_random(spark, pts_file, tmp_path, capsys):
    out = str(tmp_path / "part")
    CLI.main(["partition", pts_file, out, "3", "KMeans", "default"], spark=spark)
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["imbalance"] <= 1.05 + 1e-9 and rep["n"] == 90
    with open(f"{out}.k=3.KMeans") as f:
        lines = [int(x) for x in f.read().split()]
    assert len(lines) == 90 and set(lines) <= {0, 1, 2}

    CLI.main(["partition", pts_file, out, "3", "Random", "default"], spark=spark)
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["method"] == "Random"


def test_cli_partition_ogp_cover(spark, pts_file, tmp_path, capsys):
    out = str(tmp_path / "part")
    CLI.main(["partition", pts_file, out, "3", "GP", "default", "0.2"], spark=spark)
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["method"] == "OGP" and rep["cover_rows"] >= 90


def test_cli_oracle_recall_and_graph_bench(spark, pts_file, tmp_path, capsys):
    out = str(tmp_path / "part")
    CLI.main(["partition", pts_file, out, "3", "KMeans", "default"], spark=spark)
    capsys.readouterr()
    CLI.main(
        ["oracle-recall", pts_file, pts_file, "5", f"{out}.k=3.KMeans.parquet"], spark=spark
    )
    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("nprobes=")]
    assert lines and float(lines[-1].split("=")[-1]) >= 0.999  # all probes → 1.0

    CLI.main(["graph-quality-bench", pts_file, "5"], spark=spark)
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["graph_recall"] >= 0.6


def test_cli_convert_roundtrip(spark, pts_file, tmp_path, capsys):
    pq = str(tmp_path / "pts.parquet")
    CLI.main(["convert", pts_file, pq], spark=spark)
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["converted"] == 90
    back = str(tmp_path / "back.fbin")
    CLI.main(["convert", pq, back], spark=spark)
    from gp_ann_spark import io as IO

    again = IO.read_points_bin(spark, back)
    assert again.count() == 90


def test_cli_query_attribution_binary_gt(spark, pts_file, tmp_path, capsys):
    """query-attribution with a REFERENCE-FORMAT binary GT file: first run
    computes + writes the .bin (ids-then-dists, points_io.cpp:163-179);
    second run consumes it through the validation/repair pass."""
    part = str(tmp_path / "part")
    CLI.main(["partition", pts_file, part, "3", "KMeans", "default"], spark=spark)
    part_file = f"{part}.k=3.KMeans.parquet"
    gt_file = str(tmp_path / "gt.bin")
    out = str(tmp_path / "sweep_out")
    CLI.main(
        ["query-attribution", pts_file, pts_file, gt_file, "5", part_file, out, "3"],
        spark=spark,
    )
    capsys.readouterr()
    import os
    import struct

    assert os.path.isfile(gt_file)
    with open(gt_file, "rb") as f:
        nq, k = struct.unpack("<II", f.read(8))
    assert (nq, k) == (90, 5)
    # second invocation READS the binary GT and validates it clean
    CLI.main(
        ["query-attribution", pts_file, pts_file, gt_file, "5", part_file, out, "3"],
        spark=spark,
    )
    printed = capsys.readouterr().out
    assert "gt validation:" in printed
    # f32 storage → recomputed f64 distances differ at the 1e-8 counter
    # (expected; the reference's ε-sweep exists for exactly this), but the
    # lists must be sound: no unknown ids, sorted after repair
    assert '"missing_neighbors": 0' in printed
    assert '"wrong_sorts_after": 0' in printed


def test_experiments_driver_smoke(spark, pts_file, tmp_path, capsys):
    """Parity driver (reference experiments.py:57-113): partition + query
    attribution across a (dataset x method x shards x overlap) grid via the
    same CLI a reference user would call."""
    import experiments as EXP
    import os

    out = str(tmp_path / "exp_outputs")
    rc = EXP.main(
        [
            "--data-path", os.path.dirname(pts_file),
            "--dataset", f"toy={os.path.basename(pts_file)}:L2",
            "--methods", "KMeans,OKM",
            "--shards", "3",
            "--overlaps", "0.2",
            "--out", out,
        ],
        spark=spark,
    )
    assert rc == 0
    capsys.readouterr()
    # partition artifacts in the reference's naming scheme
    assert os.path.exists(f"{out}/toy.partition.k=3.KMeans.parquet")
    assert os.path.exists(f"{out}/toy.partition.k=3.OKM.o=0.2.clusters")
    # GT written once in the reference's binary interchange format
    import struct

    with open(f"{out}/toy_ground-truth.bin", "rb") as f:
        nq, k = struct.unpack("<II", f.read(8))
    assert (nq, k) == (90, 10)
    # per-config sweep outputs
    assert os.path.isdir(f"{out}/toy.KMeans.k=3")
    assert os.path.isdir(f"{out}/toy.OKM.k=3.o=0.2")

    # post-processing renderer (≙ extract_recall.py/exp_scripts): the
    # comparison tables + CSV artifacts build from those result dirs
    import extract_recall as ER

    assert ER.main(["--out", out, "--csv"]) == 0
    printed = capsys.readouterr().out
    assert "best recall@nprobes by method" in printed and "Pareto front" in printed
    import pandas as pd

    curves = pd.read_csv(f"{out}/toy.k=3.recall_curves.csv").set_index("nprobes")
    assert {"KMeans", "OKM.o=0.2"} <= set(curves.columns)
    # exhaustive probing reaches recall 1.0 for the non-overlapping method
    assert curves["KMeans"].max() >= 0.999
    front = pd.read_csv(f"{out}/toy.k=3.pareto.csv")
    assert len(front) >= 1 and front["recall"].max() >= 0.999


def test_cli_mips_metric_env(spark, pts_file, tmp_path, capsys, monkeypatch):
    """GP_ANN_METRIC=mips selects the inner-product distance family
    (≙ compiling the reference's release_mips folder, experiments.py:52-55)."""
    import os

    monkeypatch.setenv("GP_ANN_METRIC", "mips")
    out = str(tmp_path / "part")
    CLI.main(["partition", pts_file, out, "3", "KMeans", "default"], spark=spark)
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n"] == 90 and rep["imbalance"] <= 1.05 + 1e-9
    assert os.path.exists(f"{out}.k=3.KMeans.parquet")
    monkeypatch.setenv("GP_ANN_METRIC", "bogus")
    import pytest as _pytest

    with _pytest.raises(SystemExit, match="GP_ANN_METRIC"):
        CLI.main(["partition", pts_file, out, "3", "KMeans", "default"], spark=spark)


def test_cli_strong_reaches_graph_builder(spark, pts_file, tmp_path, capsys, monkeypatch):
    """'strong' must actually reach the graph builder (FANOUT=5/REPETITIONS=5,
    ≙ partitioning.cpp:253-256) — r3 parsed it and dropped it on the floor.
    At test scale both configs converge to the exact top-k edge table (the
    3-rep union already has recall 1.0), so the output cannot witness the
    flag; spy on build_knn_graph's kwargs instead."""
    import cli as CLI_mod
    from gp_ann_spark.operators import knn_approx as KA

    seen = []
    real = KA.build_knn_graph

    def spy(pts, **kw):
        seen.append({k: kw.get(k) for k in ("repetitions", "fanout")})
        return real(pts, **kw)

    monkeypatch.setattr(CLI_mod.KA, "build_knn_graph", spy)
    out = str(tmp_path / "part")
    CLI_mod.main(["partition", pts_file, out, "3", "GP", "strong"], spark=spark)
    capsys.readouterr()
    assert seen[-1] == {"repetitions": 5, "fanout": 5}
    CLI_mod.main(["partition", pts_file, out, "3", "GP", "default"], spark=spark)
    capsys.readouterr()
    assert seen[-1] == {"repetitions": 3, "fanout": 3}


def test_cli_small_scale_queries(spark, pts_file, tmp_path, capsys):
    """SmallScaleQueries parity (small_scale_queries.cpp:25-189): both
    branches — global ef sweep without a partition, and the router × kernel
    × nprobes CSV with one."""
    import csv
    import os

    # unpartitioned branch: global ef sweep, printed
    gt1 = str(tmp_path / "gt_a.bin")
    CLI.main(
        ["small-scale-queries", pts_file, pts_file, gt1, "5", str(tmp_path / "nope"), "None", str(tmp_path / "o")],
        spark=spark,
    )
    printed = capsys.readouterr().out
    sweep_lines = [l for l in printed.splitlines() if l.startswith("global query with ef")]
    assert len(sweep_lines) == 9
    # large ef covers the whole 90-point set → recall 1.0 on the last line
    assert "recall = 1.0000" in sweep_lines[-1]

    # partitioned branch: CSV with the reference's columns
    out = str(tmp_path / "part")
    CLI.main(["partition", pts_file, out, "3", "KMeans", "default"], spark=spark)
    capsys.readouterr()
    csv_out = str(tmp_path / "ssq.csv")
    CLI.main(
        ["small-scale-queries", pts_file, pts_file, gt1, "5", f"{out}.k=3.KMeans.parquet", "KMeans", csv_out],
        spark=spark,
    )
    capsys.readouterr()
    with open(csv_out) as f:
        rows = list(csv.DictReader(f))
    assert {r["routing"] for r in rows} == {"KMTR", "HNSW"}
    assert {r["shard query"] for r in rows} == {"BruteForce", "HNSW"}
    # 2 routers x 2 kernels x 3 probes
    assert len(rows) == 12
    # probing every shard reaches full recall for the exact kernel
    full = [r for r in rows if r["shard query"] == "BruteForce" and r["probes"] == "3"]
    assert full and all(float(r["recall"]) >= 0.999 for r in full)
    assert all(float(r["latency"]) > 0 for r in rows)


def test_small_scale_experiments_grid(spark, pts_file, tmp_path, capsys):
    """Grid driver parity (reference small-scale-experiments.py:27-61):
    Partition then SmallScaleQueries across (dataset x method x shards),
    with the reference's artifact naming — the loop the round-3/4 briefs
    flagged as the missing grid."""
    import csv
    import os

    import small_scale_experiments as SSE

    out = str(tmp_path / "exp_outputs")
    rc = SSE.main(
        [
            "--data-path", os.path.dirname(pts_file),
            "--dataset", f"toy={os.path.basename(pts_file)}:L2",
            "--methods", "KMeans,RKM",
            "--shards", "3",
            "--k", "5",
            "--preset", "default",
            "--out", out,
        ],
        spark=spark,
    )
    assert rc == 0
    capsys.readouterr()
    # partition artifacts + shared binary GT in the reference's naming
    for m in ("KMeans", "RKM"):
        assert os.path.exists(f"{out}/toy.partition.k=3.{m}.parquet")
        assert os.path.exists(f"{out}/toy.{m}.k=3.csv")
    # both names run the one rebalancing k-means path
    km, rkm = (
        sorted(map(tuple, spark.read.parquet(f"{out}/toy.partition.k=3.{m}.parquet").select("id", "shard").collect()))
        for m in ("KMeans", "RKM")
    )
    assert km == rkm
    import struct

    with open(f"{out}/toy.ground_truth.bin", "rb") as f:
        nq, k = struct.unpack("<II", f.read(8))
    assert (nq, k) == (90, 5)
    # each CSV carries the reference's sweep: 2 routers x 2 kernels x 3 probes
    for m in ("KMeans", "RKM"):
        with open(f"{out}/toy.{m}.k=3.csv") as f:
            rows = list(csv.DictReader(f))
        assert len(rows) == 12
        full = [r for r in rows if r["shard query"] == "BruteForce" and r["probes"] == "3"]
        assert full and all(float(r["recall"]) >= 0.999 for r in full)

    # --skip-partition reuses the partitions (≙ the commented-out
    # compute_all_partitions call, :64) without recomputing them
    t0 = os.path.getmtime(f"{out}/toy.partition.k=3.KMeans.parquet")
    rc = SSE.main(
        [
            "--data-path", os.path.dirname(pts_file),
            "--dataset", f"toy={os.path.basename(pts_file)}:L2",
            "--methods", "KMeans",
            "--shards", "3",
            "--k", "5",
            "--skip-partition",
            "--out", out,
        ],
        spark=spark,
    )
    assert rc == 0
    capsys.readouterr()
    assert os.path.getmtime(f"{out}/toy.partition.k=3.KMeans.parquet") == t0


def test_cli_distributed_bench(spark, pts_file, tmp_path, capsys):
    """End-to-end distributed-serving parity (distributed_bench.cpp:13-62):
    partition -> sampled router (built-or-read) -> top-2 probes -> in-shard
    search -> merged top-k, end-to-end time + recall."""
    import json as _json
    import os

    out = str(tmp_path / "part")
    CLI.main(["partition", pts_file, out, "3", "KMeans", "default"], spark=spark)
    capsys.readouterr()
    gt = str(tmp_path / "gt.bin")
    router = str(tmp_path / "router.parquet")
    CLI.main(
        ["distributed-bench", pts_file, pts_file, gt, "5", f"{out}.k=3.KMeans.parquet", router],
        spark=spark,
    )
    printed = capsys.readouterr().out
    assert "End-to-end time " in printed
    rep = _json.loads(printed.strip().splitlines()[-1])
    assert rep["n_queries"] == 90 and rep["num_probes"] == 2
    # self-queries on 3 well-separated blobs: 2 probes recover nearly all
    assert rep["recall"] >= 0.95
    assert os.path.isdir(router)
    # second run reads the router file back (no rebuild) and reproduces
    CLI.main(
        ["distributed-bench", pts_file, pts_file, gt, "5", f"{out}.k=3.KMeans.parquet", router],
        spark=spark,
    )
    rep2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["recall"] == rep["recall"]


def test_cli_analyze_approximation_losses(spark, pts_file, tmp_path, capsys):
    """Routing-loss decomposition parity (analyze_approximation_losses.cpp:
    159-237): all four routing arms emit monotone recall-vs-probes curves in
    the reference's CSV layout."""
    import csv

    out = str(tmp_path / "part")
    CLI.main(["partition", pts_file, out, "3", "KMeans", "default"], spark=spark)
    capsys.readouterr()
    gt = str(tmp_path / "gt.bin")
    csv_out = str(tmp_path / "losses.csv")
    CLI.main(
        [
            "analyze-approximation-losses", pts_file, pts_file, gt, "5",
            f"{out}.k=3.KMeans.parquet", "KMeans", csv_out,
        ],
        spark=spark,
    )
    capsys.readouterr()
    with open(csv_out) as f:
        rows = list(csv.DictReader(f))
    arms = {"single center", "full data", "kRt sample", "uniform sample"}
    assert {r["type"] for r in rows} == arms
    assert len(rows) == 4 * 3  # arms x num_shards
    for arm in arms:
        curve = [float(r["recall"]) for r in sorted(
            (r for r in rows if r["type"] == arm), key=lambda r: int(r["num probes"])
        )]
        assert all(b >= a - 1e-9 for a, b in zip(curve, curve[1:]))
        # probing all 3 blob shards recovers everything, on every arm
        assert curve[-1] >= 0.999
    # the oracle ("full data") first-probe recall bounds the realized arms
    first = {r["type"]: float(r["recall"]) for r in rows if r["num probes"] == "1"}
    assert first["full data"] >= max(first["single center"], first["uniform sample"]) - 1e-9
