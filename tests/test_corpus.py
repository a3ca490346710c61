import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from gp_ann_spark.corpus import dedup_files, dense_ids, featurize, generate_repos, repos_to_points
from gp_ann_spark.operators.partition import remap_shard_ids
from tests.conftest import final_plan, job_ids

N = 300


def test_generator_deterministic_across_parallelism(spark):
    a = generate_repos(spark, N, seed=42, n_parts=2).orderBy("repo", "path", "content").collect()
    b = generate_repos(spark, N, seed=42, n_parts=7).orderBy("repo", "path", "content").collect()
    assert a == b
    assert len(a) == N


def test_sha256_matches_hashlib_oracle(spark):
    """Per-row invariant vs the reference harness: content sha256 equality
    (BASELINE.json input_hint)."""
    rows = (
        generate_repos(spark, 50, seed=42)
        .withColumn("sha256", F.sha2("content", 256))
        .select("content", "sha256")
        .collect()
    )
    for r in rows:
        assert r["sha256"] == hashlib.sha256(r["content"].encode()).hexdigest()


def test_dedup_collapses_duplicate_contents(spark):
    repos = generate_repos(spark, N, seed=42)
    files = dedup_files(repos)
    n_distinct = repos.select("content").distinct().count()
    assert files.count() == n_distinct
    assert files.agg(F.sum("n_dups")).collect()[0][0] == N
    # duplicates were actually injected (~10%)
    assert n_distinct < N


def test_dense_ids_rank_the_distinct_hashes(spark):
    repos = generate_repos(spark, N, seed=42)
    files = dedup_files(repos)
    a = dense_ids(files, "sha256").select("sha256", "id").orderBy("id").collect()
    ids = [r["id"] for r in a]
    assert ids == list(range(len(ids)))
    hashes = [r["sha256"] for r in a]
    assert hashes == sorted(hashes)
    assert hashes == sorted({hashlib.sha256(r["content"].encode()).hexdigest() for r in repos.collect()})


def test_front_end_plans_hold_no_window_and_no_join(spark):
    """``dense_ids`` numbers by one range shuffle (no window, no join) and
    ``featurize`` is one narrow pass (no exchange, no explode, no join), so
    ids and features are never joined back together."""
    files = dedup_files(generate_repos(spark, 50, seed=42)).select("sha256", "content").localCheckpoint()
    numbered = final_plan(dense_ids(files))
    assert "Window" not in numbered and "Join" not in numbered
    featurized = final_plan(featurize(files.withColumn("id", F.monotonically_increasing_id())))
    assert not any(op in featurized for op in ("Exchange", "Generate", "Join"))
    assert "Join" not in final_plan(repos_to_points(generate_repos(spark, 50, seed=42)))


# repos_to_points + a pin on 300 rows at local[4]: the dedup stage, the
# range sampling, the pinned range shuffle, the partition-count collect and
# the pin. Featurizing by token explode and numbering by window ran 16.
JOBS_REPOS_TO_POINTS = 7


def test_repos_to_points_runs_few_spark_jobs(spark):
    import time

    repos = generate_repos(spark, N, seed=42)
    before = job_ids(spark)
    repos_to_points(repos).localCheckpoint(eager=True)
    time.sleep(1.0)  # the status store is fed by the asynchronous listener bus
    n_jobs = len(job_ids(spark) - before)
    assert n_jobs <= JOBS_REPOS_TO_POINTS, n_jobs


def test_featurizer_unit_norm_and_deterministic(spark):
    points = repos_to_points(generate_repos(spark, 100, seed=42)).orderBy("id")
    pdf = points.toPandas()
    vecs = np.stack(pdf["vec"].to_numpy())
    assert vecs.shape[1] == 64
    norms = np.sqrt((vecs.astype(np.float64) ** 2).sum(1))
    assert np.allclose(norms, 1.0, atol=1e-5)
    pdf2 = repos_to_points(generate_repos(spark, 100, seed=42)).orderBy("id").toPandas()
    assert np.array_equal(vecs, np.stack(pdf2["vec"].to_numpy()))


def test_featurizer_same_content_same_vector(spark):
    repos = generate_repos(spark, N, seed=42)
    files = dense_ids(dedup_files(repos), "sha256")
    pts = featurize(files, dim=32)
    assert pts.count() == files.count()
    assert pts.select("id").distinct().count() == pts.count()


def test_metis_io_roundtrip(spark, tmp_path):
    from gp_ann_spark import io as gio
    from pyspark.sql import functions as F

    asn = spark.createDataFrame([(i, i % 3 * 5) for i in range(12)], "id long, shard int")
    p = str(tmp_path / "part.txt")
    gio.write_metis_partition(asn, p)
    back = gio.read_metis_partition(spark, p)
    # densified: shards {0,5,10} → {0,1,2}
    got = {r["id"]: r["shard"] for r in back.collect()}
    assert got == {i: i % 3 for i in range(12)}

    cp = str(tmp_path / "clusters.txt")
    # positional format: line number IS the shard id, so gapped ids must be
    # rejected loudly (a silent densify would change ids on read-back) ...
    with pytest.raises(ValueError, match="dense shard ids"):
        gio.write_clusters(asn, cp)
    # ... and a remapped assignment round-trips exactly
    dense_asn = remap_shard_ids(asn)
    gio.write_clusters(dense_asn, cp)
    back2 = gio.read_clusters(spark, cp)
    assert back2.count() == 12
    got2 = {r["id"]: r["shard"] for r in back2.collect()}
    assert got2 == {r["id"]: r["shard"] for r in dense_asn.collect()}


def test_metis_graph_write(spark, tmp_path):
    from gp_ann_spark import io as gio

    edges = spark.createDataFrame([(0, 1, 1.0), (1, 2, 1.0)], "src long, dst long, weight double")
    p = str(tmp_path / "g.metis")
    gio.write_metis_graph(edges, p)
    lines = open(p).read().splitlines()
    assert lines[0] == "3 2"
    assert lines[1] == "2" and lines[2] == "1 3" and lines[3] == "2"


def test_featurizer_total_over_empty_content(spark):
    """featurize emits one row per input row — zero-token contents get the
    zero vector instead of silently vanishing from the output."""
    from gp_ann_spark.corpus.ingest import featurize

    df = spark.createDataFrame(
        [(0, "alpha beta"), (1, ""), (2, "   \t  ")], "id long, content string"
    )
    out = {r["id"]: r["vec"] for r in featurize(df, dim=8).collect()}
    assert set(out) == {0, 1, 2}
    assert all(v == 0.0 for v in out[1]) and all(v == 0.0 for v in out[2])
    assert any(v != 0.0 for v in out[0])
