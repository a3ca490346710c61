"""Each pipeline result is computed once per plan: one k-NN scoring kernel per
symmetrize, one shingling pass per MinHash band join, no Spark job while
building a centroid table, one norm per featurized row."""

import re

import numpy as np
from pyspark.sql import functions as F

from gp_ann_spark.corpus import featurize
from gp_ann_spark.operators import dedup as DD
from gp_ann_spark.operators import kmeans as KM
from gp_ann_spark.operators import knn as KNN
from gp_ann_spark.operators import text_analysis as TA
from tests.conftest import final_plan, make_points_df


def test_symmetrize_runs_the_knn_kernel_once(spark, rng):
    # cached, as the pipeline's points are: exchange reuse does not cover it
    pts = make_points_df(spark, rng.normal(size=(120, 6))).cache()
    try:
        plan = final_plan(KNN.symmetrize(KNN.knn_edges(pts, k=4)))
    finally:
        pts.unpersist()
    assert plan.count("MapInPandas") == 1


def test_minhash_band_pairs_shingles_once(spark):
    words = [f"w{i}" for i in range(40)]
    rows = [(i, " ".join(words[(i * 3) % 17:(i * 3) % 17 + 12])) for i in range(60)]
    # cached, as the pipeline's docs are: exchange reuse does not cover it
    docs = spark.createDataFrame(rows, "doc_id long, text string").cache()
    try:
        plan = final_plan(DD.minhash_band_pairs(DD.minhash_signatures(docs)))
    finally:
        docs.unpersist()
    assert len(re.findall(r"Generate explode\(", plan)) == 1


def test_minhash_band_pairs_match_python_buckets(spark):
    words = [f"w{i}" for i in range(30)]
    rows = [(i, " ".join(words[i % 7:i % 7 + 10])) for i in range(40)]
    sig = DD.minhash_signatures(spark.createDataFrame(rows, "doc_id long, text string"))
    sigs = {r["doc_id"]: [r[f"h{j}"] for j in range(8)] for r in sig.collect()}
    rows_per_band = len(DD.MINHASH_COEFFS) // DD.N_BANDS
    band = lambda s, b: tuple(s[b * rows_per_band:(b + 1) * rows_per_band])  # noqa: E731
    want = {
        (a, b)
        for a in sigs for b in sigs
        if a < b and any(band(sigs[a], i) == band(sigs[b], i) for i in range(DD.N_BANDS))
    }
    got = {(r["doc_a"], r["doc_b"]) for r in DD.minhash_band_pairs(sig).collect()}
    assert want and got == want


def test_shard_centroids_builds_without_a_job(spark, rng):
    pts = make_points_df(spark, rng.normal(size=(50, 5)))
    asn = spark.createDataFrame([(i, i % 3) for i in range(50)], "id long, shard int")
    sc = spark.sparkContext
    group = "shard_centroids_build"
    sc.setJobGroup(group, group)
    try:
        cents = KM.shard_centroids(pts, asn)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert cents.count() == 3


def _python_shingles(text: str, n: int) -> list[str]:
    """Reference shingling: Spark/DuckDB ``trim`` strips spaces only, then
    split on runs of whitespace; distinct in first-occurrence order."""
    toks = re.split(r"\s+", text.strip(" "))
    if len(toks) < n:
        return []
    return list(dict.fromkeys(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)))


def test_word_shingles_edge_cases_match_python(spark):
    texts = [
        "",  # one empty token
        "a b",  # fewer than n tokens
        "a b c",  # exactly n tokens
        "   lead and trail   ",  # leading / trailing spaces
        "x\ty \n z w",  # tabs and newlines between tokens
        "a b a b a b a",  # repeated shingles
        "one",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    for n in (1, 2, 3):
        toks = df.select("doc_id", TA.tokens(F.col("text")).alias("toks"))
        got = {r["doc_id"]: r["sh"] for r in toks.select("doc_id", DD.word_shingles(F.col("toks"), n).alias("sh")).collect()}
        for i, t in enumerate(texts):
            assert got[i] == _python_shingles(t, n), (t, n)
        exploded = sorted((r["doc_id"], r["shingle"]) for r in DD.doc_shingles(df, n=n).collect())
        assert exploded == sorted((i, s) for i, t in enumerate(texts) for s in _python_shingles(t, n))


def test_featurize_normalizes_each_row_once(spark):
    files = spark.createDataFrame(
        [(0, "alpha beta gamma alpha"), (1, "delta"), (2, "   ")], "id long, content string"
    )
    out = featurize(files, dim=16)
    plan = final_plan(out)
    # the norm is taken once per row inside the Arrow kernel: no shuffle and
    # no Catalyst square-sum lambda
    assert "Exchange" not in plan and "aggregate(" not in plan
    vecs = {r["id"]: np.asarray(r["vec"], dtype=np.float64) for r in out.collect()}
    assert abs(np.linalg.norm(vecs[0]) - 1.0) < 1e-6 and abs(np.linalg.norm(vecs[1]) - 1.0) < 1e-6
    assert not vecs[2].any()
