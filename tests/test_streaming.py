"""Streaming ingest: incremental exact k-NN maintenance + the Structured
Streaming front-end (file source, foreachBatch, availableNow drains,
checkpoint-based resume across queries)."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from gp_ann_spark.operators import knn as KNN
from gp_ann_spark.streaming import ingest_stream
from tests.conftest import job_ids, make_points_df


def _edge_set(df):
    return {(r["src"], r["dst"], round(r["weight"], 9)) for r in df.collect()}


def test_incremental_knn_update_matches_rebuild(spark, rng):
    A = rng.normal(size=(40, 6)).astype(np.float32)
    B = rng.normal(size=(15, 6)).astype(np.float32)
    pts_a = make_points_df(spark, A).cache()
    pts_b = spark.createDataFrame(
        [(int(i + 40), [float(x) for x in v]) for i, v in enumerate(B)], "id long, vec array<float>"
    ).cache()
    edges_a = KNN.knn_edges(pts_a, k=5).localCheckpoint(eager=True)
    updated = KNN.incremental_knn_update(pts_a, edges_a, pts_b, k=5)
    rebuilt = KNN.knn_edges(pts_a.unionByName(pts_b), k=5)
    assert _edge_set(updated) == _edge_set(rebuilt)


def test_incremental_update_when_existing_underfilled(spark, rng):
    # existing degree < k (built with smaller k) → +inf thresholds must let
    # every new pair compete
    A = rng.normal(size=(6, 4)).astype(np.float32)
    B = rng.normal(size=(10, 4)).astype(np.float32)
    pts_a = make_points_df(spark, A).cache()
    pts_b = spark.createDataFrame(
        [(int(i + 6), [float(x) for x in v]) for i, v in enumerate(B)], "id long, vec array<float>"
    ).cache()
    edges_a = KNN.knn_edges(pts_a, k=5)  # only 5 neighbors exist among 6 pts
    updated = KNN.incremental_knn_update(pts_a, edges_a, pts_b, k=5)
    rebuilt = KNN.knn_edges(pts_a.unionByName(pts_b), k=5)
    assert _edge_set(updated) == _edge_set(rebuilt)


def _repo_rows(docs):
    return [(f"repo{i}", f"f{i}.txt", "c0", "py", text) for i, text in enumerate(docs)]


def test_ingest_stream_dedup_and_edge_maintenance(spark, tmp_path):
    input_dir = str(tmp_path / "landing")
    points_dir = str(tmp_path / "points")
    edges_dir = str(tmp_path / "edges")
    ckpt = str(tmp_path / "ckpt")
    schema = "repo string, path string, commit string, lang string, content string"

    batch1 = ["alpha beta gamma delta", "epsilon zeta eta theta", "alpha beta gamma delta"]
    spark.createDataFrame(_repo_rows(batch1), schema).write.mode("append").parquet(input_dir)
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)

    pts1 = spark.read.parquet(points_dir)
    assert pts1.count() == 2  # in-batch duplicate dropped
    assert pts1.select("sha256").distinct().count() == 2

    # second drain: one duplicate of batch1 + three new docs — the duplicate
    # must be dropped via the SINK anti-join (cross-batch state)
    batch2 = [
        "alpha beta gamma delta",
        "iota kappa lambda mu",
        "nu xi omicron pi",
        "rho sigma tau upsilon",
    ]
    spark.createDataFrame(_repo_rows(batch2), schema).write.mode("append").parquet(input_dir)
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)

    pts2 = spark.read.parquet(points_dir)
    assert pts2.count() == 5
    ids = sorted(r["id"] for r in pts2.select("id").collect())
    assert ids == [0, 1, 2, 3, 4]  # dense, continuing across drains
    # edge table == offline rebuild over the full point set (exactness)
    edges = spark.read.parquet(edges_dir)
    rebuilt = KNN.knn_edges(pts2.select("id", "vec"), k=3)
    assert _edge_set(edges) == _edge_set(rebuilt)

    # third drain with nothing new: no-op, state intact
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)
    assert spark.read.parquet(points_dir).count() == 5


def _bucket_files(edges_dir):
    """{bucket value: {relative file path: sha256(bytes)}} for the
    partitioned edge sink."""
    import hashlib

    out = {}
    for name in os.listdir(edges_dir):
        if not name.startswith("bucket="):
            continue
        b = int(name.split("=", 1)[1])
        d = os.path.join(edges_dir, name)
        out[b] = {
            f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }
    return out


def test_ingest_stream_rewrites_only_changed_buckets(spark, tmp_path):
    """A drain that adds one document must leave every edge bucket whose src
    set is unaffected byte-identical on disk (dynamic partition overwrite of
    only the changed buckets — the O(changed)-not-O(table) write contract)."""
    input_dir = str(tmp_path / "landing")
    points_dir = str(tmp_path / "points")
    edges_dir = str(tmp_path / "edges")
    ckpt = str(tmp_path / "ckpt")
    schema = "repo string, path string, commit string, lang string, content string"

    docs = [f"token{i} alpha{i * 7 % 13} beta{i * 3 % 11} gamma{i}" for i in range(30)]
    spark.createDataFrame(_repo_rows(docs), schema).write.mode("append").parquet(input_dir)
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)

    before = _bucket_files(edges_dir)
    pts_before = spark.read.parquet(points_dir).select("id", "vec").toPandas()
    edges_before = spark.read.parquet(edges_dir).select("src", "dst", "weight").toPandas()

    spark.createDataFrame(
        [("rX", "fX.txt", "c0", "py", "a brand new document entirely")], schema
    ).write.mode("append").parquet(input_dir)
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)

    # derive the expected changed-src set exactly as the sink does
    pts_after = spark.read.parquet(points_dir).select("id", "vec").toPandas()
    new_ids = set(pts_after["id"]) - set(pts_before["id"])
    assert len(new_ids) == 1
    def as_pts_df(pdf):
        return spark.createDataFrame(
            [(int(r.id), [float(x) for x in r.vec]) for r in pdf.itertuples()],
            "id long, vec array<float>",
        )

    delta = KNN.incremental_knn_delta(
        as_pts_df(pts_before),
        spark.createDataFrame(edges_before),
        as_pts_df(pts_after[pts_after["id"].isin(new_ids)]),
        k=3,
    )
    changed_buckets = {int(r["src"]) % 16 for r in delta.select("src").distinct().collect()}
    after = _bucket_files(edges_dir)
    untouched = set(before) - changed_buckets
    assert untouched, "test instance degenerate: every bucket changed"
    for b in untouched:
        assert after[b] == before[b], f"bucket {b} rewritten without changes"
    # and the maintained table still equals the offline rebuild
    rebuilt = KNN.knn_edges(spark.read.parquet(points_dir).select("id", "vec"), k=3)
    assert _edge_set(spark.read.parquet(edges_dir).select("src", "dst", "weight")) == _edge_set(rebuilt)


def test_ingest_stream_survives_stale_meta(spark, tmp_path):
    """Crash-window simulation: points appended but the state record never
    committed (crash between the append and the final record write). The
    count-reconcile in _next_id must prevent a later batch from re-issuing
    committed ids."""
    input_dir, points_dir, edges_dir, ckpt = _drain_paths(tmp_path)
    _land(spark, input_dir, [f"crash doc {i} unique words {i*13%7}" for i in range(12)])
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)
    # simulate the crash state: a stale next_id AND the in-flight record
    # still set (it is only cleared by the final record write, so a crash
    # in that window always leaves it — the record is what triggers the
    # count-reconcile instead of trusting the stale next_id)
    _write_state(points_dir, 3, {"offset": 0, "n_new": 12})
    _land(spark, input_dir, ["a fresh post-crash document"])
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)
    pts = spark.read.parquet(points_dir)
    ids = [r["id"] for r in pts.select("id").collect()]
    assert len(ids) == len(set(ids)) == 13  # no duplicate ids issued
    assert sorted(ids) == list(range(13))  # still dense
    rebuilt = KNN.knn_edges(pts.select("id", "vec"), k=3)
    assert _edge_set(spark.read.parquet(edges_dir).select("src", "dst", "weight")) == _edge_set(rebuilt)


def test_ingest_stream_refuses_bucket_layout_change(spark, tmp_path):
    """Reopening a bucketed edge sink with a different n_buckets must fail
    loudly — the changed-bucket list and the stored partition values would
    disagree and silently corrupt adjacency."""
    input_dir = str(tmp_path / "landing")
    points_dir = str(tmp_path / "points")
    edges_dir = str(tmp_path / "edges")
    ckpt = str(tmp_path / "ckpt")
    schema = "repo string, path string, commit string, lang string, content string"
    docs = [f"layout doc {i}" for i in range(8)]
    spark.createDataFrame(_repo_rows(docs), schema).write.mode("append").parquet(input_dir)
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16, n_buckets=16)
    spark.createDataFrame(
        [("rN", "fN.txt", "c0", "py", "another doc for the next drain")], schema
    ).write.mode("append").parquet(input_dir)
    with pytest.raises(Exception, match="n_buckets"):
        ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16, n_buckets=8)


def _pbucket_files(points_dir):
    """{pbucket value: {relative file path: sha256(bytes)}} for the
    hash-bucketed points sink."""
    import hashlib

    out = {}
    for name in os.listdir(points_dir):
        if not name.startswith("pbucket="):
            continue
        b = int(name.split("=", 1)[1])
        d = os.path.join(points_dir, name)
        out[b] = {
            f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }
    return out


def test_points_sink_bucketed_and_untouched_buckets_identical(spark, tmp_path):
    """The points sink is hash-bucketed by pmod(xxhash64(sha256), n_buckets)
    so the per-batch dedup anti-join prunes to the batch's buckets instead
    of scanning the whole sink; a second drain must leave every bucket it
    does not append to byte-identical on disk."""
    input_dir = str(tmp_path / "landing")
    points_dir = str(tmp_path / "points")
    edges_dir = str(tmp_path / "edges")
    ckpt = str(tmp_path / "ckpt")
    schema = "repo string, path string, commit string, lang string, content string"

    docs1 = [f"bucketed points doc {i} word{i * 7 % 5}" for i in range(10)]
    spark.createDataFrame(_repo_rows(docs1), schema).write.mode("append").parquet(input_dir)
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16, n_buckets=16)
    before = _pbucket_files(points_dir)
    assert before  # sink is partitioned by pbucket
    # the stored pbucket values honor the layout
    pts = spark.read.parquet(points_dir)
    bad = pts.where(
        F.pmod(F.xxhash64(F.col("sha256")), F.lit(16)).cast("int") != F.col("pbucket")
    ).count()
    assert bad == 0

    # drain one new doc + one duplicate: dedup must still hold (pruned
    # anti-join finds the duplicate in its own bucket) ...
    spark.createDataFrame(
        _repo_rows([docs1[0], "a genuinely new eleventh document"]), schema
    ).write.mode("append").parquet(input_dir)
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16, n_buckets=16)
    pts2 = spark.read.parquet(points_dir)
    assert pts2.count() == 11
    assert pts2.select("sha256").distinct().count() == 11
    # ... and every bucket the append did not touch is byte-identical
    after = _pbucket_files(points_dir)
    touched = {b for b in after if after[b] != before.get(b, {})}
    untouched = set(before) - touched
    assert untouched  # 1 new doc can touch at most 1 of 16 buckets
    for b in untouched:
        assert after[b] == before[b]


def test_points_sink_layout_change_refused(spark, tmp_path):
    """Reopening a hash-bucketed points sink with a different n_buckets must
    fail loudly — pruning with mismatched bucket math would miss duplicates
    and double-insert rows."""
    input_dir = str(tmp_path / "landing")
    points_dir = str(tmp_path / "points")
    edges_dir = str(tmp_path / "edges")
    ckpt = str(tmp_path / "ckpt")
    schema = "repo string, path string, commit string, lang string, content string"
    spark.createDataFrame(_repo_rows(["one doc", "two doc"]), schema).write.mode(
        "append"
    ).parquet(input_dir)
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16, n_buckets=16)
    spark.createDataFrame(_repo_rows(["three doc"]), schema).write.mode("append").parquet(
        input_dir
    )
    with pytest.raises(Exception, match="n_buckets=16"):
        ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16, n_buckets=8)


def test_torn_append_detected(spark, tmp_path):
    """A committed row count strictly between the in-flight record's offset
    and offset+n_new means a torn (partially committed) points append —
    replay must fail loudly instead of renumbering the remainder and
    binding the crashed attempt's edge rows to the wrong vectors."""
    input_dir, points_dir, edges_dir, ckpt = _drain_paths(tmp_path)
    _land(spark, input_dir, [f"torn append doc {i}" for i in range(6)])
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)
    assert spark.read.parquet(points_dir).count() == 6
    # forge a crash whose record says the batch started at offset 2 with 3
    # rows: committed=6 is neither 2 nor 5 → torn
    _write_state(points_dir, 2, {"offset": 2, "n_new": 3})
    _land(spark, input_dir, ["post crash doc"])
    with pytest.raises(Exception, match="torn append"):
        ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)
    # a consistent record (offset + n_new == committed) replays cleanly
    _write_state(points_dir, 3, {"offset": 3, "n_new": 3})
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)
    assert spark.read.parquet(points_dir).count() == 7


def test_unbucketed_edge_sink_refused(spark, tmp_path):
    """An edge sink without the 'bucket' column must be refused with an
    error naming the column, not an unresolved-column AnalysisException
    from the consistency scan."""
    import shutil

    input_dir, points_dir, edges_dir, ckpt = _drain_paths(tmp_path)
    _land(spark, input_dir, ["edge sink doc one", "edge sink doc two", "edge sink doc three"])
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)
    # strip to an unpartitioned sink without the bucket column or state
    flat = spark.read.parquet(edges_dir).drop("bucket").localCheckpoint(eager=True)
    shutil.rmtree(edges_dir)
    os.remove(points_dir + "_state.json")
    flat.write.mode("overwrite").parquet(edges_dir)
    _land(spark, input_dir, ["a new doc arrives"])
    with pytest.raises(Exception, match="has no 'bucket' partition column"):
        ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)


def test_duplicate_only_replay_finalizes_marker(spark, tmp_path):
    """A replayed batch whose points append fully landed dedups to zero new
    rows — it must still clear the crashed attempt's in-flight record and
    commit the next id, or every later batch pays the count-reconcile over
    the full sink (r4 review finding)."""
    input_dir, points_dir, edges_dir, ckpt = _drain_paths(tmp_path)
    docs = [f"marker finalize doc {i}" for i in range(5)]
    _land(spark, input_dir, docs)
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)
    # simulate: crash AFTER the points append, BEFORE the final record write
    _write_state(points_dir, 0, {"offset": 0, "n_new": 5})
    # replay delivers the same (duplicate-only) content
    _land(spark, input_dir, docs)
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)
    state = _read_state(points_dir)
    assert state["inflight"] is None  # finalized
    assert state["next_id"] == 5
    assert spark.read.parquet(points_dir).count() == 5


def test_points_sidecar_loss_with_wrong_n_buckets_refused(spark, tmp_path):
    """If the state record is lost, reopening a bucketed points sink must
    VERIFY the stored pbucket values before recording a new layout — blind
    stamping with a different n_buckets would bless wrong-bucket pruning
    (r4 review finding)."""
    input_dir, points_dir, edges_dir, ckpt = _drain_paths(tmp_path)
    _land(spark, input_dir, ["sidecar doc a", "sidecar doc b"])
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16, n_buckets=16)
    os.remove(points_dir + "_state.json")  # state record lost
    _land(spark, input_dir, ["sidecar doc c"])
    with pytest.raises(Exception, match="pbucket values do not match"):
        ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16, n_buckets=8)
    # with the ORIGINAL n_buckets the scan passes and the record is re-stamped
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16, n_buckets=16)
    assert spark.read.parquet(points_dir).count() == 3
    assert _read_state(points_dir)["n_buckets"] == 16


def test_ingest_zero_token_documents(spark, tmp_path):
    """Empty / whitespace-only files (empty __init__.py, .gitkeep) must land
    in the points sink as zero vectors — dropping them desynchronizes the
    committed-row-count == next_id invariant (false torn-append alarms) and
    defeats the sink dedup (every later empty file burns a fresh id)."""
    input_dir = str(tmp_path / "landing")
    points_dir = str(tmp_path / "points")
    edges_dir = str(tmp_path / "edges")
    ckpt = str(tmp_path / "ckpt")
    schema = "repo string, path string, commit string, lang string, content string"

    batch1 = ["alpha beta gamma", "", "delta epsilon zeta"]
    spark.createDataFrame(_repo_rows(batch1), schema).write.mode("append").parquet(input_dir)
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=2, dim=16)
    pts1 = spark.read.parquet(points_dir)
    assert pts1.count() == 3  # the empty doc IS a point (zero vector)
    zero_rows = [r for r in pts1.collect() if all(v == 0.0 for v in r["vec"])]
    assert len(zero_rows) == 1

    # replay a whitespace-only duplicate of "" content class: "   " hashes
    # differently, but a literal duplicate of "" must dedup via the sink
    batch2 = ["", "eta theta iota"]
    spark.createDataFrame(_repo_rows(batch2), schema).write.mode("append").parquet(input_dir)
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=2, dim=16)
    pts2 = spark.read.parquet(points_dir)
    assert pts2.count() == 4  # "" deduped against the sink, one new doc
    assert sorted(r["id"] for r in pts2.collect()) == [0, 1, 2, 3]


def test_incremental_knn_delta_bootstraps_from_no_edges(spark, rng):
    """edges=None (the documented bootstrap case) must treat every existing
    point's threshold as +inf, not crash (r5 review finding)."""
    Xa, Xb = rng.normal(size=(30, 6)), rng.normal(size=(8, 6))
    pts_a = make_points_df(spark, Xa)
    pts_b = spark.createDataFrame(
        [(int(i + len(Xa)), [float(x) for x in v]) for i, v in enumerate(Xb)],
        "id long, vec array<float>",
    )
    delta = KNN.incremental_knn_delta(pts_a, None, pts_b, k=4)
    rebuilt = KNN.knn_edges(pts_a.unionByName(pts_b), k=4)
    merged = KNN.merge_topk(delta, 4)
    # with +inf thresholds the delta contains every (existing, new) pair, so
    # merging it reproduces the full rebuild's rows that touch a new point
    new_ids = set(range(len(Xa), len(Xa) + len(Xb)))
    want = {
        (r["src"], r["dst"]) for r in rebuilt.collect()
        if r["src"] in new_ids or r["dst"] in new_ids
    }
    got = {(r["src"], r["dst"]) for r in merged.collect()}
    assert want <= got


def _drain_paths(tmp_path):
    return (str(tmp_path / n) for n in ("landing", "points", "edges", "ckpt"))


def _read_state(points_dir):
    with open(points_dir + "_state.json") as fh:
        return json.load(fh)


def _write_state(points_dir, next_id, inflight, n_buckets=16):
    with open(points_dir + "_state.json", "w") as fh:
        json.dump({"n_buckets": n_buckets, "next_id": next_id, "inflight": inflight}, fh)


def _land(spark, input_dir, docs):
    schema = "repo string, path string, commit string, lang string, content string"
    spark.createDataFrame(_repo_rows(docs), schema).write.mode("append").parquet(input_dir)


def _assert_sink_exact(spark, points_dir, edges_dir, k):
    """The edge sink equals knn_edges over the sink's points, and the
    threshold sidecar equals deg_kth over the edge sink."""
    edges = spark.read.parquet(edges_dir)
    rebuilt = KNN.knn_edges(spark.read.parquet(points_dir).select("id", "vec"), k=k)
    assert _edge_set(edges) == _edge_set(rebuilt)
    sidecar = {(r["src"], r["deg"], r["kth"]) for r in spark.read.parquet(edges_dir + "_thresh").collect()}
    assert sidecar == {(r["src"], r["deg"], r["kth"]) for r in KNN.deg_kth(edges).collect()}


def test_first_drain_into_empty_sinks_equals_knn_edges(spark, tmp_path):
    """The first micro-batch takes the incremental path with no edge sink
    (every threshold +inf): its merged delta is knn_edges over its points,
    and the state records the bucket spec."""
    input_dir, points_dir, edges_dir, ckpt = _drain_paths(tmp_path)
    _land(spark, input_dir, [f"first drain doc {i} w{i * 5 % 7} v{i % 3}" for i in range(20)])
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=4, dim=16)
    assert spark.read.parquet(points_dir).count() == 20
    _assert_sink_exact(spark, points_dir, edges_dir, 4)
    assert _read_state(points_dir)["n_buckets"] == 16


def test_one_document_first_drain_then_second_drain(spark, tmp_path):
    """A one-document first drain writes a point and no edge (min(k, n-1)
    = 0 neighbours), so the second drain finds points but no edge sink; its
    edges must still equal knn_edges over all points."""
    input_dir, points_dir, edges_dir, ckpt = _drain_paths(tmp_path)
    _land(spark, input_dir, ["a lonely first document"])
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)
    assert spark.read.parquet(points_dir).count() == 1
    assert not os.path.exists(edges_dir)
    _land(spark, input_dir, [f"second drain doc {i} t{i % 4}" for i in range(6)])
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)
    assert sorted(r["id"] for r in spark.read.parquet(points_dir).collect()) == list(range(7))
    _assert_sink_exact(spark, points_dir, edges_dir, 3)


def test_crashed_first_batch_replay_converges(spark, tmp_path):
    """Crash after the first batch's edge and sidecar writes, before its
    points append: the edge sink and sidecar are present, the points sink
    is missing and the state is in flight. The stream replays the
    uncommitted batch, which re-derives the same ids and converges to the
    exact state."""
    import shutil

    input_dir, points_dir, edges_dir, ckpt = _drain_paths(tmp_path)
    docs = [f"crashed first batch doc {i} x{i * 3 % 5}" for i in range(12)]
    _land(spark, input_dir, docs)
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)
    edges_before = _edge_set(spark.read.parquet(edges_dir))
    # undo everything after the sidecar refresh; the batch stays in the
    # offset log but not in the commit log, so the next drain replays it
    shutil.rmtree(points_dir)
    for f in ("0", ".0.crc"):
        os.remove(os.path.join(ckpt, "commits", f))
    _write_state(points_dir, 0, {"offset": 0, "n_new": 12})
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)
    assert _read_state(points_dir)["inflight"] is None
    assert sorted(r["id"] for r in spark.read.parquet(points_dir).collect()) == list(range(12))
    assert _edge_set(spark.read.parquet(edges_dir)) == edges_before
    _assert_sink_exact(spark, points_dir, edges_dir, 3)
    assert _read_state(points_dir)["n_buckets"] == 16


def test_failed_final_state_write_keeps_record_and_replay_converges(spark, tmp_path, monkeypatch):
    """The rename that commits a batch's final state record fails after the
    points append landed: the record on disk stays the whole in-flight one,
    and the next drain replays the batch, which dedups to zero, reconciles
    the next id from the committed count and leaves the sinks exact."""
    input_dir, points_dir, edges_dir, ckpt = _drain_paths(tmp_path)
    _land(spark, input_dir, [f"rename fault doc {i} z{i % 4}" for i in range(10)])
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)
    assert _read_state(points_dir) == {"n_buckets": 16, "next_id": 10, "inflight": None}

    replace = os.replace

    def failing_final(src, dst):
        if dst == points_dir + "_state.json":
            with open(src) as fh:
                if json.load(fh)["inflight"] is None:
                    raise OSError("simulated crash before the final state rename")
        replace(src, dst)

    monkeypatch.setattr(os, "replace", failing_final)
    _land(spark, input_dir, [f"rename fault batch doc {i}" for i in range(4)])
    with pytest.raises(Exception, match="simulated crash"):
        ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)
    monkeypatch.undo()
    assert _read_state(points_dir) == {"n_buckets": 16, "next_id": 10, "inflight": {"offset": 10, "n_new": 4}}
    assert spark.read.parquet(points_dir).count() == 14  # the append landed

    _land(spark, input_dir, ["a document after the failed rename"])
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)
    assert _read_state(points_dir) == {"n_buckets": 16, "next_id": 15, "inflight": None}
    assert sorted(r["id"] for r in spark.read.parquet(points_dir).collect()) == list(range(15))
    _assert_sink_exact(spark, points_dir, edges_dir, 3)
    assert sorted(os.listdir(tmp_path)) == ["ckpt", "edges", "edges_thresh", "landing", "points", "points_state.json"]


def test_ingest_writes_no_staging_copy(spark, tmp_path, monkeypatch):
    """Every parquet write of a first and a later drain goes to a sink or
    the threshold sidecar: the changed edge buckets are written once,
    straight into the edge sink, never to an ``<edges>_staging`` copy, and
    the bookkeeping is one state record, not a parquet meta sink."""
    from pyspark.sql.readwriter import DataFrameWriter

    written = []
    parquet = DataFrameWriter.parquet

    def recording(self, path, *a, **kw):
        written.append(path)
        return parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    input_dir, points_dir, edges_dir, ckpt = _drain_paths(tmp_path)
    _land(spark, input_dir, [f"staging doc {i} s{i % 5}" for i in range(10)])
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)
    _land(spark, input_dir, ["a later staging doc", "and one more"])
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)
    sinks = {edges_dir, edges_dir + "_thresh", points_dir}
    assert set(written) - {input_dir} <= sinks
    assert edges_dir in written and not os.path.exists(edges_dir + "_staging")
    _assert_sink_exact(spark, points_dir, edges_dir, 3)


# one micro-batch into a seeded sink runs 24 jobs at local[4] on Spark 4.1;
# parquet meta sinks and a second pin and count of the batch ran 35,
# featurizing by token explode and numbering by window 41, the two-pass
# delta with a staging copy of the changed buckets 46
JOBS_PER_MICRO_BATCH = 24


def test_micro_batch_runs_few_spark_jobs(spark, tmp_path):
    """One micro-batch into a seeded sink: the stream thread sets its own
    job group, so the jobs are counted by id in the status store. A
    second collect or broadcast of the batch, a staging copy or a rebuild
    of the edge table shows here."""
    import time

    input_dir, points_dir, edges_dir, ckpt = _drain_paths(tmp_path)
    _land(spark, input_dir, [f"seeded sink doc {i} q{i * 7 % 11}" for i in range(40)])
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)
    _land(spark, input_dir, [f"micro batch doc {i} q{i % 11}" for i in range(10)])
    before = job_ids(spark)
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16)
    time.sleep(1.0)  # the status store is fed by the asynchronous listener bus
    n_jobs = len(job_ids(spark) - before)
    assert n_jobs <= JOBS_PER_MICRO_BATCH, n_jobs
    _assert_sink_exact(spark, points_dir, edges_dir, 3)


def test_micro_batch_adds_one_file_per_points_bucket(spark, tmp_path):
    """The points append is one task per ``pbucket``: a micro-batch numbered
    over several range partitions still adds at most one parquet file to
    each bucket directory of the points sink."""
    import glob

    input_dir, points_dir, edges_dir, ckpt = _drain_paths(tmp_path)

    def files():
        buckets = glob.glob(os.path.join(points_dir, "pbucket=*"))
        return {d: len(glob.glob(os.path.join(d, "*.parquet"))) for d in buckets}

    _land(spark, input_dir, [f"bucketed sink doc {i} r{i % 13}" for i in range(60)])
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16, n_buckets=4)
    before = files()
    assert set(before.values()) == {1}
    _land(spark, input_dir, [f"bucketed batch doc {i} r{i % 7}" for i in range(60)])
    ingest_stream(spark, input_dir, points_dir, edges_dir, ckpt, k=3, dim=16, n_buckets=4)
    after = files()
    assert all(after[d] - before.get(d, 0) <= 1 for d in after), (before, after)
    assert sum(after.values()) > sum(before.values())
    _assert_sink_exact(spark, points_dir, edges_dir, 3)
