"""Structured Streaming front-end: continuous corpus ingest that keeps the
points table AND the exact k-NN edge table up to date.

The reference is batch-only (SURVEY §2.8); the 100 TB pipeline is not — new
repo snapshots arrive continuously. Spark-first shape:

- ``readStream`` over the landing directory (file source = the bounded-state
  streaming source; on a real deployment this is the same code over Kafka or
  an Iceberg CDC feed);
- every micro-batch runs the BATCH operators inside ``foreachBatch`` —
  sha256 dedup against the sink (anti-join on the hash, a pruned parquet
  read), dense ids and the one-pass Arrow featurizer, then
  ``incremental_knn_delta`` (the new batch broadcast once; one scoring pass
  emits its forward top-k and the reverse below-threshold pairs) so the
  edge table stays EXACT without ever recomputing old×old pairs. Every
  batch, the first included, takes the same write path: merge the changed
  buckets, pin them, dynamic overwrite, refresh the threshold sidecar;
- exactly-once across restarts comes from the checkpointLocation +
  idempotent-by-construction sinks (dedup by content hash) + ONE state
  record next to the points sink, ``<points>_state.json`` =
  ``{n_buckets, next_id, inflight}``, replaced atomically (temp file,
  fsync, rename). A batch records ``inflight = (offset, n_new)`` before
  its first sink write and commits ``next_id = offset + n_new`` with
  ``inflight = null`` in one write after its points append. Crash-replay
  analysis: a crash before the in-flight write leaves the sinks and the
  record untouched; a crash after it and before the points append leaves
  edge rows naming not-yet-committed ids, but the replayed batch finds the
  committed count equal to ``offset``, re-derives the SAME ids (same
  content order, same offset — the points never landed) and rewrites the
  same buckets, so the sink converges to the exact state; a crash after
  the append finds the count equal to ``offset + n_new``, and the replayed
  batch dedups to zero and clears the record; any other count is a torn
  append and fails loudly. Since the next id and the in-flight flag move
  in one write, no crash can leave a stale next id without the in-flight
  record that makes replay reconcile it. Replay
  recomputes from the sinks alone: no staging copy is ever written or
  read;
- ``trigger(availableNow=True)`` drains the backlog and stops — the batch
  API and the streaming API are the same engine, so tests drive real
  streaming queries deterministically.

State note: the alternative 'stateful dropDuplicates' keeps every hash in
the state store forever; the sink anti-join keeps state IN THE SINK (a
columnar hash index at scale), which is the pattern that survives 10^12
files.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gp_ann_spark.checkpoint import checkpoints
from gp_ann_spark.corpus.ingest import dedup_files, dense_ids, featurize
from gp_ann_spark.operators.knn import deg_kth, incremental_knn_delta, merge_topk

REPO_SCHEMA = "repo string, path string, commit string, lang string, content string"


def _sink_exists(path: str) -> bool:
    if not os.path.isdir(path):
        return False
    for root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _load_state(path: str) -> dict | None:
    try:
        with open(path) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def _save_state(path: str, n_buckets: int, next_id: int, inflight: dict | None = None) -> None:
    """Replace the sinks' state record atomically: written to a temp file
    in the same directory, synced, then renamed over the record, so a crash
    leaves either the old record or the new one, never a torn file."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"n_buckets": n_buckets, "next_id": next_id, "inflight": inflight}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def _next_id(
    state: dict | None, n_buckets: int, points: DataFrame | None, edges: DataFrame | None, points_dir: str,
    edges_dir: str,
) -> int:
    """Check the sinks against the state record and return the next dense id.

    With a record, ``n_buckets`` must equal the stored spec (a mismatch
    would miss duplicates in the pruned dedup anti-join and select the wrong
    old edge rows in the bucketed merge). A clean record's ``next_id`` is
    trusted, so the clean path counts nothing. An ``inflight`` record
    ``(offset, n_new)`` is left by a batch that crashed between its first
    sink write and its final record write: ids are dense 0..n-1, so the
    committed row count (``count(*)`` reads only parquet footers) is the
    next id, and it must equal either ``offset`` (the points append never
    landed — replay re-derives the same ids) or ``offset + n_new`` (the
    append landed, only the record write was lost). Any count in between
    means a TORN append (a filesystem without atomic job commit left part
    of the batch's rows in the sink): replay would give the remaining
    contents other ids than the crashed attempt while its edge rows still
    name the old ids — fail loudly instead of binding edges to the wrong
    vectors.

    Without a record (lost, or sinks written before the record existed),
    each sink present gets ``_scan_layout`` and the committed row count is
    the next id."""
    if state is not None:
        stored = int(state["n_buckets"])
        if stored != n_buckets:
            raise ValueError(
                f"sinks {points_dir} and {edges_dir} were written with n_buckets={stored}; reopening with "
                f"n_buckets={n_buckets} would break the dedup anti-join's pruning and corrupt the bucketed "
                f"edge maintenance — repartition the sinks or pass n_buckets={stored}"
            )
        if state["inflight"] is None:
            return int(state["next_id"])
        committed = points.count() if points is not None else 0
        offset, n_new = int(state["inflight"]["offset"]), int(state["inflight"]["n_new"])
        if committed not in (offset, offset + n_new):
            raise RuntimeError(
                f"torn append detected in points sink {points_dir}: committed "
                f"row count {committed} is neither the in-flight batch's "
                f"offset {offset} nor offset+n_new {offset + n_new}. The "
                "crashed batch's parquet files are partially committed — "
                "quarantine the files newer than the state record (or delete rows "
                f"with id >= {offset}) before resuming, or edge rows from "
                "the crashed attempt will bind to the wrong vectors."
            )
        return committed
    _scan_layout(
        points, f"points sink {points_dir}", "pbucket", _points_bucket(n_buckets),
        f"pbucket values do not match n_buckets={n_buckets} — it was bucketed with a different layout; pass the "
        "original n_buckets",
    )
    _scan_layout(
        edges, f"edge sink {edges_dir}", "bucket", _edges_bucket(n_buckets),
        f"bucket layout does not match n_buckets={n_buckets}",
    )
    return points.count() if points is not None else 0


def _scan_layout(sink: DataFrame | None, what: str, col: str, expr: Column, mismatch: str) -> None:
    """Check a sink found without a state record: it is partitioned by
    ``col`` and every stored value equals ``expr`` — recording a spec over
    values computed with another n_buckets would bless pruning to the
    wrong buckets."""
    if sink is None:
        return
    if col not in sink.columns:
        raise ValueError(
            f"{what} has no '{col}' partition column — rebuild it with partitionBy('{col}') before resuming "
            "incremental ingest"
        )
    if sink.where(expr != F.col(col)).limit(1).count():
        raise ValueError(f"{what} {mismatch}")


def _write_thresholds(spark: SparkSession, thresh_dir: str, bucket_edges) -> None:
    """Refresh the (src, deg, kth) sidecar for exactly the buckets present
    in ``bucket_edges`` (a bucket-columned edge frame) — dynamic partition
    overwrite, so untouched sidecar buckets stay byte-identical like the
    edge sink's. The aggregate is knn.deg_kth — the ONE definition shared
    with the delta fallback, so sidecar and edge table cannot drift."""
    (
        deg_kth(bucket_edges, "bucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(thresh_dir)
    )


def _points_bucket(n_buckets: int) -> Column:
    """Points-sink partition key: a uniform hash of the content sha256 —
    the dedup anti-join's equi-key, so pruning to the batch's buckets is
    exact (a hash collision across buckets is impossible: same sha256 ⇒
    same bucket)."""
    return F.pmod(F.xxhash64(F.col("sha256")), F.lit(n_buckets)).cast("int")


def _edges_bucket(n_buckets: int) -> Column:
    """Edge-sink partition key. The changed-bucket list is computed from src
    but old rows are selected by their STORED bucket value, so the stored
    spec must match (the state record pins it)."""
    return F.pmod(F.col("src"), F.lit(n_buckets)).cast("int")


def ingest_stream(
    spark: SparkSession,
    input_dir: str,
    points_dir: str,
    edges_dir: str,
    checkpoint_dir: str,
    k: int = 10,
    dim: int = 64,
    metric: str = "l2",
    n_buckets: int = 16,
) -> None:
    """Drain the landing directory: dedup → featurize → maintain the k-NN
    edge table. Blocks until the backlog is processed (availableNow).

    The edge sink is parquet PARTITIONED BY ``bucket = pmod(src, n_buckets)``
    and each micro-batch — the first one included, which finds no edge sink
    and writes every bucket its points land in — rewrites only the buckets
    whose src set intersects the changed ids (``incremental_knn_delta``
    knows exactly which srcs can change). The merged buckets are pinned and
    written once, by dynamic partition overwrite straight into the sink:
    the pin is what lets the write replace the path it was read from.
    Untouched buckets' files are left byte-identical on disk, so at 10^12
    edges the per-batch write is O(changed buckets)."""

    state_path = points_dir + "_state.json"
    thresh_dir = edges_dir + "_thresh"
    bucket = _edges_bucket(n_buckets)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        with checkpoints() as cp:
            # each sink is read once per batch: the checks, the dedup
            # anti-join, the delta and the merge share the frame
            points = spark.read.parquet(points_dir) if _sink_exists(points_dir) else None
            edges = spark.read.parquet(edges_dir) if _sink_exists(edges_dir) else None
            state = _load_state(state_path)
            offset = _next_id(state, n_buckets, points, edges, points_dir, edges_dir)
            # 1. content-hash dedup WITHIN the batch — the ONE definition of the
            #    keep-first-provenance rule (corpus.dedup_files), so the batch
            #    and streaming paths cannot silently diverge ...
            batch_unique = dedup_files(batch_df).select("sha256", "content")
            # 2. ... and against the sink (anti-join on the hash — state lives in
            #    the sink, not the state store). The sink is hash-bucketed by
            #    pbucket = pmod(xxhash64(sha256), n_buckets), so the anti-join
            #    reads ONLY the batch's buckets (partition-pruned scan) instead
            #    of the whole 10^12-row sink every micro-batch — same design as
            #    the edge sink.
            if points is not None:
                batch_buckets = [
                    int(r["b"])
                    for r in batch_unique.select(_points_bucket(n_buckets).alias("b"))
                    .distinct()
                    .collect()
                ]
                seen = points.where(F.col("pbucket").isin(batch_buckets)).select("sha256")
                batch_unique = batch_unique.join(seen, "sha256", "left_anti")
            # 3. dense ids continue from the state's next_id: numbered by one
            #    range shuffle, whose per-partition counts give n_new
            with_ids, n_new = dense_ids(batch_unique)
            if n_new == 0:
                # a replayed batch whose points append fully landed dedups to
                # zero: _next_id validated the in-flight record against the
                # committed count, so clear it (else every later batch pays
                # the count over the full sink); a lost record is restored
                if points is not None and (state is None or state["inflight"] is not None):
                    _save_state(state_path, n_buckets, offset)
                return
            # recorded before the batch's first sink write, so a crash
            # anywhere until the final record write leaves it for _next_id
            _save_state(state_path, n_buckets, offset, {"offset": offset, "n_new": n_new})
            # featurized in one narrow pass that carries sha256 through: no
            # join back
            new_pts = cp.pin(featurize(with_ids.withColumn("id", F.col("id") + F.lit(offset)), dim=dim))
            # 4. maintain the EXACT edge table incrementally, rewriting only the
            #    src-buckets that contain changed rows — the first batch too:
            #    with no edge sink the delta takes no thresholds (every
            #    existing point's is +inf), and over an empty sink it is the
            #    batch's own k-NN edges. The (src, deg, kth) threshold sidecar
            #    (bucket-partitioned like the edges) replaces the O(n·k)-row
            #    full-edge-table aggregate in the delta — the one remaining
            #    table-sized read — so a batch touches O(n_points) narrow rows
            #    + O(changed buckets) edge rows, never O(edges).
            thresholds = None
            if edges is not None:
                if not _sink_exists(thresh_dir):
                    # sidecar lost (a crash between the first edge write and
                    # _write_thresholds): rebuild the FULL sidecar now (every
                    # bucket). The per-batch refresh below rewrites only
                    # changed buckets, so an in-memory partial rebuild would
                    # leave every other src invisible (null → +inf threshold)
                    # on the NEXT batch.
                    _write_thresholds(spark, thresh_dir, edges)
                thresholds = spark.read.parquet(thresh_dir)
            existing = points.select("id", "vec") if points is not None else None
            # lazy: the changed-bucket collect below materializes it
            delta = cp.pin(incremental_knn_delta(
                existing, None, new_pts.select("id", "vec"), k=k, metric=metric, thresholds=thresholds,
            ), eager=False)
            changed = [int(r["b"]) for r in delta.select(bucket.alias("b")).distinct().collect()]
            if changed:
                if edges is not None:
                    # filter on the PARTITION column so the scan prunes to the
                    # changed bucket directories (a pmod(src,..) predicate does
                    # not map to partition pruning)
                    delta = edges.where(F.col("bucket").isin(changed)).select("src", "dst", "weight").unionByName(
                        delta
                    )
                # pinned, so the overwrite's plan reads a checkpoint, not the
                # sink it replaces (the pin is lazy: the write materializes
                # it, and a dynamic overwrite swaps the changed bucket dirs
                # in only at job commit, after every read of them); the
                # sidecar refresh then reads the same rows from the pin
                updated = cp.pin(merge_topk(delta, k).withColumn("bucket", bucket), eager=False)
                updated.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
                    "bucket"
                ).parquet(edges_dir)
                _write_thresholds(spark, thresh_dir, updated)
            # the sink's column order; one task per bucket, so a micro-batch
            # adds one file per bucket directory, not one per range partition
            new_pts.select("id", "vec", "sha256", _points_bucket(n_buckets).alias("pbucket")).repartition(
                "pbucket"
            ).write.mode("append").partitionBy("pbucket").parquet(points_dir)
            # clean completion: one atomic write commits the next id and
            # clears the in-flight record
            _save_state(state_path, n_buckets, offset + n_new)

    stream = spark.readStream.schema(REPO_SCHEMA).parquet(input_dir)
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

