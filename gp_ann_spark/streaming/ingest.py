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
  idempotent-by-construction sinks (dedup by content hash). Crash-replay
  analysis: ids are allocated as max(meta, committed row count), so a crash
  between the points append and the meta write cannot re-issue committed
  ids; a crash between the edge write and the points append leaves edge
  rows naming not-yet-committed ids, but the replayed batch re-derives the
  SAME ids (same content order, same offset — the points never landed) and
  rewrites the same buckets, so the sink converges to the exact state.
  Replay recomputes from the sinks alone: no staging copy is ever written
  or read;
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


def _inflight_marker(points_dir: str) -> str:
    return points_dir + "_inflight"


def _read_next_id(spark: SparkSession, points_dir: str) -> int:
    """Next dense id from the one-row metadata sink.

    Reconciliation against the committed row count (ids are dense 0..n-1,
    so the count IS the next id; ``count(*)`` reads only parquet footers)
    runs ONLY when the in-flight marker from a crashed batch is present or
    the meta sink is missing — the clean path is one metadata-row read, not
    a per-batch listing of a 10^12-row sink. The reconcile repairs a stale
    meta after a crash between the points append and the meta write, which
    would otherwise let a later batch re-issue committed ids.

    The marker records the crashed batch's ``(offset, n_new)``; replay
    verifies the committed count equals either ``offset`` (append never
    landed — replay re-derives the same ids) or ``offset + n_new`` (append
    landed, only the meta write was lost). Any intermediate count means a
    TORN append (a filesystem without atomic job commit left part of the
    batch's rows in the sink): replay would assign the remaining contents
    different ids than the crashed attempt while already-written edge rows
    still name the old ids — fail loudly instead of silently binding edges
    to the wrong vectors."""
    meta_dir = points_dir + "_meta"
    meta = None
    if _sink_exists(meta_dir):
        meta = int(spark.read.parquet(meta_dir).collect()[0]["next_id"])
    marker = _inflight_marker(points_dir)
    if meta is not None and not os.path.exists(marker):
        return meta
    committed = int(spark.read.parquet(points_dir).count())
    if os.path.exists(marker):
        with open(marker) as fh:
            raw = fh.read().strip()
        try:
            m = json.loads(raw)
        except ValueError:
            m = None
        if isinstance(m, dict) and "offset" in m and "n_new" in m:
            offset, n_new = int(m["offset"]), int(m["n_new"])
            if committed not in (offset, offset + n_new):
                raise RuntimeError(
                    f"torn append detected in points sink {points_dir}: committed "
                    f"row count {committed} is neither the in-flight batch's "
                    f"offset {offset} nor offset+n_new {offset + n_new}. The "
                    "crashed batch's parquet files are partially committed — "
                    "quarantine the files newer than the marker (or delete rows "
                    f"with id >= {offset}) before resuming, or edge rows from "
                    "the crashed attempt will bind to the wrong vectors."
                )
        # legacy plain-int marker (pre-r4): no n_new to verify against
    return max(meta or 0, committed)


def _write_meta(spark: SparkSession, meta_dir: str, value: Column) -> None:
    """Overwrite a one-row, one-file metadata sink with the literal
    ``value``. The row is built on the JVM (``spark.range`` plus a
    literal): a Python-list ``createDataFrame`` would ship it through a
    Python worker, several times slower for one row."""
    spark.range(1, numPartitions=1).select(value).write.mode("overwrite").parquet(meta_dir)


def _write_next_id(spark: SparkSession, points_dir: str, next_id: int) -> None:
    _write_meta(spark, points_dir + "_meta", F.lit(int(next_id)).cast("long").alias("next_id"))


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


class _BucketedSink:
    """ONE layout guard for every bucket-partitioned parquet sink (the edge
    sink and the points sink today; any future sink — a media-feature
    table, say — instantiates this instead of copying the logic a third
    time).

    Invariants enforced per sink:

    - the layout meta dir ``sink_dir + meta_suffix`` pins ``n_buckets``;
      reopening with a different value is refused (a mismatch would silently
      drop/duplicate rows in every bucket-pruned read);
    - a sink whose meta was lost but that HAS the bucket column gets a
      one-time consistency scan before the meta is stamped (blind stamping
      would bless wrong-bucket pruning);
    - a sink WITHOUT the bucket column was not written by this engine
      (``ingest_stream`` buckets both sinks from their first write) and is
      refused with an error naming the column.
    """

    def __init__(
        self,
        sink_dir: str,
        n_buckets: int,
        bucket_col: str,
        bucket_expr,
        what: str,
        meta_suffix: str,
        mismatch_consequence: str,
        scan_error: str,
    ):
        self.sink_dir = sink_dir
        self.n_buckets = int(n_buckets)
        self.bucket_col = bucket_col
        self.bucket_expr = bucket_expr
        self.what = what
        self.meta_dir = sink_dir + meta_suffix
        self.mismatch_consequence = mismatch_consequence
        self.scan_error = scan_error

    def stamp(self, spark: SparkSession) -> None:
        _write_meta(spark, self.meta_dir, F.lit(self.n_buckets).cast("int").alias("n_buckets"))

    def ensure_layout(self, spark: SparkSession) -> None:
        """Validate (or establish) the sink's bucket layout before any
        bucket-pruned read or partial overwrite touches it."""
        if _sink_exists(self.meta_dir):
            stored = int(spark.read.parquet(self.meta_dir).collect()[0]["n_buckets"])
            if stored != self.n_buckets:
                raise ValueError(
                    f"{self.what} {self.sink_dir} was written with "
                    f"n_buckets={stored}; reopening with "
                    f"n_buckets={self.n_buckets} "
                    + self.mismatch_consequence.format(stored=stored)
                )
            return
        sink = spark.read.parquet(self.sink_dir)
        if self.bucket_col not in sink.columns:
            raise ValueError(
                f"{self.what} {self.sink_dir} has no '{self.bucket_col}' partition "
                f"column — rebuild it with partitionBy('{self.bucket_col}') before "
                "resuming incremental ingest"
            )
        # meta missing but the sink IS bucketed (e.g. the meta write was
        # lost): verify the stored values against THIS n_buckets before
        # stamping — blind stamping over values computed with a different
        # n_buckets would bless wrong-bucket pruning
        if sink.where(self.bucket_expr != F.col(self.bucket_col)).limit(1).count():
            raise ValueError(self.scan_error)
        self.stamp(spark)


def _points_bucket(n_buckets: int):
    """Points-sink partition key: a uniform hash of the content sha256 —
    the dedup anti-join's equi-key, so pruning to the batch's buckets is
    exact (a hash collision across buckets is impossible: same sha256 ⇒
    same bucket)."""
    return F.pmod(F.xxhash64(F.col("sha256")), F.lit(n_buckets)).cast("int")


def _edges_sink(edges_dir: str, n_buckets: int) -> _BucketedSink:
    """Edge sink: bucket = pmod(src, n_buckets). The changed-bucket list is
    computed from src but old rows are selected by their STORED bucket
    value, so a layout mismatch would silently drop/duplicate adjacency
    (≙ the maintenance contract of the bucketed incremental path)."""
    return _BucketedSink(
        edges_dir,
        n_buckets,
        bucket_col="bucket",
        bucket_expr=F.pmod(F.col("src"), F.lit(n_buckets)).cast("int"),
        what="edge sink",
        meta_suffix="_layout",
        mismatch_consequence=(
            "would corrupt the bucketed maintenance path — repartition the "
            "sink or pass n_buckets={stored}"
        ),
        scan_error=(
            f"edge sink {edges_dir} bucket layout does not match "
            f"n_buckets={n_buckets}"
        ),
    )


def _points_sink(points_dir: str, n_buckets: int) -> _BucketedSink:
    """Points sink: pbucket = pmod(xxhash64(sha256), n_buckets). Pruning the
    dedup anti-join with buckets computed at a different ``n_buckets`` than
    the stored values would MISS duplicates and silently double-insert rows."""
    return _BucketedSink(
        points_dir,
        n_buckets,
        bucket_col="pbucket",
        bucket_expr=_points_bucket(n_buckets),
        what="points sink",
        meta_suffix="_playout",
        mismatch_consequence=(
            "would break dedup anti-join pruning — pass n_buckets={stored}"
        ),
        scan_error=(
            f"points sink {points_dir} pbucket values do not match "
            f"n_buckets={n_buckets} — it was bucketed with a different "
            "layout; pass the original n_buckets"
        ),
    )


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

    edges_sink = _edges_sink(edges_dir, n_buckets)
    points_sink = _points_sink(points_dir, n_buckets)
    bucket = edges_sink.bucket_expr

    def process(batch_df: DataFrame, batch_id: int) -> None:
        with checkpoints() as cp:
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
            have_sink = _sink_exists(points_dir)
            if have_sink:
                points_sink.ensure_layout(spark)
                batch_buckets = [
                    int(r["b"])
                    for r in batch_unique.select(_points_bucket(n_buckets).alias("b"))
                    .distinct()
                    .collect()
                ]
                seen = (
                    spark.read.parquet(points_dir)
                    .where(F.col("pbucket").isin(batch_buckets))
                    .select("sha256")
                )
                batch_unique = batch_unique.join(seen, "sha256", "left_anti")
            batch_unique = cp.pin(batch_unique)
            n_new = batch_unique.count()
            if n_new == 0:
                # a replayed batch whose points append fully landed dedups to
                # zero — finalize the crashed attempt's bookkeeping (else the
                # marker leaks and EVERY later batch pays the count-reconcile
                # over the full sink). _read_next_id validates the marker's
                # (offset, n_new) against the committed count first, so a torn
                # append still fails loudly here rather than being blessed.
                marker = _inflight_marker(points_dir)
                if have_sink and os.path.exists(marker):
                    _write_next_id(spark, points_dir, _read_next_id(spark, points_dir))
                    os.remove(marker)
                return
            # 3. dense ids continue from the metadata sink's next_id
            #    (deterministic within the batch: rank by sha256, prefix-sum
            #    assignment — no single-partition window)
            offset = _read_next_id(spark, points_dir) if have_sink else 0
            # in-flight marker: present ⇒ a batch may have crashed between its
            # sink writes, so the next id read reconciles against the committed
            # count instead of trusting the (possibly stale) metadata row. It
            # records (offset, n_new) so replay can DETECT a torn append (a
            # committed count strictly between the two) instead of silently
            # renumbering — see _read_next_id.
            with open(_inflight_marker(points_dir), "w") as fh:
                fh.write(json.dumps({"offset": int(offset), "n_new": int(n_new)}))
            # numbered by one range shuffle, then featurized in one narrow
            # pass that carries sha256 through: no join back
            with_ids = dense_ids(batch_unique).withColumn("id", F.col("id") + F.lit(offset))
            new_pts = cp.pin(featurize(with_ids, dim=dim))
            # 4. maintain the EXACT edge table incrementally, rewriting only the
            #    src-buckets that contain changed rows — the first batch too:
            #    with no edge sink the delta takes no thresholds (every
            #    existing point's is +inf), and over an empty sink it is the
            #    batch's own k-NN edges. The (src, deg, kth) threshold sidecar
            #    (bucket-partitioned like the edges) replaces the O(n·k)-row
            #    full-edge-table aggregate in the delta — the one remaining
            #    table-sized read — so a batch touches O(n_points) narrow rows
            #    + O(changed buckets) edge rows, never O(edges).
            thresh_dir = edges_dir + "_thresh"
            have_edges = _sink_exists(edges_dir)
            thresholds = None
            if have_edges:
                edges_sink.ensure_layout(spark)
                if not _sink_exists(thresh_dir):
                    # sidecar lost (a crash between the first edge write and
                    # _write_thresholds): rebuild the FULL sidecar now (every
                    # bucket). The per-batch refresh below rewrites only
                    # changed buckets, so an in-memory partial rebuild would
                    # leave every other src invisible (null → +inf threshold)
                    # on the NEXT batch.
                    deg_kth(spark.read.parquet(edges_dir), "bucket").write.mode("overwrite").partitionBy(
                        "bucket"
                    ).parquet(thresh_dir)
                thresholds = spark.read.parquet(thresh_dir)
            existing = spark.read.parquet(points_dir).select("id", "vec") if have_sink else None
            # lazy: the changed-bucket collect below materializes it
            delta = cp.pin(incremental_knn_delta(
                existing, None, new_pts.select("id", "vec"), k=k, metric=metric, thresholds=thresholds,
            ), eager=False)
            changed = [int(r["b"]) for r in delta.select(bucket.alias("b")).distinct().collect()]
            if changed:
                if have_edges:
                    # filter on the PARTITION column so the scan prunes to the
                    # changed bucket directories (a pmod(src,..) predicate does
                    # not map to partition pruning)
                    delta = spark.read.parquet(edges_dir).where(F.col("bucket").isin(changed)).select(
                        "src", "dst", "weight"
                    ).unionByName(delta)
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
                if not have_edges:
                    edges_sink.stamp(spark)
            # the sink's column order; one task per bucket, so a micro-batch
            # adds one file per bucket directory, not one per range partition
            new_pts.select("id", "vec", "sha256", _points_bucket(n_buckets).alias("pbucket")).repartition(
                "pbucket"
            ).write.mode("append").partitionBy("pbucket").parquet(points_dir)
            if not have_sink:
                points_sink.stamp(spark)
            _write_next_id(spark, points_dir, offset + n_new)
            # clean completion: the metadata row is authoritative again
            try:
                os.remove(_inflight_marker(points_dir))
            except FileNotFoundError:
                pass

    stream = spark.readStream.schema(REPO_SCHEMA).parquet(input_dir)
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def lang_counts_stream(
    spark: SparkSession, input_dir: str, checkpoint_dir: str, sink_dir: str
) -> None:
    """Classic stateful streaming aggregation over the ingest feed: running
    per-language document counts (update-mode state, the canonical
    watermark-free global aggregate). Written via foreachBatch so the sink
    is a plain parquet snapshot per drain."""
    stream = spark.readStream.schema(REPO_SCHEMA).parquet(input_dir)
    counts = stream.groupBy("lang").count()

    def save(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(sink_dir)

    q = (
        counts.writeStream.outputMode("complete")
        .foreachBatch(save)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
