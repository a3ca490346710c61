"""Exact k-NN operators: top-k joins, the exact k-NN edge table, symmetrize.

Reference analogues:

- ``BuildExactKNNGraph`` / ``TopKNeighbors`` — ``src/knn_graph.h:14-34``
  (full O(n²) self-join + bounded heap ``src/topn.h:6-32``);
- ``Symmetrize`` — ``src/knn_graph.h:272-283``;
- ``ComputeGroundTruth`` — ``src/recall.h:25-39``.

Spark-first design: the *scale path* is a **broadcast top-k scoring** pass —
``mapInPandas`` over the big side with the small side (queries / centroids /
routing points) broadcast as a dense NumPy matrix; each Arrow batch does one
BLAS matmul and emits only its local top-k per query (``topk``, in the
global (dist, id) order), then a single ``groupBy(query)`` window keeps the
global top-k. No crossJoin row explosion:
the shuffle carries O(n_queries × k × n_blocks) rows, not O(n × n_queries).

A pure-Catalyst variant (``exact_knn_sql``) exists for small oracle runs and
engine cross-checks — its sequential double summation matches the DuckDB
oracle bit-for-bit.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gp_ann_spark.functions.distances import distance_matrix, sql_distance, topk
from gp_ann_spark.operators.graph import mirror

KNN_SCHEMA = "query_id long, neighbor_id long, dist double"
# exact_knn broadcasts the query side; more queries than this are refused
MAX_BROADCAST_QUERIES = 4_000_000


def _topk_within_block(
    block_ids: np.ndarray, block_vecs: np.ndarray, q_ids: np.ndarray, q_vecs: np.ndarray,
    k: int, metric: str, exclude_self: bool,
) -> pd.DataFrame:
    """Score one Arrow batch of base points against all queries, keep each
    query's k best within the block (≙ the reference's bounded heap,
    topn.h:6-32, at block granularity). The pick is ``topk`` keyed by
    ``block_ids``: the global merge's (dist, neighbor_id) order, so no block
    drops a candidate the merge would keep, whatever the partition layout."""
    d = distance_matrix(q_vecs, block_vecs, metric)  # (nq, nb)
    if exclude_self:
        same = q_ids[:, None] == block_ids[None, :]
        d[same] = np.inf
    idx = topk(d, k, key=block_ids)
    dist = np.take_along_axis(d, idx, axis=1).ravel()
    keep = np.isfinite(dist)
    qi = np.repeat(np.arange(len(q_ids)), idx.shape[1])[keep]
    ci = idx.ravel()[keep]
    return pd.DataFrame({"query_id": q_ids[qi], "neighbor_id": block_ids[ci], "dist": dist[keep]})


def exact_knn(
    points: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "l2",
    exclude_self: bool = False,
    id_col: str = "id",
    vec_col: str = "vec",
    q_id_col: str = "query_id",
    q_vec_col: str = "vec",
) -> DataFrame:
    """Exact top-k of every query against every point.

    Broadcast top-k scoring (see module docstring). Result:
    ``(query_id, neighbor_id, dist, rank)`` with rank 1..k, deterministic
    tie-break by neighbor_id. ≙ recall.h:25-39 / knn_graph.h:14-28.
    """
    spark = points.sparkSession
    # the query batch is the BROADCAST side — that is the operator's scale
    # contract. Refuse silently-OOM-at-2am sizes instead of honoring them:
    # self-joins over the full corpus belong to knn_approx.build_knn_graph.
    # The limit BOUNDS the driver collect at cap+1 rows — an over-cap input
    # raises here without first materializing all of it driver-side.
    max_q = MAX_BROADCAST_QUERIES
    qpd = (
        queries.select(F.col(q_id_col).alias("qid"), F.col(q_vec_col).alias("qvec"))
        .limit(max_q + 1)
        .toPandas()
    )
    if len(qpd) > max_q:
        raise ValueError(
            f"exact_knn broadcasts the query side; >{max_q} queries exceed the "
            f"cap (knn.MAX_BROADCAST_QUERIES). For corpus-scale "
            "self-kNN use knn_approx.build_knn_graph (the sketch path)."
        )
    if len(qpd) == 0:
        return spark.createDataFrame([], KNN_SCHEMA + ", rank int")
    q_ids = qpd["qid"].to_numpy()
    q_vecs = np.stack(qpd["qvec"].to_numpy()).astype(np.float64)
    bc = spark.sparkContext.broadcast((q_ids, q_vecs))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_ids, b_vecs = bc.value
        # cap the per-matmul block so the (block × n_queries) distance
        # matrix stays ≤ ~64 MB regardless of Arrow batch sizing AND of the
        # broadcast query count: floor 2 × 4M-query cap × 8 B = 64 MB, so
        # the bound holds exactly at the broadcast limit the cap polices
        chunk = max(2, (8 << 20) // max(len(b_ids), 1))
        # Accumulate the running top-k per query across the WHOLE task and
        # emit once: the downstream merge then sees n_tasks×nq×k rows, not
        # n_chunks×nq×k (at 600k points that is an 8× smaller shuffle —
        # this map-side combine is what makes the merge scale).
        acc: pd.DataFrame | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            for lo in range(0, len(ids), chunk):
                part = _topk_within_block(
                    ids[lo : lo + chunk], vecs[lo : lo + chunk], b_ids, b_vecs, k, metric, exclude_self
                )
                acc = part if acc is None else pd.concat((acc, part), ignore_index=True)
                if len(acc) > 4 * k * len(b_ids):
                    acc = (
                        acc.sort_values(["query_id", "dist", "neighbor_id"], kind="stable")
                        .groupby("query_id", sort=False)
                        .head(k)
                        .reset_index(drop=True)
                    )
        if acc is not None:
            yield (
                acc.sort_values(["query_id", "dist", "neighbor_id"], kind="stable")
                .groupby("query_id", sort=False)
                .head(k)
                .reset_index(drop=True)
            )

    partial = points.select(id_col, vec_col).mapInPandas(score, schema=KNN_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("neighbor_id").asc())
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist", "rank")
    )


def exact_knn_sql(
    points: DataFrame, queries: DataFrame, k: int = 10, metric: str = "l2", exclude_self: bool = False,
) -> DataFrame:
    """Pure-Catalyst exact k-NN (crossJoin + window). Small-n oracle path;
    sequential double summation makes ranks bit-compatible with the DuckDB
    SQL oracle. Expects points(id, vec), queries(query_id, vec)."""
    p = points.select(F.col("id").alias("neighbor_id"), F.col("vec").alias("_pv"))
    q = queries.select(F.col("query_id"), F.col("vec").alias("_qv"))
    pairs = q.crossJoin(p)
    if exclude_self:
        pairs = pairs.where(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.withColumn("dist", sql_distance(F.col("_qv"), F.col("_pv"), metric))
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist", "rank")
    )


def knn_edges(points: DataFrame, k: int = 10, metric: str = "l2") -> DataFrame:
    """Exact k-NN self-graph → directed edge table ``(src, dst, weight)``.

    ≙ BuildExactKNNGraph (knn_graph.h:30-34). The broadcast side is the point
    set itself, so this is the small-n oracle; the scale path is
    ``knn_approx.build_knn_graph``.
    """
    q = points.select(F.col("id").alias("query_id"), "vec")
    nn = exact_knn(points, q, k=k, metric=metric, exclude_self=True)
    return nn.select(
        F.col("query_id").alias("src"),
        F.col("neighbor_id").alias("dst"),
        F.col("dist").alias("weight"),
    )


def symmetrize(edges: DataFrame) -> DataFrame:
    """edges ∪ reversed(edges), distinct on (src, dst) keeping min weight.

    ≙ Symmetrize (knn_graph.h:272-283). ``graph.mirror`` emits both
    orientations from one pass over ``edges``, so the upstream plan (for
    ``knn_edges``, the broadcast scoring kernel) is evaluated once, not once
    per union branch; then one partial-aggregated groupBy shuffle.
    """
    return mirror(edges, "weight").groupBy("src", "dst").agg(F.min("weight").alias("weight"))


def incremental_knn_update(
    existing_pts: DataFrame,
    edges: DataFrame,
    new_pts: DataFrame,
    k: int = 10,
    metric: str = "l2",
) -> DataFrame:
    """Incrementally maintain the exact k-NN edge table when a (small) batch
    of new points arrives — the streaming-ingest companion of
    ``knn_edges`` (no reference analogue; the reference rebuilds offline).

    Exactness argument:

    - *forward*: each new point's k nearest among (existing ∪ new) come from
      one broadcast top-k pass (queries = the new batch);
    - *reverse*: an existing point p's list changes only if some new q has
      d(p,q) < p's current kth distance — so one ``mapInPandas`` over the
      existing points with the new batch broadcast emits exactly the pairs
      below each p's threshold (threshold = +inf while deg(p) < k);
    - ``merge_topk`` over (old edges ∪ forward ∪ reverse) then reproduces
      ``knn_edges(existing ∪ new)`` exactly (pytest-verified).

    Scale shape: the new batch is the broadcast side in both passes; nothing
    O(n_existing²) ever runs, and the shuffle carries only candidate pairs.
    Returns the updated directed edge table (src, dst, weight).
    """
    return merge_topk(edges.unionByName(incremental_knn_delta(existing_pts, edges, new_pts, k, metric)), k)


def deg_kth(edges: DataFrame, *extra_keys: str) -> DataFrame:
    """Per-src degree and kth (=max) neighbor distance — the ONE definition
    of the threshold aggregate. The streaming sidecar's correctness depends
    on every producer/consumer agreeing on exactly this aggregate, so all
    three sites (delta fallback, sidecar refresh, sidecar migration) call
    here."""
    return edges.groupBy(*extra_keys, "src").agg(
        F.count(F.lit(1)).alias("deg"), F.max("weight").alias("kth")
    )


def incremental_knn_delta(
    existing_pts: DataFrame,
    edges: DataFrame | None,
    new_pts: DataFrame,
    k: int = 10,
    metric: str = "l2",
    thresholds: DataFrame | None = None,
) -> DataFrame:
    """The candidate-pair delta of ``incremental_knn_update``: forward top-k
    rows for the new batch ∪ reverse below-threshold rows for affected
    existing points — WITHOUT the final merge. The srcs appearing here are
    exactly the points whose adjacency can change, which is what lets the
    streaming sink rewrite only the buckets containing them
    (streaming/ingest.py).

    ``thresholds``: optional pre-maintained ``(src, deg, kth)`` sidecar.
    When given, the O(n·k)-row aggregate over the full edge table is
    skipped — at 10^12 edges that aggregate is the only table-sized read in
    the delta, so a sidecar (n rows, maintained incrementally by the
    streaming sink) makes the whole delta O(n_points + batch)."""
    spark = existing_pts.sparkSession
    all_pts = existing_pts.select("id", "vec").unionByName(new_pts.select("id", "vec"))
    fwd = knn_edges_for_queries(all_pts, new_pts.select(F.col("id").alias("query_id"), "vec"), k, metric)

    # per-existing-point kth threshold: sidecar if provided, else aggregate
    # the current edge table; no edges at all (bootstrap) means every
    # existing point's threshold is +inf — the deg<k branch below — which
    # the left join's all-null side already produces
    if thresholds is not None:
        deg_thresh = thresholds.select("src", "deg", "kth")
    elif edges is not None:
        deg_thresh = deg_kth(edges)
    else:
        deg_thresh = spark.createDataFrame([], "src long, deg long, kth double")
    with_thresh = existing_pts.join(deg_thresh, existing_pts.id == deg_thresh.src, "left").select(
        "id", "vec",
        F.when(F.col("deg") >= k, F.col("kth")).otherwise(F.lit(float("inf"))).alias("thresh"),
    )
    qpd = new_pts.select("id", "vec").toPandas()
    q_ids = qpd["id"].to_numpy()
    q_vecs = np.stack(qpd["vec"].to_numpy()).astype(np.float64) if len(qpd) else np.zeros((0, 1))
    bc = spark.sparkContext.broadcast((q_ids, q_vecs))

    def reverse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_ids, n_vecs = bc.value
        for pdf in batches:
            if len(pdf) == 0 or len(n_ids) == 0:
                continue
            X = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            d = distance_matrix(X, n_vecs, metric)  # (n_block, n_new)
            # ≤, not <: a new point tying p's kth distance can still enter
            # the top-k via the (dist, id) tie-break in merge_topk
            th = pdf["thresh"].to_numpy()[:, None]
            r, c = np.nonzero(d <= th)
            if len(r) == 0:
                continue
            yield pd.DataFrame(
                {
                    "src": pdf["id"].to_numpy()[r],
                    "dst": n_ids[c],
                    "weight": d[r, c],
                }
            )

    rev = with_thresh.mapInPandas(reverse, schema="src long, dst long, weight double")
    fwd_edges = fwd.select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst"), F.col("dist").alias("weight")
    )
    return fwd_edges.unionByName(rev)


def knn_edges_for_queries(
    points: DataFrame, queries: DataFrame, k: int = 10, metric: str = "l2",
) -> DataFrame:
    """Exact top-k of the query set against the point set, excluding
    self-pairs — the query-batch form of ``knn_edges``."""
    return exact_knn(points, queries, k=k, metric=metric, exclude_self=True)


def merge_topk(candidates: DataFrame, k: int, by: str = "src") -> DataFrame:
    """Dedup (src,dst) keeping min dist, then keep k best per src.

    ≙ the locked partial top-k merge knn_graph.h:218-235 — here a lock-free
    groupBy + window."""
    dedup = candidates.groupBy(by, "dst").agg(F.min("weight").alias("weight"))
    w = Window.partitionBy(by).orderBy(F.col("weight").asc(), F.col("dst").asc())
    return dedup.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k).drop("rank")
