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
# the broadcast side of a scoring pass (exact_knn's queries, the delta's new
# batch); more rows than this are refused
MAX_BROADCAST_QUERIES = 4_000_000


def _blocks(batches: Iterator[pd.DataFrame], n_queries: int):
    """``(rows, ids, float64 vecs)`` blocks of a ``mapInPandas`` input, sized
    so the (block × n_queries) distance matrix stays ≤ ~64 MB whatever the
    Arrow batch size: floor 2 × the 4M-query cap × 8 B = 64 MB."""
    chunk = max(2, (8 << 20) // max(n_queries, 1))
    for pdf in batches:
        for lo in range(0, len(pdf), chunk):
            rows = pdf.iloc[lo : lo + chunk]
            yield rows, rows["id"].to_numpy(), np.stack(rows["vec"].to_numpy()).astype(np.float64)


def _topk_within_block(
    block_ids: np.ndarray, block_vecs: np.ndarray, q_ids: np.ndarray, q_vecs: np.ndarray,
    k: int, metric: str, exclude_self: bool,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Score one block of base points against all queries, keep each
    query's k best within the block (≙ the reference's bounded heap,
    topn.h:6-32, at block granularity). The pick is ``topk`` keyed by
    ``block_ids``: the global merge's (dist, neighbor_id) order, so no block
    drops a candidate the merge would keep, whatever the partition layout.
    Returns the (n_queries × n_block) distance matrix ``d`` and the (query,
    column) positions of the finite picks."""
    d = distance_matrix(q_vecs, block_vecs, metric)
    if exclude_self:
        d[q_ids[:, None] == block_ids[None, :]] = np.inf
    idx = topk(d, k, key=block_ids)
    qi = np.repeat(np.arange(len(q_ids)), idx.shape[1])
    ci = idx.ravel()
    keep = np.isfinite(d[qi, ci])
    return d, qi[keep], ci[keep]


def _broadcast_side(df: DataFrame, id_col: str) -> tuple[np.ndarray, np.ndarray]:
    """``(ids, float64 vecs)`` of ``df(id_col, vec)``: the broadcast side of
    a scoring pass, the scale contract of every pass here. Oversized inputs
    are refused, not honored: the limit BOUNDS the collect at cap+1 rows."""
    max_q = MAX_BROADCAST_QUERIES
    pdf = df.select(F.col(id_col).alias("_id"), "vec").limit(max_q + 1).toPandas()
    if len(pdf) > max_q:
        raise ValueError(
            f"the broadcast side of a scoring pass holds at most {max_q} queries "
            "(knn.MAX_BROADCAST_QUERIES). For corpus-scale self-kNN use "
            "knn_approx.build_knn_graph (the sketch path)."
        )
    vecs = np.stack(pdf["vec"].to_numpy()).astype(np.float64) if len(pdf) else np.zeros((0, 1))
    return pdf["_id"].to_numpy(), vecs


def exact_knn(
    points: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "l2",
    exclude_self: bool = False,
) -> DataFrame:
    """Exact top-k of every query ``(query_id, vec)`` against every point
    ``(id, vec)``.

    Broadcast top-k scoring (see module docstring). Result:
    ``(query_id, neighbor_id, dist, rank)`` with rank 1..k, deterministic
    tie-break by neighbor_id. ≙ recall.h:25-39 / knn_graph.h:14-28.
    """
    spark = points.sparkSession
    q_ids, q_vecs = _broadcast_side(queries, "query_id")
    if len(q_ids) == 0:
        return spark.createDataFrame([], KNN_SCHEMA + ", rank int")
    bc = spark.sparkContext.broadcast((q_ids, q_vecs))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_ids, b_vecs = bc.value
        # Accumulate the running top-k per query across the WHOLE task and
        # emit once: the downstream merge then sees n_tasks×nq×k rows, not
        # n_chunks×nq×k (at 600k points that is an 8× smaller shuffle —
        # this map-side combine is what makes the merge scale).
        acc: pd.DataFrame | None = None
        for _, ids, vecs in _blocks(batches, len(b_ids)):
            d, qi, ci = _topk_within_block(ids, vecs, b_ids, b_vecs, k, metric, exclude_self)
            part = pd.DataFrame({"query_id": b_ids[qi], "neighbor_id": ids[ci], "dist": d[qi, ci]})
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

    partial = points.select("id", "vec").mapInPandas(score, schema=KNN_SCHEMA)
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

    - *forward*: each new point's k nearest among (existing ∪ new) are among
      the per-block top-k picks of one scoring pass over existing ∪ new;
    - *reverse*: an existing point p's list changes only if some new q has
      d(p,q) ≤ p's current kth distance — so the same pass emits exactly the
      pairs at or below each p's threshold (threshold = +inf while deg(p) < k);
    - ``merge_topk`` over (old edges ∪ forward ∪ reverse) then reproduces
      ``knn_edges(existing ∪ new)`` exactly (pytest-verified).

    Scale shape: the new batch is the broadcast side of the one pass
    (``incremental_knn_delta``); nothing O(n_existing²) ever runs, and the
    shuffle carries only candidate pairs. Returns the updated directed edge
    table (src, dst, weight).
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
    existing_pts: DataFrame | None,
    edges: DataFrame | None,
    new_pts: DataFrame,
    k: int = 10,
    metric: str = "l2",
    thresholds: DataFrame | None = None,
) -> DataFrame:
    """The candidate-pair delta of ``incremental_knn_update`` — WITHOUT the
    final merge. Its srcs are exactly the points whose adjacency can change,
    which lets the streaming sink rewrite only the buckets holding them.

    One ``mapInPandas`` over existing ∪ new, the new batch collected and
    broadcast once. Each block emits every new point's block-local top-k
    (``topk`` keyed by id, self excluded; ``merge_topk`` reduces them, so
    the delta needs no window) and every existing row's pairs at or below
    its threshold (``≤``: a tie with p's kth distance can still enter via
    the (dist, id) tie-break). The threshold is the kth distance once
    deg ≥ k, else +inf; it comes from ``thresholds``, a maintained
    ``(src, deg, kth)`` sidecar that spares the O(n·k)-row aggregate over
    ``edges`` (the one table-sized read), else from ``edges``, else +inf.
    ``existing_pts`` None is the empty sink: ``merge_topk(delta, k)`` is
    then ``knn_edges(new_pts, k)``."""
    spark = new_pts.sparkSession
    if thresholds is None and edges is not None:
        thresholds = deg_kth(edges)
    # new rows are candidates only: no distance is ≤ -inf
    scan = new_pts.select("id", "vec", F.lit(float("-inf")).alias("thresh"))
    if existing_pts is not None:
        old = existing_pts.select("id", "vec")
        inf = F.lit(float("inf"))
        if thresholds is None:
            old = old.withColumn("thresh", inf)
        else:
            t = thresholds.select("src", "deg", "kth")
            old = old.join(t, old.id == t.src, "left").select(
                "id", "vec", F.when(F.col("deg") >= k, F.col("kth")).otherwise(inf).alias("thresh")
            )
        scan = old.unionByName(scan)
    bc = spark.sparkContext.broadcast(_broadcast_side(new_pts, "id"))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_ids, n_vecs = bc.value
        if len(n_ids) == 0:
            return
        for rows, ids, vecs in _blocks(batches, len(n_ids)):
            d, qi, ci = _topk_within_block(ids, vecs, n_ids, n_vecs, k, metric, exclude_self=True)
            th = rows["thresh"].to_numpy()
            old = th > -np.inf
            # every weight is scored with its src as the left operand, as
            # knn_edges scores it: a GEMM's low bits depend on operand order,
            # so the reverse pairs take their own (existing × new) product
            # rather than the transpose of ``d``
            dr = distance_matrix(vecs[old], n_vecs, metric)
            ri, ni = np.nonzero(dr <= th[old, None])
            yield pd.DataFrame({
                "src": np.concatenate((n_ids[qi], ids[old][ri])),
                "dst": np.concatenate((ids[ci], n_ids[ni])),
                "weight": np.concatenate((d[qi, ci], dr[ri, ni])),
            })

    return scan.mapInPandas(score, schema="src long, dst long, weight double")


def merge_topk(candidates: DataFrame, k: int, by: str = "src") -> DataFrame:
    """Dedup (src,dst) keeping min dist, then keep k best per src.

    ≙ the locked partial top-k merge knn_graph.h:218-235 — here a lock-free
    groupBy + window."""
    dedup = candidates.groupBy(by, "dst").agg(F.min("weight").alias("weight"))
    w = Window.partitionBy(by).orderBy(F.col("weight").asc(), F.col("dst").asc())
    return dedup.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k).drop("rank")
