"""Routing layer: map a query to an ordered list of shards to probe.

Reference: ``src/kmeans_tree_router.cpp`` (hierarchical k-means tree router),
``src/hnsw_router.h`` (HNSW over routing points + 4 probe-order policies),
``src/routes.cpp`` (config sweeps, serialization).

Spark-first re-expression (BASELINE.json north_star: "HNSW-style graph
routing re-expressed as broadcast top-k scoring"): every router reduces to

  1. a **routing-point table** ``(shard, vec)`` — shard centroids, k-means
     tree nodes, or extracted tree leaves (the reference caps it at ≤10M
     points, routes.cpp:130);
  2. one **exact top-k scoring** pass of the queries against that table
     (:func:`score_routing_points` — exact top-K, replacing the reference's
     approximate HNSW descent, whose RNG is not reproducible anyway). One
     NumPy kernel set does the scoring; the physical strategy only decides
     which side is broadcast: the table (small tables) or the query batch
     (large tables, scored per routing partition and merged in Catalyst); and
  3. pure-DataFrame post-processing of ``(query_id, shard, min_dist, votes)``
     into a probe order, one policy per reference probe-order variant.

Routes are a relation ``(query_id, shard, probe_rank)`` (RoutingConfig,
routes.h:6-20) — join-friendly, Parquet-serializable.
"""

from __future__ import annotations

import functools
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gp_ann_spark.functions.distances import VALID_METRICS, topk
from gp_ann_spark.operators.kmeans import local_lloyd, shard_centroids

SEED = 555

POLICIES = ("min_dist", "frequency", "pyramid", "spann")

SCORED_SCHEMA = "query_id long, shard int, min_dist double, votes long"
SCORE_DTYPES = {"float64": np.float64, "float32": np.float32}


# Above this many routing points the scoring kernel stays distributed
# (blocked cross-score over routing-point partitions) instead of collecting
# + broadcasting the table — the reference's router-budget sweep reaches 10M
# routing points (routes.cpp:130), which no driver/broadcast should hold.
MAX_BROADCAST_ROUTING_POINTS = 500_000

# per-block distance-matrix budget (same 64 MB discipline as
# ivf_shard._blocked_topn — the in-repo template for scale-safe kernels)
SCORE_BUDGET_BYTES = 64 << 20

# driver-side bound for the distributed scorer's query collect: the query
# batch is broadcast, so its float64 payload is held once on the driver and
# once per executor — chunk it rather than trust "evaluation batches are
# small" (at 100k queries × d=768 one unchecked toPandas is ~600 MB)
MAX_QUERY_BLOCK_BYTES = 64 << 20

_NULL_QUERY = "vec contains NULL vectors; cannot score routing points"


def _query_block(pdf) -> tuple[np.ndarray, np.ndarray]:
    """(qids, Q) NumPy arrays of one query block (a driver collect or an
    Arrow batch). Raises on a NULL vector anywhere in the block — loud, not
    a silently short result or a NumPy shape error."""
    vecs = pdf["vec"]
    if vecs.isna().any():
        raise ValueError(_NULL_QUERY)
    return pdf["query_id"].to_numpy().astype(np.int64), np.stack(vecs.to_numpy()).astype(np.float64)


def _bounded_query_batches(queries: DataFrame):
    """Collect the query side to the driver in bounded blocks.

    Yields ``(qids, Q)`` NumPy blocks whose vector payload stays ≤
    ``MAX_QUERY_BLOCK_BYTES``.
    The scoring kernels are per-query independent and the distributed
    strategy finishes with a per-query window/aggregation, so running them
    per block and unioning is bit-identical to one unchunked pass. One block
    (the common evaluation-batch case) is one bounded ``limit`` collect
    after the one-row dimension probe; only when that collect overflows
    does the query set get counted and split by id hash, paying one
    routing-table scan per block — callers with an expensive routing plan
    should checkpoint it first (they already must for the size probe, see
    ``score_routing_points``).
    """
    q = queries.select("query_id", "vec")
    first = q.select("vec").first()
    if first is None:  # empty query set
        yield np.zeros(0, dtype=np.int64), np.zeros((0, 1))
        return
    if first[0] is None:
        raise ValueError(_NULL_QUERY)
    block_rows = max(1, MAX_QUERY_BLOCK_BYTES // (8 * max(len(first[0]), 1)))
    pdf = q.limit(block_rows + 1).toPandas()
    if len(pdf) <= block_rows:
        yield _query_block(pdf)
        return
    n_blocks = -(-q.count() // block_rows)
    for i in range(n_blocks):
        pdf = q.where(F.pmod(F.xxhash64(F.col("query_id")), F.lit(n_blocks)) == i).toPandas()
        if len(pdf) == 0:
            continue
        yield _query_block(pdf)

_PAD_HASH = np.int64((1 << 62))  # sorts after every real xxhash64 tie-key


def _exact_pair_dists(Qr: np.ndarray, Vr: np.ndarray, metric: str) -> np.ndarray:
    """Deterministic per-pair distances in float64: the reduction order of a
    row-wise ``(x*x).sum(axis=-1)`` depends only on the vector length d,
    never on how many pairs are evaluated together or how the table was
    blocked. GEMM does NOT have this property — its per-element summation
    order varies with the matrix shape, so two bitwise-identical vectors
    placed in different column blocks score last-ulp-different distances,
    which would defeat any content-based tie-break (confirmed on this repo:
    duplicate routing points got 1-ulp-different GEMM distances from
    different blocks, flipping the selected twin with the block budget).
    Every distance a scoring candidate is COMPARED or EMITTED with comes
    from this kernel; GEMM is only used to preselect candidates."""
    if metric == "l2":
        diff = Qr - Vr
        d = (diff * diff).sum(axis=-1)
        return np.maximum(d, 0.0, out=d)
    return 1.0 - (Qr * Vr).sum(axis=-1)


def _merge_topnv(best: tuple, cand: tuple, nv: int) -> tuple:
    """Row-wise merge of two per-query candidate sets into the ``nv`` best.

    Each set is a ``(dist, rp_hash, payload)`` tuple of (rows × width)
    arrays; one ``topk`` over the concatenated columns picks them in
    (exact dist, rp_hash) order. The blocked kernel merges its column
    blocks with it and the distributed partial merges its Arrow batches —
    one tie-break, whichever side is distributed."""
    d, h, x = (np.concatenate([b, c], axis=1) for b, c in zip(best, cand))
    o = topk(d, nv, key=h)
    return tuple(np.take_along_axis(a, o, axis=1) for a in (d, h, x))


def _score_block_topnv(
    Q: np.ndarray,
    V: np.ndarray,
    rp_hash: np.ndarray,
    nv: int,
    metric: str,
    budget_bytes: int = SCORE_BUDGET_BYTES,
    score_dtype=np.float64,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Top-``nv`` routing points per query row, two-axis blocked.

    Neither the (nq × n_routing) distance matrix nor an unblocked routing
    axis is ever materialized: queries are split into row blocks and routing
    points into column blocks so every distance block stays ≤ budget_bytes
    (at the reference's 10M-point router budget an unblocked batch×n matrix
    is ~8 GB per task — the r4 scale killer this kernel replaces).

    Selection and emitted distances are canonical across block layouts,
    partition counts, dtypes' GEMM shapes, and the broadcast/distributed
    paths: GEMM only PRESELECTS candidates (everything within a rigorous
    floating-point error margin of the nv-th distance survives), each
    survivor's distance is then recomputed by the layout-independent
    :func:`_exact_pair_dists`, and all comparisons/merges use
    (exact_dist, rp_hash) — ``rp_hash`` (a Spark-side xxhash64 of
    (shard, vec)) breaking exact ties such as duplicate routing points
    (tests/test_routing_search.py asserts bit-identity across layouts).

    Returns ``(dist, hash, idx)`` of shape (nq, ≤nv): exact float64
    distances, tie-keys and column positions into V, each row in
    (dist, rp_hash) order; rows with fewer than nv real points are padded
    with +inf / ``_PAD_HASH`` / -1.
    """
    itemsize = np.dtype(score_dtype).itemsize
    nq, n = len(Q), len(V)
    nv = min(nv, n)
    Q = np.asarray(Q, dtype=score_dtype)
    V = np.asarray(V, dtype=score_dtype)
    # exact-recompute operands: float64 views of the CAST values, so the
    # float32 scoring option keeps its bandwidth savings in the GEMM while
    # candidates still get one canonical float64 distance each
    Q64 = Q.astype(np.float64, copy=False)
    V64 = V.astype(np.float64, copy=False)
    dim = Q.shape[1] if Q.ndim == 2 else 1
    # per-pair |GEMM − exact| bound: ~dim·eps·scale with scale bounded by
    # the squared operand norms; ×8 safety. Margin ~1e-12·scale for float64
    # (semantically invisible), ~1e-4·scale for float32 (a few extra
    # candidates preselected, all re-ranked exactly afterwards).
    eps = float(np.finfo(score_dtype).eps)
    qq64 = (Q64 * Q64).sum(axis=1) if n else np.zeros(nq)
    # column blocks first: each must hold ≥ nv points so a block's local
    # top-nv is sufficient for the global merge
    v_block = max(nv, budget_bytes // (itemsize * max(nq, 1)), 1)
    q_block = max(1, budget_bytes // (itemsize * min(v_block, n) or 1))
    out = tuple(np.empty((nq, nv), dtype=t) for t in (np.float64, np.int64, np.int64))
    cap = min(n, 2 * nv + 16)  # preselect width; margin overflow → fallback
    for qlo in range(0, nq, q_block):
        Qb = Q[qlo : qlo + q_block]
        m = len(Qb)
        best = tuple(np.full((m, nv), pad) for pad in (np.inf, _PAD_HASH, np.int64(-1)))
        for vlo in range(0, n, v_block):
            Vb = V[vlo : vlo + v_block]
            w = len(Vb)
            # same expression as distance_matrix/pairwise_sqr_l2 but at the
            # caller's dtype: preselection only — never compared or emitted
            vv = (Vb * Vb).sum(axis=1)
            if metric == "l2":
                d = vv[None, :].astype(np.float64) + (Qb * Qb).sum(axis=1)[:, None] - 2.0 * (Qb @ Vb.T)
                np.maximum(d, 0.0, out=d)
            else:
                d = 1.0 - Qb @ Vb.T
            d = d.astype(np.float64, copy=False)
            margin = 8.0 * dim * eps * (qq64[qlo : qlo + q_block] + float(vv.max()) + 1.0)
            bcap = min(cap, w)
            if bcap < w:
                part = np.argpartition(d, bcap - 1, axis=1)[:, :bcap]
            else:
                part = np.broadcast_to(np.arange(w), (m, w)).copy()
            cd_pre = np.take_along_axis(d, part, axis=1)
            # nv-th smallest of the preselected + margin = keep threshold:
            # any point outside it is strictly beaten by ≥ nv exact distances
            kth = np.sort(cd_pre, axis=1)[:, min(nv, bcap) - 1]
            thresh = kth + margin
            valid = cd_pre <= thresh[:, None]
            # overflow rows: > bcap points inside the margin (mass-duplicate
            # tables) — exact-rescore those rows against the WHOLE block,
            # batched: one (rows × w × d) broadcasted kernel per ≤64 MB row
            # chunk instead of a Python loop per overflow row (an adversarial
            # all-duplicates table overflows EVERY row of every block, where
            # the per-row loop cost nq Python iterations per block)
            if bcap < w:
                over = np.nonzero((d <= thresh[:, None]).sum(axis=1) > bcap)[0]
                if len(over):
                    Hb = rp_hash[vlo : vlo + w]
                    ochunk = max(1, budget_bytes // (8 * max(w * dim, 1)))
                    for olo in range(0, len(over), ochunk):
                        rows = over[olo : olo + ochunk]
                        ex = _exact_pair_dists(Q64[qlo + rows, None, :], V64[vlo : vlo + w], metric)
                        part[rows, :nv] = topk(ex, nv, key=Hb)
                    valid[over] = False
                    valid[over, :nv] = True
            ci = part + vlo
            # canonical distances for every surviving candidate, row-chunked
            # so the (rows × cap × dim) gather also respects the budget
            cd = np.full(part.shape, np.inf)
            rchunk = max(1, budget_bytes // (8 * max(bcap * dim, 1)))
            for rlo in range(0, m, rchunk):
                sel = ci[rlo : rlo + rchunk]
                ex = _exact_pair_dists(
                    Q64[qlo + rlo : qlo + rlo + len(sel), None, :], V64[sel], metric
                )
                cd[rlo : rlo + rchunk] = np.where(valid[rlo : rlo + rchunk], ex, np.inf)
            cand = (cd, np.where(valid, rp_hash[ci], _PAD_HASH), np.where(valid, ci, -1))
            best = _merge_topnv(best, cand, nv)
        for o, b in zip(out, best):
            o[qlo : qlo + q_block] = b
    return out


def _shard_mins(Q, V, H, sh, metric, budget_bytes, score_dtype):
    """Exact per-(query, shard) min distance against a non-empty table:
    ``(shard, dmin (nq,), size)`` per shard, from the blocked kernel at nv=1
    on each shard segment (gathered one at a time). This is the
    ``num_voting=None`` form: a top-all selection through the nv-wide
    kernel would hold nq × n_routing arrays (~75 GB at a 500k-row table and
    a 10k-row Arrow batch); this holds nq × n_shards. Min is
    order-independent over the same :func:`_exact_pair_dists` values, so
    every row layout of the table gives bit-identical minima."""
    order = np.argsort(sh, kind="stable")
    sh = sh[order]
    bounds = np.flatnonzero(np.diff(sh)) + 1
    for s, e in zip(np.r_[0, bounds], np.r_[bounds, len(sh)]):
        seg = order[s:e]
        dmin = _score_block_topnv(Q, V[seg], H[seg], 1, metric, budget_bytes, score_dtype)[0]
        yield int(sh[s]), dmin[:, 0], e - s


def _shard_min_frame(qids, shard, dmin, size) -> pd.DataFrame:
    return pd.DataFrame(
        {"query_id": qids, "shard": np.int32(shard), "min_dist": dmin, "votes": np.int64(size)}
    )


def _tie_keyed(routing_points: DataFrame) -> DataFrame:
    """The routing table with its xxhash64(shard, vec) tie-key ``_rp`` —
    one definition for both strategies, so their tie-breaks agree."""
    return routing_points.select("shard", "vec").withColumn("_rp", F.xxhash64("shard", "vec"))


def _collect_routing_table(routing_points: DataFrame):
    """(shards, vecs, rp_hash) arrays of the routing-point table."""
    pdf = _tie_keyed(routing_points).toPandas()
    shards = pdf["shard"].to_numpy().astype(np.int64)
    vecs = np.stack(pdf["vec"].to_numpy()).astype(np.float64) if len(pdf) else np.zeros((0, 1))
    rp_hash = pdf["_rp"].to_numpy().astype(np.int64)
    return shards, vecs, rp_hash


def score_routing_points(
    queries: DataFrame,
    routing_points: DataFrame,
    num_voting: int | None = 20,
    metric: str = "l2",
    score_dtype: str = "float64",
    max_broadcast_rows: int = MAX_BROADCAST_ROUTING_POINTS,
    budget_bytes: int = SCORE_BUDGET_BYTES,
    distributed: bool | None = None,
) -> DataFrame:
    """Top-k scoring of queries ``(query_id, vec)`` against the routing-point
    table ``(shard, vec)``.

    ≙ HNSWRouter::Query (hnsw_router.h:106-119) + shard-membership lookup
    (:112-117): for each query take the ``num_voting`` nearest routing
    points (ties at the boundary broken by xxhash64(shard, vec) — canonical
    across partition layouts), then per (query, shard) emit min distance and
    hit count. Returns ``(query_id, shard, min_dist, votes)``.
    ``num_voting=None`` means "ALL routing points" — the min-dist/centroid
    router semantics (analyze_approximation_losses.cpp:92-142), where every
    shard's true min distance is wanted and votes degenerate to shard sizes.

    One kernel set — the blocked top-nv kernel, its (dist, hash) merge
    :func:`_merge_topnv` and its per-shard form :func:`_shard_mins` for
    ``num_voting=None`` — runs under two physical strategies with
    bit-identical output:

    - **broadcast** (routing table ≤ ``max_broadcast_rows``): collect +
      broadcast the table, one mapInPandas pass over the queries;
    - **distributed** (above it, ≙ the reference's 1M–10M router budgets,
      routes.cpp:130): the table STAYS a DataFrame and the bounded query
      batch is broadcast instead; each routing partition emits partial
      rows and one Catalyst groupBy finishes (:func:`_distributed_scores`).

    All distance blocks are two-axis bounded to ``budget_bytes`` (64 MB);
    ``score_dtype="float32"`` halves block memory/bandwidth at scale (rank
    changes only within float32 epsilon — emitted distances are always the
    canonical float64 per-pair values, see ``_exact_pair_dists``).
    """
    if metric not in VALID_METRICS:
        raise ValueError(f"metric must be one of {VALID_METRICS}, got {metric!r}")
    if num_voting is not None and not num_voting >= 1:
        raise ValueError(f"num_voting must be None or >= 1, got {num_voting!r}")
    if score_dtype not in SCORE_DTYPES:
        raise ValueError(f"score_dtype must be one of {tuple(SCORE_DTYPES)}, got {score_dtype!r}")
    dtype = SCORE_DTYPES[score_dtype]
    if distributed is None:
        # count-only probe: limit(max+1) + a lit(1) projection decides
        # without shipping half a million vectors to the driver only to
        # discard them when the table turns out large (the 1M–10M router
        # budgets). The small case pays a second scan of the routing-table
        # plan — callers with an expensive uncached plan (e.g. a fresh
        # k-means tree build) should checkpoint it or pass ``distributed``
        # explicitly.
        n_head = routing_points.select(F.lit(1)).limit(max_broadcast_rows + 1).count()
        distributed = n_head > max_broadcast_rows
    if distributed:
        return _distributed_scores(queries, routing_points, num_voting, metric, dtype, budget_bytes)
    bc = queries.sparkSession.sparkContext.broadcast(_collect_routing_table(routing_points))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sh, V, H = bc.value
        if len(sh) == 0:  # empty routing table
            return
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qids, Q = _query_block(pdf)
            if num_voting is None:
                mins = _shard_mins(Q, V, H, sh, metric, budget_bytes, dtype)
                yield pd.concat([_shard_min_frame(qids, *m) for m in mins], ignore_index=True)
                continue
            nv = min(num_voting, len(sh))
            d, _, idx = _score_block_topnv(Q, V, H, nv, metric, budget_bytes, dtype)
            # vectorized (query, shard) reduction — one groupby per Arrow
            # batch instead of a Python loop per query
            flat = pd.DataFrame(
                {
                    "query_id": np.repeat(qids, idx.shape[1]),
                    "shard": sh[idx.ravel()].astype(np.int32),
                    "min_dist": d.ravel(),
                }
            )
            yield flat.groupby(["query_id", "shard"], sort=False, as_index=False).agg(
                min_dist=("min_dist", "min"), votes=("min_dist", "size")
            )

    return queries.select("query_id", "vec").mapInPandas(score, schema=SCORED_SCHEMA)


def _distributed_scores(queries, routing_points, num_voting, metric, dtype, budget_bytes):
    """The distributed strategy. Per bounded query block
    (:func:`_bounded_query_batches`) one mapInPandas scores every routing
    partition against the broadcast block, merging state ACROSS the
    partition's Arrow batches: its running top-``num_voting`` candidates
    per query (one row each, ``votes`` 1, tie-key ``rp``), or with
    ``num_voting=None`` its running (min, count) per (query, shard). One
    Catalyst finish covers all blocks: a per-query ``row_number ≤
    num_voting`` window in the bounded form, then one groupBy(query_id,
    shard). Blocks hold disjoint query ids, so the union is bit-identical
    to an unchunked pass; no task holds more than one 64 MB distance
    block."""

    def score_partition(batches: Iterator[pd.DataFrame], bc) -> Iterator[pd.DataFrame]:
        ids, Q = bc.value
        if len(ids) == 0:  # empty query set
            return
        best, mins = None, {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["vec"].to_numpy())
            H = pdf["_rp"].to_numpy().astype(np.int64)
            sh = pdf["shard"].to_numpy().astype(np.int64)
            if num_voting is None:
                for s, dmin, size in _shard_mins(Q, V, H, sh, metric, budget_bytes, dtype):
                    cur = mins.setdefault(s, [dmin, 0])
                    np.minimum(cur[0], dmin, out=cur[0])
                    cur[1] += size
                continue
            nv = min(num_voting, len(V))
            d, h, idx = _score_block_topnv(Q, V, H, nv, metric, budget_bytes, dtype)
            cand = (d, h, np.where(idx < 0, -1, sh[idx]))
            best = cand if best is None else _merge_topnv(best, cand, num_voting)
        for s, (dmin, size) in mins.items():
            yield _shard_min_frame(ids, s, dmin, size)
        if best is not None:
            d, h, s = best
            valid = np.isfinite(d)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(ids, valid.sum(axis=1)),
                    "shard": s[valid].astype(np.int32),
                    "min_dist": d[valid],
                    "votes": np.int64(1),
                    "rp": h[valid],
                }
            )

    sc = queries.sparkSession.sparkContext
    rp = _tie_keyed(routing_points)
    schema = SCORED_SCHEMA if num_voting is None else SCORED_SCHEMA + ", rp long"
    parts = None
    for block in _bounded_query_batches(queries):
        fn = functools.partial(score_partition, bc=sc.broadcast(block))
        part = rp.mapInPandas(fn, schema=schema)
        parts = part if parts is None else parts.unionByName(part)
    if num_voting is not None:
        w = Window.partitionBy("query_id").orderBy(F.col("min_dist").asc(), F.col("rp").asc())
        parts = parts.withColumn("_r", F.row_number().over(w)).where(F.col("_r") <= num_voting)
    return parts.groupBy("query_id", "shard").agg(
        F.min("min_dist").alias("min_dist"), F.sum("votes").alias("votes")
    )


def probe_order(
    scored: DataFrame,
    policy: str = "min_dist",
    spann_eps: float = 0.6,
) -> DataFrame:
    """Turn (query, shard, min_dist, votes) into (query, shard, probe_rank).

    The reference's 4 probe-order policies (hnsw_router.h:55-104) as pure
    DataFrame post-processing:

    - ``min_dist``  — shards ascending by min routing-point distance (:59-64);
    - ``pyramid``   — only shards actually hit, by min distance (:66-74) —
      identical filter here since ``scored`` already contains only hit shards;
    - ``spann``     — (1+ε)-pruning: keep shards with
      min_dist ≤ best + ε·|best| (:76-85 writes (1+ε)·best, identical for
      the non-negative L2 distances it assumes; the |best| form extends it
      to MIPS scores, where min_dist = 1−⟨q,v⟩ goes negative and the raw
      product rule would reject every shard INCLUDING the best one);
    - ``frequency`` — descending hit votes, tie by min distance (:87-103).
    """
    if policy not in POLICIES:
        raise ValueError(f"policy must be one of {POLICIES}")
    if policy == "frequency":
        order = [F.col("votes").desc(), F.col("min_dist").asc(), F.col("shard").asc()]
    else:
        order = [F.col("min_dist").asc(), F.col("shard").asc()]
    df = scored
    if policy == "spann":
        w_q = Window.partitionBy("query_id")
        df = df.withColumn("_best", F.min("min_dist").over(w_q)).where(
            F.col("min_dist") <= F.col("_best") + spann_eps * F.abs(F.col("_best"))
        ).drop("_best")
    w = Window.partitionBy("query_id").orderBy(*order)
    ranked = df.withColumn("probe_rank", F.row_number().over(w))
    return ranked.select("query_id", "shard", "probe_rank")


def centroid_router(
    queries: DataFrame, points: DataFrame, assignment: DataFrame,
    metric: str = "l2", policy: str = "min_dist",
) -> DataFrame:
    """Single-centroid-per-shard router (≙ the single-center routing baseline
    analyze_approximation_losses.cpp:92-142): routing table = shard means.
    ``distributed=False`` is static knowledge, not a guess — the table has
    one row per shard, so probing its size would just rerun the centroid
    aggregation (a full-input job at scale) a second time."""
    cents = shard_centroids(points, assignment)
    scored = score_routing_points(queries, cents, num_voting=None, metric=metric, distributed=False)
    return probe_order(scored, policy=policy)


def uniform_sample_router(
    queries: DataFrame,
    points: DataFrame,
    assignment: DataFrame,
    budget: int,
    metric: str = "l2",
    policy: str = "min_dist",
    seed: int = 420,
) -> DataFrame:
    """Uniform-random-sample routing baseline (≙ the "uniform sample" arm of
    analyze_approximation_losses.cpp:223-237): ``budget`` seed-420 sampled
    points become routing points labeled with their own shard; routes come
    from brute-force scoring against them. Deterministic hash-rank sample
    (hash-prefix filter + exact rank of the small candidate set, see
    :func:`uniform_routing_table`; the reference uses std::sample with
    mt19937(420))."""
    rp = uniform_routing_table(points, assignment, budget, seed=seed)
    # the table is ≤ budget rows by construction — decide the physical
    # strategy from that instead of size-probing (and rescanning) the plan
    scored = score_routing_points(
        queries, rp, num_voting=None, metric=metric,
        distributed=budget > MAX_BROADCAST_ROUTING_POINTS,
    )
    return probe_order(scored, policy=policy)


def uniform_routing_table(
    points: DataFrame, assignment: DataFrame, budget: int, seed: int = 420
) -> DataFrame:
    """The uniform-sample routing-point table ``(shard, vec)`` — the single
    definition shared by :func:`uniform_sample_router` and the CLI benches,
    so the sample (seed, tie-key, join order) cannot silently diverge.

    The sample is the ``budget`` hash-smallest points. Naively that is
    ``orderBy(hash).limit(budget)`` — but Spark compiles that to a
    TakeOrdered whose final merge funnels every partition's candidates
    (the whole table when budget ≥ rows-per-partition) through ONE task; at
    the reference's 1M–10M router budgets (routes.cpp:130) that single task
    holds a multi-GB heap. Instead, a uniform-hash PREFIX FILTER keeps
    ~budget·(1+5%)+6σ expected candidates distributed (xxhash64 is uniform
    over the int64 range, so the cutoff is pure arithmetic), and only that
    small candidate set is ranked exactly. The filter is a prefix of the
    same hash order, so the result is bit-identical to the naive form
    whenever it retains ≥ budget rows — verified by a count, with the naive
    path as fallback (never taken in practice; binomial tail ≪ 1e-9)."""
    budget = int(budget)
    pts = points.select("id", "vec").withColumn("_h", F.xxhash64("id", F.lit(seed)))
    n = pts.count()
    if n > max(4 * budget, 65_536):
        import math

        target = budget * 1.05 + 6.0 * math.sqrt(budget) + 16.0
        cutoff = int(-(2**63) + math.ceil(2.0**64 * target / n))
        cand = pts.where(F.col("_h") <= cutoff)
        if cand.count() >= budget:
            pts = cand
    return (
        pts.orderBy("_h", "id")
        .limit(budget)
        .join(assignment, "id")
        .select("shard", "vec")
    )


def _shard_hash_sample(joined: DataFrame, sample_per_shard: int, seed: int) -> DataFrame:
    """The ``sample_per_shard`` hash-smallest points of each shard, with a
    hash-prefix pre-filter BEFORE the rank window (same template as the
    depth-0 leader sample, knn_approx.py, and ``uniform_routing_table``): a
    bare ``Window.partitionBy(shard).orderBy(xxhash64)`` funnels each
    shard's whole membership through one sort task — at the reference's
    ~25M-point shards (1B/40, README.md:21) that is one task sorting 25M
    rows to keep 0.2% of them. Keep only hashes below the
    ~(4·sample+64)/n_shard quantile of the uniform int64 hash space (a
    distributed filter), then rank only the survivors. The filter is a
    prefix of the ranking order, so the selected sample is identical to the
    unfiltered window whenever ≥ sample rows survive per shard: shards at
    ≤ 4·sample+64 rows skip the filter entirely, larger shards keep ~4× the
    needed rows in expectation (Chernoff tail ≪ 1e-9)."""
    sizes = joined.groupBy("shard").agg(F.count(F.lit(1)).alias("_n"))
    p_keep = (4.0 * sample_per_shard + 64.0) / F.col("_n")
    h_thr = F.least(
        F.lit(-9.223372036854776e18) + p_keep * F.lit(1.8446744073709552e19),
        F.lit(9.223372036854e18),
    ).cast("long")
    w = Window.partitionBy("shard").orderBy(F.xxhash64("id", F.lit(seed)))
    return (
        joined.join(F.broadcast(sizes), "shard")
        .where(
            (F.col("_n") <= 4 * sample_per_shard + 64)
            | (F.xxhash64("id", F.lit(seed)) < h_thr)
        )
        .withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= sample_per_shard)
        .select("shard", "id", "vec")
    )


# ------------------------------------------------------ k-means tree router
def train_kmeans_tree(
    points: DataFrame,
    assignment: DataFrame,
    branching: int = 64,
    min_cluster_size: int = 350,
    max_nodes_per_shard: int = 2000,
    seed: int = SEED,
    sample_per_shard: int | None = 50_000,
) -> DataFrame:
    """Train one k-means tree per shard; emit the flat routing-point table.

    ≙ KMeansTreeRouter::Train/TrainRecursive (kmeans_tree_router.cpp:9-78;
    options kmeans_tree_router.h:6-11: branching 64, min_cluster_size 350,
    budget-capped node count) and ExtractPoints (:174-201) — the flat
    ``(shard, vec)`` table IS the extracted routing point set.

    One ``applyInPandas`` per shard builds the tree locally in NumPy
    (per-group data is one shard; at extreme scale cap it with
    ``sample_per_shard`` — a deterministic xxhash64 pre-filter, not rand()).
    """
    joined = points.join(assignment, "id").select("shard", "id", "vec")
    if sample_per_shard is not None:
        joined = _shard_hash_sample(joined, sample_per_shard, seed)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        X = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        rng = np.random.default_rng(seed + shard)
        nodes: list[np.ndarray] = []

        def rec(idx: np.ndarray) -> None:
            if len(nodes) >= max_nodes_per_shard or len(idx) <= min_cluster_size:
                return
            k = min(branching, max(2, len(idx) // min_cluster_size))
            C, a = local_lloyd(X[idx], k, rng, 8)
            for j in range(len(C)):
                m = a == j
                if not m.any():
                    continue
                nodes.append(C[j])
                if len(nodes) < max_nodes_per_shard:
                    rec(idx[m])

        nodes.append(X.mean(0))  # root centroid
        rec(np.arange(len(X)))
        return pd.DataFrame({"shard": shard, "vec": [v.astype(np.float32) for v in nodes]})

    return joined.groupBy("shard").applyInPandas(build, schema="shard int, vec array<float>")


def kmeans_tree_router(
    queries: DataFrame,
    routing_points: DataFrame,
    num_voting: int | None = 500,
    metric: str = "l2",
    policy: str = "frequency",
    distributed: bool | None = None,
) -> DataFrame:
    """Query the flat tree table: broadcast top-``num_voting`` scoring + vote
    (≙ KMeansTreeRouter::FrequencyQuery kmeans_tree_router.cpp:132-172 with
    frequency policy; ::Query :93-130 with min_dist policy — the PQ traversal
    collapses to exact top-K against all tree nodes, which dominates the
    budgeted best-first search in recall at equal routing-point count).
    ``distributed`` passes through to :func:`score_routing_points` — callers
    that already counted the tree table should supply it so the scorer does
    not re-probe the plan."""
    scored = score_routing_points(
        queries, routing_points, num_voting=num_voting, metric=metric, distributed=distributed
    )
    return probe_order(scored, policy=policy)
