"""Sublinear in-shard ANN kernel: a spilled two-level IVF built per shard.

≙ ``src/inverted_index_hnsw.h:10-78`` — the reference needs a sublinear
per-shard index because exact in-shard scans cannot hit QPS targets at
25M-point shards; it uses hnswlib with per-shard seed 555+b
(``shard_searches.cpp:38-44``: shuffled insert, seq prefix then parallel)
and sweeps ``ef_search`` ∈ {50..500} (:13). The Spark-idiomatic analog is a
NumPy IVF built inside the same ``applyInPandas`` task that already holds
the shard's points:

- **build**: mini k-means to ``⌈√n⌉`` cells (seeded 555+shard like the
  reference's per-shard HNSW seed), then *spilled assignment*: each point
  is stored in its ``spill`` (default 2) closest cells, members CSR-packed
  per cell — O(n·√n·d) once per task, fully BLAS. Spilling is the classic
  boundary fix (SOAR/FAISS multi-assignment): a true neighbor sitting on a
  cell boundary appears in both adjacent cells, so it is found when EITHER
  is probed. Under ``metric="mips"`` the training uses the reference's
  spherical update (≙ SumPointsInClustersIP/NormalizeCentroidsIP,
  kmeans.cpp:72-100): members summed with weight 1/‖p‖, centroid rescaled
  so ‖C‖² equals the mean member ‖p‖².
- **query**: rank cells by centroid distance, probe cells until the
  cumulative count of PRIMARY members (nearest-cell assignment) reaches the
  candidate budget ``ef`` — so ``ef`` means "at least ef distinct points
  examined" regardless of spilling — then brute-force the deduped union of
  the probed cells' entries: O(√n·d + spill·ef·d) per query instead of
  O(n·d). Same semantics as HNSW's dynamic-list size ``ef_search`` (result
  candidates examined; HNSW likewise evaluates ~M extra distances per
  accepted candidate), so the reference's ef_search sweep maps 1:1.

The kernel is exact once ef ≥ shard size (every cell probed, dedup restores
each point exactly once), which anchors its recall to the existing exact
in-shard oracle (search.probe_shards). Measured on a 20k-point/64-d
clustered shard (tests/test_ivf_shard.py): recall@10 ≥ 0.95 at ef=200 and
≥ 0.8 at ef=50 vs 0.76/0.53 for the unspilled entry-budget kernel — the
HNSW-class regime (inverted_index_hnsw.h M=32/efC=200 delivers ~0.9+).

Only the dense path (every cell probed) is batch-BLAS: one GEMM per block
of queries. The gathered path groups queries by probed-cell count, copies
each group's candidates into one padded (group × max_cand × d) block and
reduces it with ``einsum`` rather than a GEMM. Both pick their k best
through ``topk`` and hand them out in a per-row Python loop.
"""

from __future__ import annotations

import numpy as np

from gp_ann_spark.functions.distances import (
    distance_matrix,
    l2_normalize,
    topk,
    vec_norm,
)

# the reference's ef_search sweep (shard_searches.cpp:13)
EF_SWEEP = (50, 80, 100, 150, 200, 250, 300, 400, 500)

# spilled assignment factor (closest cells each point is stored in)
DEFAULT_SPILL = 2

# sampled-training policy: above this shard size, Lloyd iterations train on
# a seeded sample of TRAIN_PER_CELL points per cell (FAISS's default budget)
# instead of every point — the final spilled assignment still touches every
# point, so only the centroid geometry is estimated from the sample. Below
# the threshold the build is bit-identical to the always-full-train kernel
# (every existing fixture/gate is ≤ ~100k points per shard).
SAMPLED_TRAIN_THRESHOLD = 200_000
TRAIN_PER_CELL = 256


def _blocked_topn(
    X: np.ndarray, C: np.ndarray, nspill: int, metric: str = "l2", budget_bytes: int = 64 << 20
) -> np.ndarray:
    """Indices of the ``nspill`` closest centroids per row of X, columns
    ordered by (distance, centroid index), without materializing the full
    n×c matrix — blocks of X sized so each block×c float64 matrix stays
    ≤ ``budget_bytes`` (an unblocked n×c at a 25M-point shard with √n cells
    would be ~1 TB)."""
    nspill = min(nspill, len(C))
    block = max(1, budget_bytes // (8 * max(len(C), 1)))
    out = np.empty((len(X), nspill), dtype=np.int64)
    for lo in range(0, len(X), block):
        out[lo : lo + block] = topk(distance_matrix(X[lo : lo + block], C, metric), nspill)
    return out


def build_ivf(
    X: np.ndarray,
    seed: int,
    n_cells: int | None = None,
    n_iter: int = 5,
    spill: int = DEFAULT_SPILL,
    metric: str = "l2",
    train_n: int | None = None,
):
    """Cluster the shard's points into ``n_cells`` (default ⌈√n⌉) cells and
    store each point in its ``spill`` closest cells.

    Returns ``(C, order, starts, ends, primary)``: cell centroids, point
    indices CSR-packed by cell (``order[starts[c]:ends[c]]`` = entries of
    cell c, each point appearing in ≤ ``spill`` cells), and ``primary[c]`` =
    the number of points whose NEAREST cell is c (the budget currency of
    :func:`ivf_search`). Seeded sampling ≙ the reference's per-shard
    random_seed 555+b. All assignment passes are block-bounded (~64 MB per
    distance block) so the build holds at 10⁷-point shards; the CSR entry
    array is ``spill·n`` int64 (~160 MB at 10⁷ — in-task resident, same
    order as the point block itself).

    ``metric`` selects the training geometry (≙ the reference building its
    per-shard index with the compiled metric, dist.cpp:50-52 /
    CMakeLists.txt:57-62): L2 uses the plain mean update; MIPS uses the
    spherical update of kmeans.cpp:72-100.

    ``train_n`` bounds the Lloyd-iteration training set: centroids are
    trained on a seeded sample of ``train_n`` points and only the FINAL
    spilled assignment touches every point (FAISS's sampled-training
    strategy — the centroid field is a density estimate, so a
    256-points-per-cell sample pins it while cutting the dominant build
    cost from ``n_iter·n·c·d`` to ``n_iter·train_n·c·d``). ``None``
    (default) auto-enables sampling above :data:`SAMPLED_TRAIN_THRESHOLD`
    points with ``max(256·cells, threshold)`` training points; at or below
    the threshold the build is bit-identical to the full-train kernel.
    """
    n = len(X)
    X = np.asarray(X, dtype=np.float64)
    c = min(n, n_cells or max(1, int(np.ceil(np.sqrt(n)))))
    rng = np.random.default_rng(seed)
    if train_n is None and n > SAMPLED_TRAIN_THRESHOLD:
        train_n = min(n, max(c * TRAIN_PER_CELL, SAMPLED_TRAIN_THRESHOLD))
    if train_n is not None and c <= train_n < n:
        T = X[rng.choice(n, size=train_n, replace=False)]
    else:
        T = X
    C = T[rng.choice(len(T), size=c, replace=False)].copy()
    mips = metric == "mips"
    if mips:
        norms = vec_norm(T)
        inv_norm = 1.0 / np.where(norms == 0.0, 1.0, norms)
        nsq = norms * norms
    for _ in range(n_iter):
        a = _blocked_topn(T, C, 1, metric)[:, 0]
        counts = np.bincount(a, minlength=c).astype(np.float64)
        sums = np.zeros_like(C)
        nonempty = counts > 0
        if mips:
            # ≙ SumPointsInClustersIP: weight 1/‖p‖, then rescale so
            # ‖C‖² = mean member ‖p‖² (NormalizeCentroidsIP kmeans.cpp:72-86)
            np.add.at(sums, a, T * inv_norm[:, None])
            desired = np.bincount(a, weights=nsq, minlength=c)
            cur = (sums * sums).sum(axis=1)
            ok = nonempty & (cur > 0)
            scale = np.sqrt(desired[ok] / counts[ok] / cur[ok])
            C[ok] = sums[ok] * scale[:, None]
            C[nonempty & ~ok] = sums[nonempty & ~ok]
        else:
            np.add.at(sums, a, T)
            C[nonempty] = sums[nonempty] / counts[nonempty, None]
    assign = _blocked_topn(X, C, min(spill, c), metric)  # (n, spill) by closeness
    sp = assign.shape[1]
    pt = np.repeat(np.arange(n), sp)
    cell = assign.ravel()
    key = np.lexsort((pt, cell))
    order = pt[key]
    sorted_cell = cell[key]
    starts = np.searchsorted(sorted_cell, np.arange(c))
    ends = np.searchsorted(sorted_cell, np.arange(c) + 1)
    primary = np.bincount(assign[:, 0], minlength=c).astype(np.int64)
    return C, order, starts, ends, primary


def ivf_search(
    Q: np.ndarray,
    X: np.ndarray,
    index,
    k: int,
    ef: int,
    metric: str = "l2",
):
    """Top-k per query under candidate budget ``ef`` (primary members
    covered — see module docstring).

    Returns ``(idx, dist)`` lists of per-query arrays (len ≤ k): positions
    into X and their distances, each sorted ascending with stable
    (dist, position) order — the same tie-break the exact path uses.

    Vectorized: queries are grouped by probed-cell count; each group does
    ONE ragged-padded candidate gather, ONE ``einsum`` reduction and ONE
    ``topk``; a per-row loop hands out the results. Per-group memory is
    blocked to ~64 MB of gathered candidate vectors.
    """
    C, order, starts, ends, primary = index
    Q = np.asarray(Q, dtype=np.float64)
    X = np.asarray(X, dtype=np.float64)
    if Q.ndim == 1:
        # a single query vector: treat as one row — the old fallback read
        # nq = d and crashed with an AxisError deep in the blocked loop
        Q = Q[None, :]
    nq, d = Q.shape
    out_idx: list = [None] * nq
    out_dist: list = [None] * nq
    if nq == 0:
        return out_idx, out_dist
    # cosine = MIPS over row-normalized inputs (the reference's angular path,
    # convert.cpp:38-61 + dist.cpp:50-52). Normalize ONCE here and score with
    # the 1 - dot formula below; row-wise normalization means Qs[i] / Xs[cand]
    # are bit-identical to the oracle's l2_normalize(Q[i:i+1]) /
    # l2_normalize(X[cand]) inside cosine_distance_matrix, so the
    # ivf_search_reference equality contract holds. Cell ranking keeps the raw
    # arrays (distance_matrix handles cosine itself, matching the oracle).
    if metric == "cosine":
        Qs, Xs = l2_normalize(Q), l2_normalize(X)
    else:
        Qs, Xs = Q, X
    # cell ranking for all queries, blocked on the query axis
    q_block = max(1, (64 << 20) // (8 * max(len(C), 1)))
    ent_sizes = ends - starts
    # per-point ‖x‖² once per search (same axis-1 ufunc reduce as the
    # inline (Xc*Xc).sum(2) it replaces → bit-identical, minus an
    # (r, m, d)-sized temporary per block)
    x_sq = (X * X).sum(axis=1) if metric == "l2" else None
    for lo in range(0, nq, q_block):
        Qb = Q[lo : lo + q_block]
        Qsb = Qs[lo : lo + q_block]  # scoring rows (== Qb except cosine)
        d_qc = distance_matrix(Qb, C, metric)
        cell_rank = np.lexsort((np.broadcast_to(np.arange(len(C)), d_qc.shape), d_qc), axis=-1)
        # probe cells until ≥ ef primary members covered (≥1 cell always):
        # row-wise searchsorted(csum, ef) ≡ count of prefix sums < ef
        csum_primary = np.cumsum(primary[cell_rank], axis=1)
        ncq = np.minimum(cell_rank.shape[1], (csum_primary < ef).sum(axis=1) + 1)
        csum_entries = np.cumsum(ent_sizes[cell_rank], axis=1)
        for g in np.unique(ncq):
            rows = np.nonzero(ncq == g)[0]
            if g == cell_rank.shape[1]:
                # every cell probed → the deduped candidate union IS the
                # whole shard: skip the spilled gather (≥2× fewer distance
                # evals) and score the dense block directly. Extensionally
                # identical to the generic path (cand = arange(n), same
                # (dist, position) topk) — this is the regime the exact-
                # at-full-budget gate and small-shard ef sweeps live in.
                n_all = len(X)
                blk = max(1, (64 << 20) // (8 * n_all))
                for glo in range(0, len(rows), blk):
                    rblk = rows[glo : glo + blk]
                    Qg = Qsb[rblk]
                    # same expression as pairwise_sqr_l2 but with the cached
                    # x_sq (bit-identical; avoids recomputing the O(n·d)
                    # norm reduction once per row-block)
                    if metric == "l2":
                        dg = (Qg * Qg).sum(1)[:, None] + x_sq[None, :] - 2.0 * (Qg @ X.T)
                        np.maximum(dg, 0.0, out=dg)
                    else:
                        dg = 1.0 - Qg @ Xs.T
                    srt = topk(dg, k)
                    ds = np.take_along_axis(dg, srt, axis=1)
                    for ri, row in enumerate(rblk):
                        out_idx[lo + row] = srt[ri]
                        out_dist[lo + row] = ds[ri]
                continue
            m = int(csum_entries[rows, g - 1].max())  # widest candidate row in group
            # block the group so the gathered (rows, m, d) tensor stays ~64 MB
            g_block = max(1, (64 << 20) // (8 * m * d))
            PAD = np.int64(1) << 62
            for glo in range(0, len(rows), g_block):
                rblk = rows[glo : glo + g_block]
                # fully vectorized multi-slice CSR gather (no per-row loop):
                # flatten the (row, cell) slice list into one repeat/arange
                # indexing pass over `order`, then scatter into the padded
                # (rows, m) candidate matrix
                cells = cell_rank[rblk, :g]  # (r, g)
                seg_len = (ends[cells] - starts[cells]).ravel()
                seg_off = np.concatenate(([0], np.cumsum(seg_len)[:-1]))
                flat = np.repeat(starts[cells].ravel() - seg_off, seg_len) + np.arange(
                    seg_len.sum()
                )
                vals = order[flat]
                row_len = seg_len.reshape(len(rblk), g).sum(axis=1)
                row_off = np.concatenate(([0], np.cumsum(row_len)[:-1]))
                row_of = np.repeat(np.arange(len(rblk)), row_len)
                col_of = np.arange(row_len.sum()) - np.repeat(row_off, row_len)
                cand = np.full((len(rblk), m), PAD, dtype=np.int64)
                cand[row_of, col_of] = vals
                # index-space dedup BEFORE any distances: row-sort ascending,
                # spilled duplicates become adjacent-equal; padding sorts last
                cand = np.sort(cand, axis=1)
                valid = cand < PAD
                if m > 1:
                    valid[:, 1:] &= cand[:, 1:] != cand[:, :-1]
                safe = np.where(valid, cand, 0)
                Xc = Xs[safe]  # (r, m, d)
                Qg = Qsb[rblk]
                # batched |q - x|² / MIPS via one einsum (batched dgemm)
                dots = np.einsum("rd,rmd->rm", Qg, Xc)
                if metric == "l2":
                    dg = (Qg * Qg).sum(1)[:, None] + x_sq[safe] - 2.0 * dots
                    np.maximum(dg, 0.0, out=dg)
                else:
                    dg = 1.0 - dots
                dg[~valid] = np.inf
                # (dist, position) order; invalid entries sort last
                srt = topk(dg, k, key=np.where(valid, cand, PAD))
                ds = np.take_along_axis(dg, srt, axis=1)
                cs = np.take_along_axis(cand, srt, axis=1)
                ok = np.take_along_axis(valid, srt, axis=1)
                for ri, row in enumerate(rblk):
                    sel = ok[ri]
                    out_idx[lo + row] = cs[ri][sel]
                    out_dist[lo + row] = ds[ri][sel]
    return out_idx, out_dist


def ivf_search_reference(
    Q: np.ndarray,
    X: np.ndarray,
    index,
    k: int,
    ef: int,
    metric: str = "l2",
):
    """Straight-line per-query implementation of the identical contract —
    the equality oracle for the vectorized :func:`ivf_search`
    (tests/test_ivf_shard.py asserts bit-identical outputs)."""
    C, order, starts, ends, primary = index
    Q = np.asarray(Q, dtype=np.float64)
    X = np.asarray(X, dtype=np.float64)
    out_idx, out_dist = [], []
    for i in range(len(Q)):
        d_qc = distance_matrix(Q[i : i + 1], C, metric)[0]
        co = np.lexsort((np.arange(len(C)), d_qc))
        csum = np.cumsum(primary[co])
        g = min(len(co), int(np.searchsorted(csum, ef)) + 1)
        cand = np.unique(np.concatenate([order[starts[cc] : ends[cc]] for cc in co[:g]]))
        dd = distance_matrix(Q[i : i + 1], X[cand], metric)[0]
        # full (dist, position) lexsort — no argpartition prefilter: its pick
        # among candidates tied at the k-th distance is arbitrary, which made
        # this oracle diverge from the canonical vectorized path on shards
        # containing duplicate vectors
        srt = np.lexsort((cand, dd))[: min(k, len(cand))]
        out_idx.append(cand[srt])
        out_dist.append(dd[srt])
    return out_idx, out_dist
