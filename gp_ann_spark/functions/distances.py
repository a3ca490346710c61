"""Distance kernel family — the engine's scalar-function surface.

Reference: ``src/dist.cpp`` — ``sqr_l2_dist`` (dist.cpp:9-39, SIMD),
``inner_product`` (:42-48), ``mips_distance`` (:50-52), ``vec_norm`` (:54-58),
``L2Normalize`` (:60-73), ``distance`` (:75-81), ``pos_distance`` (:83-88).
The reference selects the metric at compile time (``CMakeLists.txt:57-62``);
here it is a runtime parameter (``metric`` ∈ {"l2", "mips"}).

Two implementations of each kernel:

- **NumPy batch kernels** (``*_matrix``): dense ``(m,d) x (n,d)`` blocks used
  inside Arrow/pandas UDFs — the vectorized-execution analogue of the
  reference's AVX loops. All matmul-based (BLAS), float64 accumulation for
  rank stability across engines.
- **SQL expression builders** (``sql_*``): pure Catalyst column expressions
  (zip_with + aggregate) for small/declarative paths where staying inside
  whole-stage codegen beats an Arrow hop.

``topk`` is the one k-best selection over a NumPy distance matrix: every
kernel picks its k best in (distance, key) order through it.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

VALID_METRICS = ("l2", "mips")
# The search/scoring kernels additionally serve the angular regime. The
# reference reaches it by L2-normalizing inputs once and running MIPS
# (convert.cpp:38-61); here "cosine" is a first-class search metric whose
# normalization happens in float64 inside the kernel, so callers need no
# separate convert pass. Clustering paths (k-means / routing trees) keep
# VALID_METRICS — their centroid-update geometry is defined for l2/mips only.
SEARCH_METRICS = VALID_METRICS + ("cosine",)


# ---------------------------------------------------------------- numpy side
def pairwise_sqr_l2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Squared L2 distances between all rows of ``a`` (m,d) and ``b`` (n,d).

    ``|a-b|^2 = |a|^2 + |b|^2 - 2 a·b`` — one BLAS matmul instead of an
    (m,n,d) broadcast; the distributed analogue of the reference's SIMD
    kernel dist.cpp:9-39. float64 accumulation so that ranking agrees with
    the DuckDB/SQL oracles to ~1e-15.
    """
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    sq = (a * a).sum(axis=1)[:, None] + (b * b).sum(axis=1)[None, :] - 2.0 * (a @ b.T)
    np.maximum(sq, 0.0, out=sq)
    return sq


def inner_product_matrix(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """⟨a_i, b_j⟩ for all pairs (dist.cpp:42-48)."""
    return np.asarray(a, dtype=np.float64) @ np.asarray(b, dtype=np.float64).T


def mips_distance_matrix(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """MIPS distance ``1 - ⟨a,b⟩`` (dist.cpp:50-52)."""
    return 1.0 - inner_product_matrix(a, b)


def pos_distance_matrix(a: np.ndarray, b: np.ndarray, metric: str = "l2") -> np.ndarray:
    """Non-negative distance for k-means objectives (dist.cpp:83-88):
    identity for L2, ``2 - ⟨a,b⟩`` for MIPS (shifted by +1). Clustering-only
    — no cosine variant (see SEARCH_METRICS note above)."""
    if metric not in VALID_METRICS:
        raise ValueError(f"metric must be one of {VALID_METRICS}, got {metric!r}")
    if metric == "l2":
        return pairwise_sqr_l2(a, b)
    return 2.0 - inner_product_matrix(a, b)


def cosine_distance_matrix(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Cosine distance ``1 − cos(a,b)`` for all pairs — MIPS over rows
    L2-normalized in float64 (≙ the reference's angular path: L2Normalize
    dist.cpp:60-73 applied by convert.cpp:38-61, then mips_distance).
    Zero rows normalize to zero (cosine 0 → distance 1), matching
    ``l2_normalize``."""
    return 1.0 - l2_normalize(a) @ l2_normalize(b).T


def distance_matrix(a: np.ndarray, b: np.ndarray, metric: str = "l2") -> np.ndarray:
    """Metric dispatch (dist.cpp:75-81) + the angular search metric."""
    if metric not in SEARCH_METRICS:
        raise ValueError(f"metric must be one of {SEARCH_METRICS}, got {metric!r}")
    if metric == "l2":
        return pairwise_sqr_l2(a, b)
    if metric == "mips":
        return mips_distance_matrix(a, b)
    return cosine_distance_matrix(a, b)


def topk(d: np.ndarray, k: int, key: np.ndarray | None = None) -> np.ndarray:
    """Column indices of each row's ``min(k, n)`` smallest entries of the
    (rows × n) matrix ``d``, in (distance, ``key``, column) order — the one
    k-best rule of every NumPy kernel (≙ the bounded (dist, id) heap TopN,
    topn.h:6-32). ``key`` is per column (n,) or per entry (rows × n) and
    defaults to the column position.

    The pick is a pure function of the row's (distance, key) content, never
    of argpartition's arbitrary choice among entries tied at the k-th
    distance, so a local top-k under the same order as the global merge
    loses nothing. O(n) per row: argpartition, then a full lexsort only for
    rows with a tie at the k-th distance."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    d = np.asarray(d)
    kk = min(k, d.shape[1])
    key = np.broadcast_to(np.arange(d.shape[1]) if key is None else key, d.shape)
    if kk == d.shape[1]:
        return np.lexsort((key, d), axis=-1)
    part = np.argpartition(d, kk - 1, axis=1)[:, :kk]
    sel = np.take_along_axis(d, part, axis=1)
    order = np.lexsort((part, np.take_along_axis(key, part, axis=1), sel), axis=-1)
    idx = np.take_along_axis(part, order, axis=1)
    tied = (d <= sel.max(axis=1)[:, None]).sum(axis=1) > kk
    if tied.any():
        idx[tied] = np.lexsort((key[tied], d[tied]), axis=-1)[:, :kk]
    return idx


def vec_norm(a: np.ndarray) -> np.ndarray:
    """Row L2 norms (dist.cpp:54-58)."""
    a = np.asarray(a, dtype=np.float64)
    return np.sqrt((a * a).sum(axis=-1))


def l2_normalize(a: np.ndarray) -> np.ndarray:
    """Row-normalize to unit L2 norm; zero rows stay zero (dist.cpp:60-73)."""
    a = np.asarray(a, dtype=np.float64)
    n = vec_norm(a)
    n = np.where(n == 0.0, 1.0, n)
    return a / n[..., None]


# ------------------------------------------------------------- Catalyst side
def sql_sqr_l2(a: Column, b: Column) -> Column:
    """Squared L2 distance between two ARRAY<FLOAT/DOUBLE> columns as a pure
    Catalyst expression (zip_with + aggregate): stays inside whole-stage
    codegen, sequential double summation — bit-compatible with the DuckDB
    oracle's ``list_distance(a::DOUBLE[], b::DOUBLE[])^2`` evaluation order.
    """
    diff2 = F.zip_with(
        a.cast("array<double>"),
        b.cast("array<double>"),
        lambda x, y: (x - y) * (x - y),
    )
    return F.aggregate(diff2, F.lit(0.0).cast("double"), lambda acc, v: acc + v)


def sql_inner_product(a: Column, b: Column) -> Column:
    """⟨a,b⟩ as a Catalyst expression."""
    prod = F.zip_with(a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y)
    return F.aggregate(prod, F.lit(0.0).cast("double"), lambda acc, v: acc + v)


def sql_distance(a: Column, b: Column, metric: str = "l2") -> Column:
    if metric not in SEARCH_METRICS:
        raise ValueError(f"metric must be one of {SEARCH_METRICS}, got {metric!r}")
    if metric == "l2":
        return sql_sqr_l2(a, b)
    if metric == "mips":
        return F.lit(1.0) - sql_inner_product(a, b)
    norm_prod = F.sqrt(sql_inner_product(a, a)) * F.sqrt(sql_inner_product(b, b))
    safe = F.when(norm_prod == 0.0, F.lit(1.0)).otherwise(norm_prod)
    return F.lit(1.0) - sql_inner_product(a, b) / safe
