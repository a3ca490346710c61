"""Per-shard search sweeps with timing, serialization, and the QPS model.

Reference: ``src/shard_searches.cpp`` (``RunInShardSearches`` :11-104 — per
shard, per ef_search: timed query sweep, median of 5 reps),
``SerializeShardSearches``/``Deserialize`` (:108-244),
``src/route_search_combination.cpp`` (:121-226 — combine routes × searches,
simulated QPS with greedy replica assignment, Pareto front).

Spark-first: one cogrouped ``applyInPandas`` per shard executes every query
probing it and reports wall time per (shard, query) batch from inside the
task (real executor-side timings — the distributed analogue of the
reference's per-shard timers). ``run_in_shard_searches`` is the exact
single-setting path (recall semantics anchored to exact oracles);
``run_in_shard_searches_sweep`` is the reference's actual protocol — build
the sublinear index ONCE per shard, then sweep ef_search over all queries
(shard_searches.cpp:38-68) using the IVF kernel (operators/ivf_shard.py).
Serialization is Parquet round-trips of the ``routes`` / ``shard_results``
relations.
"""

from __future__ import annotations

import time
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gp_ann_spark.checkpoint import realias
from gp_ann_spark.functions.distances import distance_matrix
from gp_ann_spark.operators.ivf_shard import EF_SWEEP, build_ivf, ivf_search


def run_in_shard_searches(
    sharded_points: DataFrame,
    queries: DataFrame,
    routes: DataFrame,
    k: int = 10,
    metric: str = "l2",
    reps: int = 3,
) -> DataFrame:
    """Timed in-shard searches for every (query, shard) probe pair.

    Returns ``shard_results(shard, query_id, probe_rank, neighbors
    ARRAY<BIGINT>, time_s DOUBLE)`` — time_s is the per-query share of the
    in-task median-of-``reps`` batch time (≙ the median-of-5 protocol,
    shard_searches.cpp:57-68).
    """
    probe_q = routes.join(queries.select("query_id", "vec"), "query_id").select(
        "shard", "query_id", "probe_rank", "vec"
    )

    def search(points_pdf: pd.DataFrame, queries_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"shard": [], "query_id": [], "probe_rank": [], "neighbors": [], "time_s": []}).astype(
            {"shard": "int32", "query_id": "int64", "probe_rank": "int32", "time_s": "float64"}, errors="ignore"
        )
        if len(points_pdf) == 0 or len(queries_pdf) == 0:
            return empty
        points_pdf = points_pdf.sort_values("id", ignore_index=True)  # layout-stable tie-breaks
        X = np.stack(points_pdf["vec"].to_numpy()).astype(np.float64)
        ids = points_pdf["id"].to_numpy()
        Q = np.stack(queries_pdf["vec"].to_numpy()).astype(np.float64)
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            d = distance_matrix(Q, X, metric)
            kk = min(k, d.shape[1])
            if kk < d.shape[1]:
                # canonical (dist, id) selection like probe_shards/ivf_search:
                # argpartition's pick among candidates tied AT the k-th
                # distance is layout-arbitrary — a GT neighbor tied at the
                # boundary could be silently swapped for its twin. Rows with
                # boundary ties (rare) re-rank against the full row.
                part = np.argpartition(d, kk - 1, axis=1)[:, :kk]
                sel_d = np.take_along_axis(d, part, axis=1)
                order = np.lexsort((part, sel_d), axis=-1)
                idx = np.take_along_axis(part, order, axis=1)
                kth = sel_d.max(axis=1)
                tied = (d <= kth[:, None]).sum(axis=1) > kk
                if tied.any():
                    dt = d[tied]
                    cols = np.broadcast_to(np.arange(dt.shape[1]), dt.shape)
                    idx[tied] = np.lexsort((cols, dt), axis=-1)[:, :kk]
            else:
                cols = np.broadcast_to(np.arange(d.shape[1]), d.shape)
                idx = np.lexsort((cols, d), axis=-1)
            times.append(time.perf_counter() - t0)
        per_query = float(np.median(times)) / len(Q)
        return pd.DataFrame(
            {
                "shard": np.int32(points_pdf["shard"].iloc[0]),
                "query_id": queries_pdf["query_id"].to_numpy(),
                "probe_rank": queries_pdf["probe_rank"].to_numpy().astype(np.int32),
                "neighbors": [ids[idx[i]].tolist() for i in range(len(Q))],
                "time_s": per_query,
            }
        )

    return sharded_points.groupBy("shard").cogroup(realias(probe_q).groupBy("shard")).applyInPandas(
        search,
        schema="shard int, query_id long, probe_rank int, neighbors array<bigint>, time_s double",
    )


def run_in_shard_searches_sweep(
    sharded_points: DataFrame,
    queries: DataFrame,
    routes: DataFrame,
    k: int = 10,
    metric: str = "l2",
    reps: int = 3,
    ef_values: Iterable[int] = EF_SWEEP,
    seed: int = 555,
) -> DataFrame:
    """The reference's actual per-shard protocol (shard_searches.cpp:22-68):
    build the sublinear index ONCE per shard, then for each ef_search run
    every query probing that shard, timing median-of-``reps``. Here the
    index is the in-task IVF kernel and ``ef`` is the candidate budget
    (ivf_shard.py). Returns ``(shard, query_id, probe_rank, ef, neighbors,
    time_s)`` — one row set per ef value, all from one task per shard.
    """
    ef_list = sorted(set(int(e) for e in ef_values))
    probe_q = routes.join(queries.select("query_id", "vec"), "query_id").select(
        "shard", "query_id", "probe_rank", "vec"
    )

    def search(points_pdf: pd.DataFrame, queries_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(points_pdf) == 0 or len(queries_pdf) == 0:
            return pd.DataFrame(
                {"shard": [], "query_id": [], "probe_rank": [], "ef": [], "neighbors": [], "time_s": []}
            ).astype({"shard": "int32", "query_id": "int64", "probe_rank": "int32", "ef": "int32", "time_s": "float64"}, errors="ignore")
        points_pdf = points_pdf.sort_values("id", ignore_index=True)  # layout-stable tie-breaks
        X = np.stack(points_pdf["vec"].to_numpy()).astype(np.float64)
        ids = points_pdf["id"].to_numpy()
        Q = np.stack(queries_pdf["vec"].to_numpy()).astype(np.float64)
        shard = int(points_pdf["shard"].iloc[0])
        index = build_ivf(X, seed=seed + shard, metric=metric)
        frames = []
        for ef in ef_list:
            times = []
            for _ in range(reps):
                t0 = time.perf_counter()
                idx_rows, _dist_rows = ivf_search(Q, X, index, k, ef, metric)
                times.append(time.perf_counter() - t0)
            per_query = float(np.median(times)) / len(Q)
            frames.append(
                pd.DataFrame(
                    {
                        "shard": np.int32(shard),
                        "query_id": queries_pdf["query_id"].to_numpy(),
                        "probe_rank": queries_pdf["probe_rank"].to_numpy().astype(np.int32),
                        "ef": np.int32(ef),
                        "neighbors": [ids[r].tolist() for r in idx_rows],
                        "time_s": per_query,
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    return sharded_points.groupBy("shard").cogroup(realias(probe_q).groupBy("shard")).applyInPandas(
        search,
        schema="shard int, query_id long, probe_rank int, ef int, neighbors array<bigint>, time_s double",
    )


def serialize_routes(routes: DataFrame, path: str) -> None:
    """≙ SerializeRoutes (routes.cpp:317-352) — Parquet of the
    (query_id, shard, probe_rank) relation."""
    routes.write.mode("overwrite").parquet(path)


def deserialize_routes(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


# ----------------------------------------------------------- QPS simulation
def simulate_qps(
    shard_results: DataFrame,
    nprobes: int,
    n_queries: int,
    routing_time_s: float = 0.0,
    num_hosts: int | None = None,
    extra_hosts: int = 20,
) -> dict:
    """The reference's throughput model (route_search_combination.cpp:149-183):

    per-shard work = Σ time of queries probing it (first ``nprobes`` probes);
    shards are assigned to hosts greedily (heaviest shard → least-loaded
    host), replicas up to ``num_shards + extra_hosts`` hosts;
    QPS = n_queries / (max host load + routing_time / num_hosts).

    Runs driver-side on the (tiny) per-shard aggregate — same as the
    reference, which post-processes in memory.
    """
    agg = (
        shard_results.where(F.col("probe_rank") <= nprobes)
        .groupBy("shard")
        .agg(F.sum("time_s").alias("work"))
        .collect()
    )
    work = {int(r["shard"]): float(r["work"]) for r in agg}
    if not work:
        return {"qps": 0.0, "hosts": 0, "max_host_load": 0.0}
    hosts_n = num_hosts or (len(work) + extra_hosts)
    qps, max_load = _replica_qps(work, n_queries, routing_time_s, num_hosts, extra_hosts)
    return {"qps": qps, "hosts": hosts_n, "max_host_load": max_load}


def _replica_qps(
    work: dict[int, float], n_queries: int, routing_time_s: float, num_hosts, extra_hosts
) -> tuple[float, float]:
    """Driver-side replica model shared by simulate_qps and the batched
    grid (route_search_combination.cpp:149-183). Returns (qps, max_load)."""
    if not work:
        return 0.0, 0.0
    hosts_n = num_hosts or (len(work) + extra_hosts)
    loads = sorted(work.values(), reverse=True)
    if hosts_n >= len(loads):
        replicas = {i: 1 for i in range(len(loads))}
        budget = hosts_n - len(loads)
        while budget > 0:
            eff = [(loads[i] / replicas[i], i) for i in range(len(loads))]
            _, i = max(eff)
            replicas[i] += 1
            budget -= 1
        max_load = max(loads[i] / replicas[i] for i in range(len(loads)))
    else:
        # fewer hosts than shards: PACK heaviest shard → least-loaded host
        # (the greedy the docstring promises) — without this the model
        # silently used one host per shard and overstated QPS
        import heapq

        h = [0.0] * hosts_n
        heapq.heapify(h)
        for w in loads:
            heapq.heappush(h, heapq.heappop(h) + w)
        max_load = max(h)
    denom = max_load + routing_time_s / hosts_n
    return (n_queries / denom if denom > 0 else float("inf")), max_load


def _grid_from_frames(
    hist: dict, work_pdf: pd.DataFrame, k: int, n_queries: int, nprobes_values: Iterable[int]
) -> pd.DataFrame:
    """Driver-side (nprobes, recall, qps) grid from the first-hit histogram
    and the per-(shard, probe_rank) work table — the shared tail of
    ``recall_qps_grid`` and ``recall_qps_grid_by_ef``."""
    rows = []
    for p in nprobes_values:
        found = sum(n for r, n in hist.items() if r <= p)
        w = work_pdf[work_pdf["probe_rank"] <= p].groupby("shard")["work"].sum()
        qps, _ = _replica_qps({int(s): float(v) for s, v in w.items()}, n_queries, 0.0, None, 20)
        rows.append({"nprobes": p, "recall": found / (n_queries * k), "qps": qps})
    df = pd.DataFrame(rows)
    # Pareto: not dominated in (recall, qps)
    df["pareto"] = [
        not any((o["recall"] >= r["recall"]) and (o["qps"] > r["qps"]) or
                (o["recall"] > r["recall"]) and (o["qps"] >= r["qps"])
                for _, o in df.iterrows())
        for _, r in df.iterrows()
    ]
    return df


def recall_qps_grid(
    shard_results: DataFrame,
    gt: DataFrame,
    k: int,
    n_queries: int,
    nprobes_values: Iterable[int],
) -> pd.DataFrame:
    """(nprobes, recall, qps) grid + Pareto flag (≙ the combination sweep,
    route_search_combination.cpp:121-226). Small output → pandas.

    TWO Spark aggregations for the whole grid, not O(|nprobes|) jobs: the
    recall curve comes from the histogram of each true hit's FIRST probe
    rank (cumsum gives found@p for every p), and the QPS model from one
    (shard, probe_rank) work table cumsum'd driver-side. Also two fewer
    passes over shard_results at scale."""
    # recall: first probe rank at which each (query, true-neighbor) is found
    first_hit = (
        shard_results.select("query_id", "probe_rank", F.explode("neighbors").alias("neighbor_id"))
        .join(gt.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id", "neighbor_id")
        .agg(F.min("probe_rank").alias("first_rank"))
        .groupBy("first_rank")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    hist = dict(zip(first_hit["first_rank"], first_hit["n"]))
    # qps: per-(shard, probe_rank) work once; cumulative per shard in pandas
    work_pdf = (
        shard_results.groupBy("shard", "probe_rank")
        .agg(F.sum("time_s").alias("work"))
        .toPandas()
    )
    return _grid_from_frames(hist, work_pdf, k, n_queries, nprobes_values)


def recall_qps_grid_by_ef(
    shard_results: DataFrame,
    gt: DataFrame,
    k: int,
    n_queries: int,
    nprobes_values: Iterable[int],
    ef_list: Iterable[int],
) -> dict[int, pd.DataFrame]:
    """``recall_qps_grid`` for a WHOLE ef sweep in the same two Spark
    aggregations (grouped by ef), instead of 2·|ef| jobs over per-ef filters
    of the sweep table — the per-ef slicing happens driver-side on the tiny
    aggregate. Row-for-row identical to calling ``recall_qps_grid`` on each
    ``shard_results.where(ef == e).drop("ef")`` slice (the aggregations are
    keyed identically, just with ef as an extra group key)."""
    first_hit = (
        shard_results.select("ef", "query_id", "probe_rank", F.explode("neighbors").alias("neighbor_id"))
        .join(gt.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi")
        .groupBy("ef", "query_id", "neighbor_id")
        .agg(F.min("probe_rank").alias("first_rank"))
        .groupBy("ef", "first_rank")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    work_all = (
        shard_results.groupBy("ef", "shard", "probe_rank")
        .agg(F.sum("time_s").alias("work"))
        .toPandas()
    )
    out: dict[int, pd.DataFrame] = {}
    for ef in ef_list:
        fh = first_hit[first_hit["ef"] == ef]
        hist = dict(zip(fh["first_rank"], fh["n"]))
        work_pdf = work_all[work_all["ef"] == ef]
        out[int(ef)] = _grid_from_frames(hist, work_pdf, k, n_queries, nprobes_values)
    return out
