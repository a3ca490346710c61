"""Timed per-shard searches and the QPS model.

Reference: ``src/shard_searches.cpp`` (``RunInShardSearches`` :11-104 — per
shard, build the index once, then per ef_search a timed query sweep, median
of 5 reps), ``src/route_search_combination.cpp`` (:121-226 — combine routes
× searches, simulated QPS with greedy replica assignment, Pareto front).

Spark-first: ``run_in_shard_searches`` is one kernel of the per-shard
operator (``search._per_shard``): one task per shard executes every query
probing it and reports wall time per (shard, ef) batch from inside the task
(real executor-side timings — the distributed analogue of the reference's
per-shard timers). ``ef`` 0 is the exact brute-force search; every ef > 0
runs the sublinear IVF kernel (operators/ivf_shard.py), built once per
shard. ``recall_qps_grid`` joins that one timed table back to every route
config's probe ranks and turns it into one (nprobes, recall, qps) grid keyed
by (config, ef); ``pareto_flags`` is the one Pareto rule.
"""

from __future__ import annotations

import time
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gp_ann_spark.functions.distances import distance_matrix, topk
from gp_ann_spark.operators.ivf_shard import build_ivf, ivf_search
from gp_ann_spark.operators.search import _per_shard


def run_in_shard_searches(
    sharded_points: DataFrame,
    queries: DataFrame,
    routes: DataFrame,
    k: int = 10,
    metric: str = "l2",
    reps: int = 3,
    ef_values: Iterable[int] = (0,),
    seed: int = 555,
) -> DataFrame:
    """Timed in-shard searches for every (query, shard) probe pair, once per
    ef_search in ``ef_values`` (≙ shard_searches.cpp:22-68): ef 0 is the
    exact search, each ef > 0 the IVF kernel at candidate budget ``ef``
    over one index per shard (seeded ``seed + shard``, built outside the
    timed region).

    Returns ``shard_results(shard, query_id, probe_rank, ef, neighbors
    ARRAY<BIGINT>, time_s DOUBLE)`` — time_s is the per-query share of the
    in-task median-of-``reps`` batch time (≙ the median-of-5 protocol,
    shard_searches.cpp:57-68).
    """
    ef_list = sorted(set(int(e) for e in ef_values))

    def kernel(shard, ids, X, probes, Q) -> pd.DataFrame:
        index = build_ivf(X, seed=seed + shard, metric=metric) if ef_list[-1] > 0 else None
        frames = []
        for ef in ef_list:
            times = []
            for _ in range(reps):
                t0 = time.perf_counter()
                if ef == 0:
                    idx = topk(distance_matrix(Q, X, metric), k)
                else:
                    idx = ivf_search(Q, X, index, k, ef, metric)[0]
                times.append(time.perf_counter() - t0)
            frames.append(
                pd.DataFrame(
                    {
                        "shard": np.int32(shard),
                        "query_id": probes["query_id"].to_numpy(),
                        "probe_rank": probes["probe_rank"].to_numpy().astype(np.int32),
                        "ef": np.int32(ef),
                        "neighbors": [ids[r].tolist() for r in idx],
                        "time_s": float(np.median(times)) / len(Q),
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    return _per_shard(
        sharded_points, queries, routes, kernel,
        schema="shard int, query_id long, probe_rank int, ef int, neighbors array<bigint>, time_s double",
    )


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

    ``shard_results`` holds one ef. Runs driver-side on the (tiny)
    per-shard aggregate — same as the reference, which post-processes in
    memory.
    """
    agg = (
        shard_results.where(F.col("probe_rank") <= nprobes)
        .groupBy("shard")
        .agg(F.sum("time_s").alias("work"))
        .collect()
    )
    work = {int(r["shard"]): float(r["work"]) for r in agg}
    return _replica_qps(work, n_queries, routing_time_s, num_hosts, extra_hosts)


def _replica_qps(work: dict[int, float], n_queries: int, routing_time_s: float, num_hosts, extra_hosts) -> dict:
    """Driver-side replica model shared by simulate_qps and the grid
    (route_search_combination.cpp:149-183). Returns qps, hosts and
    max_host_load."""
    if not work:
        return {"qps": 0.0, "hosts": 0, "max_host_load": 0.0}
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
    qps = n_queries / denom if denom > 0 else float("inf")
    return {"qps": qps, "hosts": hosts_n, "max_host_load": max_load}


def pareto_flags(df: pd.DataFrame) -> pd.Series:
    """The Pareto rule (≙ route_search_combination.cpp:193-218): a row is on
    the front iff no other row has recall ≥ and qps > it, or recall > and
    qps ≥ it. One sort over the distinct recalls: ``at_least`` is the best
    qps at recall ≥ r, ``above`` the best at recall > r."""
    at_least = df.groupby("recall")["qps"].max().sort_index(ascending=False).cummax()
    above = at_least.shift(fill_value=-np.inf)
    return (df["qps"] >= df["recall"].map(at_least)) & (df["qps"] > df["recall"].map(above))


def recall_qps_grid(
    shard_results: DataFrame,
    routes: DataFrame,
    gt: DataFrame,
    k: int,
    n_queries: int,
    nprobes_values: Iterable[int],
    configs: Iterable[int],
    ef_list: Iterable[int],
) -> pd.DataFrame:
    """The (config, ef, nprobes, recall, qps) grid of every route config in
    ``configs`` (≙ the combination sweep, route_search_combination.cpp:
    121-226): ``shard_results`` is one timed search per (query, shard) pair,
    and ``routes`` (query_id, shard, probe_rank, config) gives each config's
    probe rank of the pair. Small output → pandas, config-major.

    TWO Spark aggregations for the whole grid, not O(|configs|·|nprobes|·
    |ef|) jobs: the recall curve comes from the histogram of each true hit's
    FIRST probe rank per (config, ef) (cumsum gives found@p for every p),
    and the QPS model from one (config, ef, shard, probe_rank) work table
    cumsum'd driver-side."""
    ranked = shard_results.drop("probe_rank").join(routes, ["query_id", "shard"])
    # recall: first probe rank at which each (query, true-neighbor) is found
    first_hit = (
        ranked.select("config", "ef", "query_id", "probe_rank", F.explode("neighbors").alias("neighbor_id"))
        .join(gt.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi")
        .groupBy("config", "ef", "query_id", "neighbor_id")
        .agg(F.min("probe_rank").alias("first_rank"))
        .groupBy("config", "ef", "first_rank")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    # qps: per-(config, ef, shard, probe_rank) work once; cumulative per shard in pandas
    work_all = (
        ranked.groupBy("config", "ef", "shard", "probe_rank")
        .agg(F.sum("time_s").alias("work"))
        .toPandas()
    )
    rows = []
    for c in configs:
        for ef in ef_list:
            fh = first_hit[(first_hit["config"] == c) & (first_hit["ef"] == ef)]
            work = work_all[(work_all["config"] == c) & (work_all["ef"] == ef)]
            for p in nprobes_values:
                found = fh.loc[fh["first_rank"] <= p, "n"].sum()
                w = work[work["probe_rank"] <= p].groupby("shard")["work"].sum()
                qps = _replica_qps({int(s): float(v) for s, v in w.items()}, n_queries, 0.0, None, 20)["qps"]
                rows.append({"config": c, "ef": ef, "nprobes": p, "recall": found / (n_queries * k), "qps": qps})
    return pd.DataFrame(rows, columns=["config", "ef", "nprobes", "recall", "qps"])
