"""Sources/sinks: Parquet-first tables plus the reference's text formats.

Parquet (partitioned where it matters) is the engine's storage; the text
formats exist for cross-checking artifacts against the reference harness:

- METIS partition file: one shard id per line, line i = point i
  (``src/metis_io.cpp:6-24``; read remaps ids densely like the reference);
- clusters file: one whitespace-separated id list per shard line
  (``src/metis_io.cpp:40-64``);
- METIS graph file: header ``n m`` then 1-indexed adjacency per vertex line
  (``src/metis_io.cpp:26-38``, with the even-edge-count check).

Text writers collect to the driver — they are small-scale debug/interchange
artifacts only (the reference's formats are inherently single-file,
position-indexed); Parquet paths are the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gp_ann_spark.functions.windows import bounded_global_window
from gp_ann_spark.operators.graph import mirror


def write_assignment(assignment: DataFrame, path: str, partition_by_shard: bool = True) -> None:
    """Parquet sink; partitioning by shard makes every shard-filtered read a
    pruned scan (≙ the seek-coalesced sharded read,
    distributed_query_benchmark.h:48-84)."""
    w = assignment.write.mode("overwrite")
    if partition_by_shard:
        w = w.partitionBy("shard")
    w.parquet(path)


def read_assignment(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_metis_partition(assignment: DataFrame, path: str) -> None:
    """≙ WriteMetisPartition (metis_io.cpp:18-24): line i = shard of point i.
    The format is positional, so ids MUST be dense 0..n-1 — validated loudly
    (like write_ground_truth_bin) instead of silently writing a file whose
    reader remaps every id above a gap to the wrong point."""
    rows = assignment.orderBy("id").select("id", "shard").collect()
    if rows and (int(rows[0]["id"]) != 0 or int(rows[-1]["id"]) != len(rows) - 1):
        raise ValueError(
            f"write_metis_partition needs dense ids 0..{len(rows) - 1}; got "
            f"min={rows[0]['id']} max={rows[-1]['id']} over {len(rows)} rows — "
            "the positional format cannot represent gaps."
        )
    with open(path, "w") as f:
        for r in rows:
            f.write(f"{r['shard']}\n")


def read_metis_partition(spark: SparkSession, path: str) -> DataFrame:
    """≙ ReadMetisPartition (metis_io.cpp:6-16): reads one shard per line and
    densifies shard ids (the reference remaps via a hash map)."""
    with open(path) as f:
        shards = [int(line.strip()) for line in f if line.strip()]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(shards)], "id long, shard int"
    )
    dense = df.select("shard").distinct().withColumn(
        "_new", F.dense_rank().over(bounded_global_window("shard")) - 1
    )
    return df.join(F.broadcast(dense), "shard").select("id", F.col("_new").cast("int").alias("shard"))


def write_clusters(assignment: DataFrame, path: str) -> None:
    """≙ WriteClusters (metis_io.cpp:56-64): shard line = member ids.
    Line number IS the shard id on read-back, so shard ids must be dense
    0..s-1 — validated loudly (like write_metis_partition) instead of
    silently shifting every shard above a gap down by one."""
    rows = (
        assignment.groupBy("shard")
        .agg(F.sort_array(F.collect_list("id")).alias("members"))
        .orderBy("shard")
        .collect()
    )
    if rows and (int(rows[0]["shard"]) != 0 or int(rows[-1]["shard"]) != len(rows) - 1):
        raise ValueError(
            f"write_clusters needs dense shard ids 0..{len(rows) - 1}; got "
            f"min={rows[0]['shard']} max={rows[-1]['shard']} over {len(rows)} "
            "shards — the positional format cannot represent gaps (remap with "
            "partition.remap_shard_ids first)."
        )
    with open(path, "w") as f:
        for r in rows:
            f.write(" ".join(str(m) for m in r["members"]) + "\n")


def read_clusters(spark: SparkSession, path: str) -> DataFrame:
    """≙ ReadClusters (metis_io.cpp:40-54) → assignment relation."""
    pairs = []
    with open(path) as f:
        for shard, line in enumerate(f):
            for tok in line.split():
                pairs.append((int(tok), shard))
    return spark.createDataFrame(pairs, "id long, shard int")


def write_metis_graph(edges: DataFrame, path: str) -> None:
    """≙ WriteMetisGraph (metis_io.cpp:26-38): symmetric graph, 1-indexed
    adjacency lines, header 'n m'; asserts the even-edge-count invariant.
    Self-loops are dropped first — METIS has no representation for them, and
    a (v, v) row survives the symmetrize-distinct as ONE directed edge,
    tripping the even-count assert on an otherwise valid graph."""
    edges = edges.where(F.col("src") != F.col("dst"))
    sym = mirror(edges).distinct()
    n_edges = sym.count()
    assert n_edges % 2 == 0, "symmetric graph must have an even directed-edge count"
    adj = (
        sym.groupBy("src").agg(F.sort_array(F.collect_list("dst")).alias("nbrs")).orderBy("src").collect()
    )
    n = max(r["src"] for r in adj) + 1 if adj else 0
    by_src = {r["src"]: r["nbrs"] for r in adj}
    with open(path, "w") as f:
        f.write(f"{n} {n_edges // 2}\n")
        for v in range(n):
            f.write(" ".join(str(u + 1) for u in by_src.get(v, [])) + "\n")


BIN_DTYPES = {"fbin": "<f4", "u8bin": "u1", "i8bin": "i1"}


def read_points_bin(
    spark: SparkSession, path: str, fmt: str = "fbin", limit: int | None = None,
    parallelism: int | None = None,
) -> DataFrame:
    """Read the reference's raw binary point format: header ``(n:u32, d:u32)``
    then n·d little-endian values (≙ ReadPoints points_io.cpp:14-61;
    u8bin/i8bin are byte points widened to float — internal::ReadBytes
    points_io.cpp:63-111). ``limit`` truncates like the reference's ``size``.

    Distributed chunked read: each task seeks its own row range of the file
    (the reference's parallel seek loop, :42-55). The path must be visible to
    every executor (shared FS / object store) — same assumption the
    reference makes of its local file.
    """
    import struct

    import numpy as np
    import pandas as pd

    if fmt not in BIN_DTYPES:
        raise ValueError(f"fmt must be one of {sorted(BIN_DTYPES)}")
    dtype = np.dtype(BIN_DTYPES[fmt])
    with open(path, "rb") as f:
        n, d = struct.unpack("<II", f.read(8))
    if limit is not None:
        n = min(n, limit)
    nchunks = max(1, parallelism or spark.sparkContext.defaultParallelism)
    rows_per = -(-n // nchunks)

    def read_chunk(batches):
        for pdf in batches:
            for cid in pdf["id"].to_numpy():
                start = int(cid) * rows_per
                end = min(n, start + rows_per)
                if start >= end:
                    continue
                with open(path, "rb") as f:
                    f.seek(8 + start * d * dtype.itemsize)
                    buf = np.fromfile(f, dtype=dtype, count=(end - start) * d)
                X = buf.reshape(-1, d).astype(np.float32)  # u8/i8 widen here
                yield pd.DataFrame({"id": np.arange(start, end, dtype=np.int64), "vec": list(X)})

    return spark.range(nchunks).mapInPandas(read_chunk, schema="id long, vec array<float>")


def write_points_bin(points: DataFrame, path: str, fmt: str = "fbin") -> None:
    """≙ WritePoints (points_io.cpp:126-133): single-file (n,d)-header binary
    — a driver-side interchange artifact (the format is inherently one
    position-indexed file); Parquet is the scale sink."""
    import struct

    import numpy as np

    pdf = points.select("id", "vec").orderBy("id").toPandas()
    X = np.stack(pdf["vec"].to_numpy())
    dtype = np.dtype(BIN_DTYPES[fmt])
    with open(path, "wb") as f:
        f.write(struct.pack("<II", X.shape[0], X.shape[1]))
        X.astype(dtype).tofile(f)


def write_points(points: DataFrame, path: str) -> None:
    """≙ WritePoints (points_io.cpp:126-133) — Parquet replaces the raw
    (n, d)-header binary format for the scale path."""
    points.write.mode("overwrite").parquet(path)


def write_ground_truth(gt: DataFrame, path: str) -> None:
    """≙ WriteGroundTruth (points_io.cpp:161-179) — Parquet of the
    (query_id, rank, neighbor_id, dist) relation."""
    gt.write.mode("overwrite").parquet(path)


def read_ground_truth(spark: SparkSession, path: str) -> DataFrame:
    """Dispatch: Parquet by default; the reference's binary interchange only
    for an explicit ``.bin`` suffix or a local regular file. Remote URIs
    (s3://, hdfs://) are never local files, so they fall through to
    ``spark.read.parquet``, which handles them — the binary reader's local
    ``open()`` cannot."""
    import os

    if path.endswith(".bin"):
        return read_ground_truth_bin(spark, path)
    if os.path.isfile(path):
        # a single local file can be EITHER the reference's binary layout or
        # a one-file Parquet (pandas/duckdb/arrow writers) — sniff the PAR1
        # magic instead of unpacking parquet bytes as (nq, k) (which reads
        # ~8e8 and attempts a multi-hundred-GB allocation)
        with open(path, "rb") as fh:
            magic = fh.read(4)
        if magic != b"PAR1":
            return read_ground_truth_bin(spark, path)
    return spark.read.parquet(path)


def write_ground_truth_bin(gt: DataFrame, path: str) -> None:
    """≙ WriteGroundTruth (points_io.cpp:163-179): header ``(nq:u32, k:u32)``
    then ALL nq·k neighbor ids (u32, row-major by query then rank), then ALL
    nq·k distances (f32) — ids-then-dists, not interleaved. Queries must be
    dense 0..nq-1 with exactly k ranks each (the reference's positional
    contract). Driver-side interchange artifact like ``write_points_bin``;
    GT is nq·k rows, small by construction."""
    import struct

    import numpy as np

    pdf = gt.select("query_id", "rank", "neighbor_id", "dist").orderBy("query_id", "rank").toPandas()
    nq = pdf["query_id"].nunique()
    k = int(pdf["rank"].max()) if len(pdf) else 0
    if len(pdf) != nq * k:
        raise ValueError(f"ragged GT: {len(pdf)} rows != {nq} queries x {k} ranks")
    # the binary layout is POSITIONAL: read-back reconstructs query_id as
    # 0..nq-1, so non-dense ids would be silently remapped — refuse loudly
    if nq and (int(pdf["query_id"].min()) != 0 or int(pdf["query_id"].max()) != nq - 1):
        raise ValueError(
            f"binary GT requires dense query ids 0..{nq - 1}, got "
            f"[{pdf['query_id'].min()}, {pdf['query_id'].max()}] — renumber "
            "queries before writing (the layout is positional, points_io.cpp:136-160)"
        )
    ids = pdf["neighbor_id"].to_numpy()
    # u4 astype WRAPS modulo 2^32 silently; ids above that (legal at the
    # engine's corpus scale) would round-trip as plausible-looking wrong
    # neighbors — refuse loudly like the dense-query-id check above
    if len(ids) and (ids.min() < 0 or ids.max() > 0xFFFFFFFF):
        raise ValueError(
            f"binary GT stores neighbor ids as uint32; got range "
            f"[{ids.min()}, {ids.max()}] — ids beyond 2^32-1 cannot be "
            "represented (use the parquet GT format instead)."
        )
    with open(path, "wb") as f:
        f.write(struct.pack("<II", nq, k))
        ids.astype("<u4").tofile(f)
        pdf["dist"].to_numpy().astype("<f4").tofile(f)


def read_ground_truth_bin(spark: SparkSession, path: str) -> DataFrame:
    """≙ ReadGroundTruth (points_io.cpp:136-160): parse the ids-then-dists
    binary layout back to the (query_id, neighbor_id, dist, rank) relation.
    Stored order within a query IS the rank order (the reference writes
    sorted NNVecs)."""
    import struct

    import numpy as np
    import pandas as pd

    with open(path, "rb") as f:
        nq, k = struct.unpack("<II", f.read(8))
        ids = np.fromfile(f, dtype="<u4", count=nq * k)
        dists = np.fromfile(f, dtype="<f4", count=nq * k)
    pdf = pd.DataFrame(
        {
            "query_id": np.repeat(np.arange(nq, dtype=np.int64), k),
            "neighbor_id": ids.astype(np.int64),
            "dist": dists.astype(np.float64),
            "rank": np.tile(np.arange(1, k + 1, dtype=np.int32), nq),
        }
    )
    return spark.createDataFrame(pdf)
