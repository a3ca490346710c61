"""Corpus ingest: repos → sha256-dedup'd files → deterministic point vectors.

Pipeline (BASELINE.json ``input_hint`` / SURVEY.md §1):

    repos(repo, path, commit, lang, content)
      → sha2(content, 256) dedup                      [exact dedup]
      → dense vertex ids (one range shuffle)          [replaces positional ids]
      → hash-ngram featurizer (one narrow Arrow pass) [replaces .fbin readers]
      → points(id BIGINT, vec ARRAY<FLOAT>)

Per-row invariant vs the reference harness: content sha256 equality
(tested against a hashlib oracle). A batch is numbered first and featurized
after, with no join between the two: ``dense_ids`` range-shuffles once on
the key, and ``featurize`` is narrow — Catalyst splits and hashes each row's
tokens JVM-side, one ``mapInArrow`` kernel sums them. Feature hashing is an
independent sum per row, so it needs no shuffle, and the sums are integers,
so a vector does not depend on the partition layout.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, StructField, StructType

from gp_ann_spark.checkpoint import checkpoints

DIM = 64  # fixed featurizer dimensionality (FIXTURES.md §2)


def dedup_files(repos: DataFrame) -> DataFrame:
    """Exact content dedup: one row per distinct sha256, keeping the
    lexicographically-first (repo, path) as the representative.

    Reference analogue: none (the reference assumes pre-deduplicated point
    files); mandated by input_hint. Shape: one groupBy shuffle on the hash —
    uniformly distributed keys, no skew by construction.
    """
    hashed = repos.withColumn("sha256", F.sha2(F.col("content"), 256))
    return hashed.groupBy("sha256").agg(
        F.min(F.struct("repo", "path", "lang", "content")).alias("rep"),
        F.count(F.lit(1)).alias("n_dups"),
    ).select(
        "sha256",
        F.col("rep.repo").alias("repo"),
        F.col("rep.path").alias("path"),
        F.col("rep.lang").alias("lang"),
        F.col("rep.content").alias("content"),
        "n_dups",
    )


def dense_ids(df: DataFrame, order_col: str = "sha256") -> DataFrame:
    """Append ``id`` = the rank 0..n-1 of the unique key ``order_col``
    (FIXTURES.md: id = dense rank over distinct sha256).

    One range shuffle on the key, sorted within partitions and pinned:
    ``repartitionByRange`` samples its boundaries per evaluation, so the
    counts and the numbering must read the same layout. One collect of the
    per-partition row counts (at most ``defaultParallelism`` rows) gives
    each partition's prefix offset; a row's id is that offset plus its
    position in the partition. No window, no join, no single-partition sort.
    """
    n_parts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    pid = F.spark_partition_id()
    with checkpoints() as cp:
        parted = cp.pin(df.repartitionByRange(n_parts, F.col(order_col)).sortWithinPartitions(order_col))
        counts = dict(parted.groupBy(pid).count().collect())
        offsets = np.cumsum([0] + [counts.get(p, 0) for p in range(max(counts, default=0))]).tolist()
        # monotonically_increasing_id is (partition id << 33) + row position
        pos = F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)
        return cp.keep(parted.withColumn("id", F.lit(offsets)[pid] + pos))


def featurize(files: DataFrame, dim: int = DIM, seed: int = 42) -> DataFrame:
    """Hash-ngram projection: content → float32 vector of length ``dim``.

    For each whitespace token t: bucket = xxhash64(t, seed) mod dim,
    sign = ±1 from a second hash; vec[bucket] += sign; then L2-normalize.
    One narrow pass: Catalyst splits each row on Java-regex ``\\s+`` and
    hashes its tokens JVM-side into codes ``bucket·2 + (sign > 0)``, with no
    explode; one ``mapInArrow`` kernel counts each row's codes with
    ``np.bincount`` over the Arrow list offsets. Every column but
    ``content`` passes through, and a row with no token gets the zero
    vector: one output row per input row, which the streaming sink's
    committed-row-count == next_id invariant relies on.

    Replaces the reference's point readers (points_io.cpp:14-111) as the
    source of ``points(id, vec)``.
    """
    keep = [f for f in files.schema.fields if f.name != "content"]
    toks = F.filter(F.split("content", r"\s+"), lambda t: t != "")
    codes = F.transform(
        toks,
        lambda t: (
            F.abs(F.xxhash64(t, F.lit(seed))) % dim * 2 + F.abs(F.xxhash64(t, F.lit(seed), F.lit("sign"))) % 2
        ).cast("int"),
    )
    schema = StructType([*keep, StructField("vec", ArrayType(FloatType()), nullable=False)])

    def vectors(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            n, lists = b.num_rows, b.column("_codes")
            row = pc.list_parent_indices(lists).to_numpy()
            code = pc.list_flatten(lists).to_numpy()
            counts = np.bincount(row * 2 * dim + code, minlength=n * 2 * dim).reshape(n, dim, 2)
            # integer-valued doubles: no summation order can change a bit
            raw = (counts[..., 1] - counts[..., 0]).astype(np.float64)
            norm = np.sqrt((raw * raw).sum(axis=1, keepdims=True))
            vec = (raw / np.where(norm == 0.0, 1.0, norm)).astype(np.float32)
            offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
            cols = [b.column(f.name) for f in keep] + [pa.ListArray.from_arrays(offsets, pa.array(vec.ravel()))]
            yield pa.RecordBatch.from_arrays(cols, names=schema.fieldNames())

    return files.select(*(f.name for f in keep), codes.alias("_codes")).mapInArrow(vectors, schema)


def repos_to_points(repos: DataFrame, dim: int = DIM, seed: int = 42) -> DataFrame:
    """Full front-end: dedup → dense ids → featurize. Returns
    ``points(id, vec)``; also usable piecewise (dedup_files / dense_ids /
    featurize).

    Rows are numbered before they are featurized: ``RangePartitioner``
    samples its whole input in a job of its own, so the other order would
    run the Arrow kernel twice.
    """
    files = dense_ids(dedup_files(repos).select("sha256", "content"))
    return featurize(files.select("id", "content"), dim=dim, seed=seed)
