"""Corpus ingest: repos → sha256-dedup'd files → deterministic point vectors.

Pipeline (BASELINE.json ``input_hint`` / SURVEY.md §1):

    repos(repo, path, commit, lang, content)
      → sha2(content, 256) dedup                      [exact dedup]
      → dense vertex ids (deterministic, scalable)    [replaces positional ids]
      → hash-ngram featurizer                         [replaces .fbin readers]
      → points(id BIGINT, vec ARRAY<FLOAT>)

Per-row invariant vs the reference harness: content sha256 equality
(tested against a hashlib oracle). The featurizer is a *pure Catalyst*
program — token hashing via ``xxhash64`` (JVM-side), sparse accumulation via
groupBy, dense assembly via ``transform(sequence(...))`` — so it is
deterministic, partition-independent, and shuffles exactly once per stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gp_ann_spark.checkpoint import checkpoints
from gp_ann_spark.functions.windows import bounded_global_window

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


def dense_ids(df: DataFrame, order_col: str = "sha256", scalable: bool = True) -> DataFrame:
    """Assign dense ids 0..n-1 ordered by ``order_col`` (FIXTURES.md: id =
    dense rank over distinct sha256).

    Two strategies:

    - ``scalable=True`` (default): range-repartition by the key, count rows
      per partition, broadcast the prefix-sum offsets, add per-partition local
      ranks — two narrow passes, no single-partition global sort. This is the
      pattern that survives 10^12 rows.
    - ``scalable=False``: a plain global ``row_number`` window (small inputs /
      oracle comparisons).
    """
    if not scalable:
        w = bounded_global_window(order_col)  # explicitly small-n path
        return df.withColumn("id", F.row_number().over(w).cast("long") - 1)

    n_parts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    parted = df.repartitionByRange(n_parts, F.col(order_col)).sortWithinPartitions(order_col)
    # Materialize ONCE before branching: repartitionByRange samples its
    # boundaries per evaluation, so the counts pass and the rank pass would
    # otherwise see different partition layouts (dropping/duplicating rows
    # in the offset join). At extreme scale swap localCheckpoint for a
    # parquet/Iceberg checkpoint — the barrier is what matters.
    with checkpoints() as cp:
        with_pid = cp.pin(parted.withColumn("_pid", F.spark_partition_id()))
        # Small aggregate (one row per partition) → broadcast prefix sums.
        counts = with_pid.groupBy("_pid").count()
        offsets = counts.withColumn(
            "_offset",
            F.coalesce(
                F.sum("count").over(bounded_global_window("_pid").rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        ).select("_pid", "_offset")
        local_rank = F.row_number().over(Window.partitionBy("_pid").orderBy(order_col)).cast("long") - 1
        return cp.keep(
            with_pid.withColumn("_local", local_rank)
            .join(F.broadcast(offsets), "_pid")
            .withColumn("id", (F.col("_offset") + F.col("_local")).cast("long"))
            .drop("_pid", "_local", "_offset")
        )


def featurize(files: DataFrame, dim: int = DIM, seed: int = 42) -> DataFrame:
    """Hash-ngram projection: content → float32 vector of length ``dim``.

    For each whitespace token t: bucket = xxhash64(t, seed) mod dim,
    sign = ±1 from a second hash; vec[bucket] += sign; then L2-normalize.
    Pure DataFrame program (explode → groupBy → dense assembly): token
    hashing happens JVM-side in whole-stage codegen; the only shuffle is the
    (id, bucket) partial-aggregated groupBy. Each row's norm is computed
    once, in a ``select`` before the normalizing ``transform``.

    Replaces the reference's point readers (points_io.cpp:14-111) as the
    source of ``points(id, vec)``.
    """
    toks = files.select("id", F.explode(F.split(F.col("content"), r"\s+")).alias("tok")).where(F.col("tok") != "")
    buckets = toks.select(
        "id",
        (F.abs(F.xxhash64("tok", F.lit(seed))) % dim).cast("int").alias("bucket"),
        (F.abs(F.xxhash64("tok", F.lit(seed), F.lit("sign"))) % 2 * 2 - 1).cast("double").alias("sign"),
    )
    sparse = buckets.groupBy("id", "bucket").agg(F.sum("sign").alias("val"))
    as_map = sparse.groupBy("id").agg(F.map_from_entries(F.collect_list(F.struct("bucket", "val"))).alias("m"))
    dense = as_map.select(
        "id",
        F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), lambda i: F.coalesce(F.col("m")[i], F.lit(0.0))).alias("raw"),
    )
    # the norm is its own column, computed once per row: written inside the
    # transform lambda it would be re-aggregated for every one of the dim
    # elements (Catalyst shares no subexpression with a lambda body)
    normed = dense.select(
        "id", "raw", F.sqrt(F.aggregate("raw", F.lit(0.0), lambda acc, v: acc + v * v)).alias("_norm")
    )
    norm = F.col("_norm")
    feat = normed.select(
        "id",
        F.transform("raw", lambda v: (v / F.when(norm == 0.0, 1.0).otherwise(norm)).cast("float")).alias("vec"),
    )
    # TOTAL over the input: a document with zero non-whitespace tokens
    # (empty __init__.py, .gitkeep) has no explode rows and would silently
    # vanish — the streaming sink's committed-row-count == next_id
    # invariant (torn-append detection) and the batch id assignment both
    # assume one point row per input row. Such docs get the zero vector.
    zero = F.array(*[F.lit(0.0).cast("float") for _ in range(dim)])
    return (
        files.select("id")
        .join(feat, "id", "left")
        .select("id", F.coalesce("vec", zero).alias("vec"))
    )


def repos_to_points(repos: DataFrame, dim: int = DIM, seed: int = 42) -> DataFrame:
    """Full front-end: dedup → dense ids → featurize. Returns
    ``points(id, vec)``; also usable piecewise (dedup_files / dense_ids).

    dense ids are assigned on the *narrow* (sha256-only) projection — the
    materialization barrier inside ``dense_ids`` then touches ~70 B/row
    instead of hauling full contents; contents rejoin via one hash-shuffle
    on sha256 (uniform key, scales linearly).
    """
    files = dedup_files(repos)
    ids = dense_ids(files.select("sha256"), "sha256")
    with_ids = files.select("sha256", "content").join(ids, "sha256")
    return featurize(with_ids, dim=dim, seed=seed)
