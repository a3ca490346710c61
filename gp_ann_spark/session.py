"""SparkSession factory with engine defaults.

Single place where scale-relevant knobs live. Tested on ``local[N]``; the
same settings are what we would submit with ``spark-submit --py-files`` on a
real cluster (AQE, Arrow, adaptive skew-join handling).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` if set, else half
    the box's RAM (``MemTotal``), at most 48g. In local mode every task runs
    inside the driver JVM, and a heap the size of a shared box gets the
    process killed as the heap grows toward it."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    with open(meminfo) as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{min(48 << 10, total_kb // 1024 // 2)}m"


# Defaults chosen for the sandbox (local[32]). On a real cluster the same
# config is passed via spark-submit; shuffle partitions should be set to
# ~2-3x total cores there.
_ENGINE_CONF = {
    # AQE: runtime coalescing of small shuffle partitions, skew-join split.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Derive the post-shuffle partition count from DATA SIZE, not from the
    # core count: with parallelismFirst=true (the default) AQE pads tiny
    # shuffles out to default parallelism, so every superstep/window of an
    # iterative job schedules N nearly-empty tasks. False makes AQE honor
    # advisoryPartitionSizeInBytes both ways — KB-sized shuffles collapse to
    # one task (the latency floor of iterative graph/routing queries at
    # small scale), larger shuffles fan out by bytes — the scale-adaptive
    # sizing guide §2.2 asks for. The LOCAL default advisory is 8 MB, sized
    # for this single-node 2–32-core sandbox: small enough that the
    # scaling-bench's few-hundred-MB shuffles still spread across all
    # cores (measured: 64 MB here serialized the pagerank reduce sides and
    # broke the N→4N ≥0.8 contract), large enough that the
    # KB-scale bench shuffles stay at 1–2 tasks. A real cluster should set
    # SPARK_GRAFT_ADVISORY_PARTITION_BYTES to 128–256m so 100 TB shuffles
    # produce 100 MB+ partitions (guide §2.2) instead of millions of 8 MB
    # ones.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": os.environ.get(
        "SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "8m"
    ),
    # Arrow for every pandas UDF / applyInPandas hop.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Broadcast threshold: centroid/leader/routing tables are small dims.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Shuffled-hash over sort-merge: superstep joins (ranks ⋈ edges) would
    # otherwise re-SORT the full edge table every iteration; hashing the
    # small vertex-state side is strictly cheaper for our join shapes.
    "spark.sql.join.preferSortMergeJoin": "false",
    # Quiet progress bars in test output.
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
    # local mode: the driver JVM IS the executor — give it real heap
    # (only effective for the first session of a process; harness runs
    # each parallelism level in its own subprocess).
    "spark.driver.memory": driver_memory(),
    "spark.driver.maxResultSize": "8g",
}


def get_spark(
    app_name: str = "gp_ann_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32);
    ``shuffle_partitions`` defaults to the core count — on a real cluster
    pass explicit values.
    """
    # One BLAS thread per Python worker: Spark already runs one worker per
    # core, so letting OpenBLAS spawn its own thread pool inside each worker
    # oversubscribes the box N× and wrecks Arrow-UDF scaling.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N shuffle partitions keeps every core busy without
        # flooding tiny test inputs with empty tasks.
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "8"
        shuffle_partitions = 32 if inner == "*" else int(inner)

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_ENGINE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf["spark.default.parallelism"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
