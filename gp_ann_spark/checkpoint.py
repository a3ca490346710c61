"""Superstep checkpointing with per-partition lineage + metrics, resumable.

north_rule: iterative graph algorithms must be "resumable from checkpoint
with per-partition lineage + metrics". Each superstep of an iterative
algorithm writes its state DataFrame as Parquet under
``<dir>/<name>/superstep=<t>/`` plus a ``meta.json`` recording row count,
per-partition row counts (the lineage of which partition produced what), and
algorithm metrics (delta, changed-count, ...). ``latest()`` finds the last
*complete* superstep (meta written after data), so a killed run resumes
exactly where it stopped.

Checkpointing also truncates Spark lineage — without it, iterative
DataFrame loops accumulate a plan per superstep and the optimizer chokes
(SURVEY.md §7 "iterative-loop lineage blowup").
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def realias(df: DataFrame) -> DataFrame:
    """Fresh exprIds for every column. localCheckpoint keeps the original
    attribute ids, so joining/cogrouping a frame with its own derivation
    trips Spark's ambiguous-self-join check; a trivial re-alias fixes it."""
    from pyspark.sql import functions as F

    return df.select([F.col(c).alias(c) for c in df.columns])


def release_local_checkpoint(df: DataFrame | None) -> None:
    """Free the storage of a localCheckpoint'ed DataFrame.

    Iterative loops create one checkpoint per superstep; without explicit
    release the cached RDD blocks accumulate until the context cleaner
    eventually notices, and long loops degrade badly under the memory
    pressure. Safe to call once the successor state is materialized.
    """
    if df is None:
        return
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith("LogicalRDD"):
            plan.rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — best-effort resource cleanup
        pass


_NO_ESTIMATE = (1 << 63) - 1  # Long.MaxValue: Spark's default sizeInBytes


def local_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` with its carried size estimate clamped.

    A local checkpoint keeps its source plan's ``sizeInBytes`` estimate,
    and Catalyst estimates a join as the product of its children's
    estimates, so a loop that joins checkpoint against checkpoint grows the
    estimate's digit count about tenfold per level (7 → 92 → 1,028 →
    11,323 → 124,574 digits over four LP-coarsening levels); the BigInteger
    products then stall the driver inside planning. An estimate above
    2^63−1 is replaced by Spark's own "no estimate" value (the session's
    default size, 2^63−1); smaller ones are kept, so static plan choices
    such as broadcast joins do not move.
    """
    out = df.localCheckpoint(eager=eager)
    plan = out._jdf.queryExecution().analyzed()
    if plan.stats().sizeInBytes() <= _NO_ESTIMATE:
        return out
    jvm = df.sparkSession._jvm
    session, _, constraints = (plan.otherCopyArgs().apply(i) for i in range(3))
    clamped = plan.copy(
        plan.output(), plan.rdd(), plan.outputPartitioning(), plan.outputOrdering(),
        plan.isStreaming(), plan.stream(), session, jvm.scala.Option.apply(None), constraints,
    )
    return type(out)(jvm.org.apache.spark.sql.classic.Dataset.ofRows(session, clamped), out.sparkSession)


def swap_checkpoint(new_df: DataFrame, prev_df: DataFrame | None = None) -> DataFrame:
    """Materialize ``new_df`` as a localCheckpoint, then release ``prev_df``.

    The standard superstep state swap: lineage truncated, old blocks freed,
    bounded memory no matter how many supersteps run. The checkpoint's
    size estimate is clamped as in ``local_checkpoint``.
    """
    out = local_checkpoint(new_df, eager=True)
    release_local_checkpoint(prev_df)
    return out


@dataclass
class SuperstepCheckpointer:
    base_dir: str | None
    name: str = "state"
    history: list[dict[str, Any]] = field(default_factory=list)
    _prev: DataFrame | None = None

    def _dir(self, superstep: int) -> str:
        assert self.base_dir is not None
        return os.path.join(self.base_dir, self.name, f"superstep={superstep}")

    def _meta_path(self, superstep: int) -> str:
        # Next to, not inside, the parquet dir — a stray .json inside the
        # directory would break the parquet footer scan on load.
        assert self.base_dir is not None
        return os.path.join(self.base_dir, self.name, f"meta_{superstep}.json")

    def save(
        self, df: DataFrame, superstep: int, metrics: dict[str, Any] | None = None,
        materialized: bool = False,
    ) -> DataFrame:
        """Persist superstep state; returns the (lineage-truncated) state.

        With no ``base_dir``: ``localCheckpoint`` only (lineage truncation,
        no resumability) — the fast path for tests/bench.

        ``materialized``: ``df`` is a local checkpoint the caller has
        already materialized (e.g. by counting it). It becomes the state as
        is instead of being copied again; with ``base_dir`` it is written
        out and then released.
        """
        if self.base_dir is None:
            if materialized:
                out = df
                release_local_checkpoint(self._prev)
            else:
                out = swap_checkpoint(df, self._prev)
            self._prev = out
            self.history.append({"superstep": superstep, **(metrics or {})})
            return out
        path = self._dir(superstep)
        df.write.mode("overwrite").parquet(path)
        if materialized:
            release_local_checkpoint(df)
        out = df.sparkSession.read.parquet(path)
        per_part = (
            out.groupBy(F.spark_partition_id().alias("pid")).count().orderBy("pid").collect()
        )
        meta = {
            "superstep": superstep,
            "rows": int(sum(r["count"] for r in per_part)),
            "partitions": [{"pid": int(r["pid"]), "rows": int(r["count"])} for r in per_part],
            "metrics": metrics or {},
        }
        with open(self._meta_path(superstep), "w") as f:
            json.dump(meta, f)
        self.history.append({"superstep": superstep, **(metrics or {})})
        return out

    def latest(self) -> int | None:
        """Last superstep with a complete (meta.json present) checkpoint."""
        if self.base_dir is None:
            return None
        root = os.path.join(self.base_dir, self.name)
        if not os.path.isdir(root):
            return None
        done = [
            int(f[len("meta_") : -len(".json")])
            for f in os.listdir(root)
            if f.startswith("meta_") and f.endswith(".json")
        ]
        return max(done) if done else None

    def load(self, spark: SparkSession, superstep: int) -> DataFrame:
        return spark.read.parquet(self._dir(superstep))

    def load_meta(self, superstep: int) -> dict[str, Any]:
        with open(self._meta_path(superstep)) as f:
            return json.load(f)
