"""Checkpoint ownership for superstep loops, and resumable superstep state.

Every local checkpoint is pinned in a scope, which owns it::

    with checkpoints() as cp:
        state = cp.pin(first)                  # eager; eager=False is lazy
        for _ in range(rounds):
            state = cp.swap(step(state), state)
        return cp.keep(result(state))

``swap`` releases ``prev`` at once, and the end of the block (normal or by
exception) releases the rest — but only what the scope owns and no live
frame (a pin of an open scope of this thread, or a kept result) reads, found
by walking RDD dependencies from the frames' LogicalRDD leaves. What is still
read passes to the innermost open scope of the thread, or with none to the
caller (``release_local_checkpoint``). Scopes are per thread, and the
library itself runs no threads. ``SuperstepCheckpointer`` with a
``base_dir`` also writes each superstep as Parquet plus a ``meta.json`` (row
counts per partition, metrics), written after the data, so a killed run
resumes at ``latest()``.
"""

from __future__ import annotations

import json
import os
import threading
from dataclasses import dataclass, field
from typing import Any, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def realias(df: DataFrame) -> DataFrame:
    """Fresh exprIds for every column. localCheckpoint keeps the original
    attribute ids, so joining/cogrouping a frame with its own derivation
    trips Spark's ambiguous-self-join check; a trivial re-alias fixes it."""
    return df.select([F.col(c).alias(c) for c in df.columns])


def release_local_checkpoint(df: DataFrame | None) -> None:
    """Free the storage of a local checkpoint the caller owns."""
    try:
        rdd = _checkpoint_rdd(df)
        if rdd is not None:
            rdd.unpersist(False)
    except Exception:  # noqa: BLE001 — best-effort resource cleanup
        pass


def _checkpoint_rdd(df: DataFrame | None) -> Any:
    """The RDD behind ``df`` if ``df`` is a checkpoint, else None."""
    plan = df._jdf.queryExecution().analyzed() if df is not None else None
    return plan.rdd() if plan is not None and plan.getClass().getName().endswith("LogicalRDD") else None


_NO_ESTIMATE = (1 << 63) - 1  # Long.MaxValue: Spark's default sizeInBytes


def _local_checkpoint(df: DataFrame, eager: bool) -> DataFrame:
    """``df.localCheckpoint(eager)`` with its carried size estimate clamped to
    2^63−1: a join's estimate is the product of its children's, so looped
    checkpoint joins grow it tenfold in digits per level and stall planning."""
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


def _frames(obj: Any) -> list[DataFrame]:
    """The DataFrames in a result: a frame, or nested tuples/lists/dicts."""
    if isinstance(obj, DataFrame):
        return [obj]
    items = obj.values() if isinstance(obj, dict) else obj if isinstance(obj, (tuple, list)) else ()
    return [df for o in items for df in _frames(o)]


def _leaf_rdds(df: DataFrame) -> dict[int, Any]:
    """The RDDs of ``df``'s LogicalRDD leaves (a checkpoint is its own leaf)."""
    leaves, out = df._jdf.queryExecution().analyzed().collectLeaves().iterator(), {}
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getName().endswith("LogicalRDD"):
            rdd = leaf.rdd()
            out[rdd.id()] = rdd
    return out


def _reads(rdds: Iterable[Any]) -> set[int]:
    """Ids of the RDDs ``rdds`` read, themselves included, stopping at
    materialized checkpoints and at shuffles whose map output is complete
    (under AQE a lazy checkpoint runs its shuffle stages when taken)."""
    seen: set[int] = set()
    stack, tracker = list(rdds), None
    while stack:
        rdd = stack.pop()
        if rdd.id() in seen:
            continue
        seen.add(rdd.id())
        if rdd.isCheckpointed():
            continue
        deps = rdd.dependencies().iterator()
        while deps.hasNext():
            dep = deps.next()
            if dep.getClass().getSimpleName() == "ShuffleDependency":
                tracker = tracker or dep.rdd().context().env().mapOutputTracker()
                if tracker.getNumAvailableOutputs(dep.shuffleId()) >= dep.rdd().getNumPartitions():
                    continue
            stack.append(dep.rdd())
    return seen


class _Thread(threading.local):
    def __init__(self) -> None:
        self.scopes: list[checkpoints] = []  # open scopes, outermost first


_THREAD = _Thread()


def _live(scopes: list[checkpoints], results: Iterable[DataFrame] = ()) -> list[Any]:
    """RDDs of the live frames: the pins and kept results of ``scopes``."""
    frames = [*results, *(df for s in scopes for df in s._results)]
    return [r for s in scopes for r in s._pins.values()] + [r for df in frames for r in _leaf_rdds(df).values()]


class checkpoints:  # noqa: N801 — used as ``with checkpoints() as cp:``
    """A scope owning the local checkpoints pinned in it (see module doc)."""

    def __init__(self) -> None:
        self._pins: dict[int, Any] = {}  # RDD id → the checkpoint's JVM RDD
        self._results: list[DataFrame] = []

    def __enter__(self) -> checkpoints:
        _THREAD.scopes.append(self)
        return self

    def __exit__(self, *exc: Any) -> None:
        scopes = _THREAD.scopes
        scopes.pop()
        live = _reads(_live(scopes, self._results)) if self._pins else set()
        for rid in self._pins.keys() - live:
            self._pins.pop(rid).unpersist(False)
        if scopes:
            scopes[-1]._pins.update(self._pins)

    def pin(self, df: DataFrame, eager: bool = True) -> DataFrame:
        """Local checkpoint of ``df``, owned by this scope."""
        out = _local_checkpoint(df, eager)
        rdd = _checkpoint_rdd(out)
        self._pins[rdd.id()] = rdd
        return out

    def swap(self, new: DataFrame, prev: DataFrame | None) -> DataFrame:
        """``new`` (checkpointed eagerly unless already a pin of this scope
        or one inside it) replaces ``prev``, a checkpoint or plan over them."""
        scopes, rdd = _THREAD.scopes, _checkpoint_rdd(new)
        owner = next((s for s in scopes[scopes.index(self):] if rdd is not None and rdd.id() in s._pins), None)
        if owner is None:
            new = self.pin(new)
        else:
            self._pins[rdd.id()] = owner._pins.pop(rdd.id())
        self._release(prev)
        return new

    def keep(self, result: Any) -> Any:
        """Declare what this scope hands back; returns it unchanged."""
        self._results += _frames(result)
        return result

    def _release(self, df: DataFrame | None) -> None:
        mine = {rid: rdd for rid, rdd in _leaf_rdds(df).items() if rid in self._pins} if df is not None else {}
        live = _reads(r for r in _live(_THREAD.scopes) if r.id() not in mine) if mine else set()
        for rid in mine.keys() - live:
            self._pins.pop(rid).unpersist(False)


@dataclass
class SuperstepCheckpointer:
    base_dir: str | None
    name: str = "state"
    history: list[dict[str, Any]] = field(default_factory=list)

    def _dir(self, superstep: int) -> str:
        assert self.base_dir is not None
        return os.path.join(self.base_dir, self.name, f"superstep={superstep}")

    def _meta_path(self, superstep: int) -> str:
        # Next to, not inside, the parquet dir — a stray .json inside the
        # directory would break the parquet footer scan on load.
        assert self.base_dir is not None
        return os.path.join(self.base_dir, self.name, f"meta_{superstep}.json")

    def record(self, superstep: int, metrics: dict[str, Any] | None = None) -> None:
        """Append a superstep's metrics to ``history`` (``save`` does too)."""
        self.history.append({"superstep": superstep, **(metrics or {})})

    def save(
        self, df: DataFrame, superstep: int, metrics: dict[str, Any] | None = None,
        prev: DataFrame | None = None,
    ) -> DataFrame:
        """``df`` replaces ``prev`` as superstep state in the caller's scope:
        a ``swap``, or with a ``base_dir`` a write and read-back of ``df``."""
        scope = _THREAD.scopes[-1]
        self.record(superstep, metrics)
        if self.base_dir is None:
            return scope.swap(df, prev)
        path = self._dir(superstep)
        df.write.mode("overwrite").parquet(path)
        scope._release(df)
        scope._release(prev)
        out = df.sparkSession.read.parquet(path)
        per_part = out.groupBy(F.spark_partition_id().alias("pid")).count().orderBy("pid").collect()
        meta = {
            "superstep": superstep,
            "rows": int(sum(r["count"] for r in per_part)),
            "partitions": [{"pid": int(r["pid"]), "rows": int(r["count"])} for r in per_part],
            "metrics": metrics or {},
        }
        with open(self._meta_path(superstep), "w") as f:
            json.dump(meta, f)
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

    def resume(self, init: DataFrame, metrics: dict[str, Any] | None = None) -> tuple[DataFrame, int]:
        """(state, first superstep to run): the last complete superstep's
        state, or ``init`` saved as superstep 0."""
        start = self.latest()
        if start is None:
            return self.save(init, 0, metrics), 1
        return self.load(init.sparkSession, start), start + 1

    def load(self, spark: Any, superstep: int) -> DataFrame:
        """A complete superstep's saved state."""
        return spark.read.parquet(self._dir(superstep))

    def load_meta(self, superstep: int) -> dict[str, Any]:
        with open(self._meta_path(superstep)) as f:
            return json.load(f)
