"""Spans around the benchmark's calls into library layers, and the Spark
work attributed to them.

A span is opened by the benchmark itself around one call into a library
module (``with tracer.span("partition", "graph_partition"):``). It records
name, layer, start, end, parent and pass id, and stays in memory until the
run ends. Nothing inside the library is instrumented.

Spark jobs and stages are attributed to spans by **submission time**: a job
belongs to the innermost span whose [start, end] window contains its
submission time. Job groups are thread-local, so jobs submitted from a
``foreachBatch`` thread (streaming) or a thread pool (the routing sweep)
would be missed by a group lookup, and ``getJobIdsForGroup`` accumulates
across reuse of a group name. The benchmark issues its layer calls one at a
time from the main thread, so sibling span windows never overlap.

Python time inside Arrow UDFs comes from Spark 4's UDF profiler
(``spark.sql.pyspark.udf.profiler=perf``): the accumulated cProfile totals
are drained at every span boundary and charged to the innermost open span.
"""

from __future__ import annotations

import bisect
import json
import os
import pstats
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# Library modules the benchmark calls into; per-layer metric names use them.
LAYERS = (
    "corpus",
    "knn",
    "knn_approx",
    "graph",
    "partition",
    "routing",
    "search",
    "sweep",
    "recall",
    "dedup",
    "text_analysis",
    "streaming",
)
LAYER_FIELDS = ("wall_s", "driver_s", "jobs", "tasks", "executor_s", "shuffle_mb", "python_s")


@dataclass
class Span:
    sid: int
    name: str
    layer: str | None
    pass_id: str
    parent: int | None
    start: float
    end: float = 0.0
    python_s: float = 0.0
    # filled by attribute()
    jobs: int = 0
    tasks: int = 0
    executor_s: float = 0.0
    shuffle_mb: float = 0.0
    output_mb: float = 0.0
    job_busy_s: float = 0.0
    children: list[int] = field(default_factory=list)


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op, so
    the untraced run pays nothing but a context-manager call."""

    def __init__(self, spark, enabled: bool, work_dir: str):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._profile_dir = os.path.join(work_dir, "udf-profiles")

    @contextmanager
    def span(self, layer: str | None, name: str, pass_id: str | None = None):
        if not self.enabled:
            yield
            return
        if layer is not None and layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        self._charge_python()
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            sid=len(self.spans),
            name=name,
            layer=layer,
            pass_id=pass_id if pass_id is not None else (parent.pass_id if parent else "-"),
            parent=parent.sid if parent else None,
            start=time.time(),
        )
        if parent:
            parent.children.append(sp.sid)
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield
        finally:
            self._charge_python()
            sp.end = time.time()
            self._stack.pop()

    def _charge_python(self) -> None:
        """Move the UDF profiler's accumulated time onto the innermost open
        span and clear it."""
        if not self._stack:
            self._drain_python()
            return
        self._stack[-1].python_s += self._drain_python()

    def _drain_python(self) -> float:
        prof = self.spark.profile
        shutil.rmtree(self._profile_dir, ignore_errors=True)
        prof.dump(self._profile_dir, type="perf")
        total = 0.0
        if os.path.isdir(self._profile_dir):
            for f in os.listdir(self._profile_dir):
                if f.endswith(".pstats"):
                    total += pstats.Stats(os.path.join(self._profile_dir, f)).total_tt
        prof.clear(type="perf")
        return total

    # ------------------------------------------------------------ attribution
    def attribute(self) -> None:
        """Read every job and stage from Spark's status store and charge it
        to the innermost span whose window holds its submission time."""
        if not self.enabled or not self.spans:
            return
        sc = self.spark.sparkContext
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        jobs = as_java(store.jobsList(None))
        stages = as_java(
            store.stageList(None, False, False, sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
        )
        # innermost span lookup: spans sorted by start; deeper spans start
        # later than their ancestors, so the last span starting before t
        # that is still open at t is the innermost
        order = sorted(self.spans, key=lambda s: s.start)
        starts = [s.start for s in order]

        def owner(t: float) -> Span | None:
            i = bisect.bisect_right(starts, t) - 1
            while i >= 0:
                s = order[i]
                if s.start <= t <= s.end:
                    return s
                i -= 1
            return None

        intervals: dict[int, list[tuple[float, float]]] = {}
        for job in jobs:
            sub = job.submissionTime()
            if sub.isEmpty():
                continue
            t0 = sub.get().getTime() / 1000.0
            sp = owner(t0)
            if sp is None:
                continue
            done = job.completionTime()
            t1 = done.get().getTime() / 1000.0 if not done.isEmpty() else sp.end
            sp.jobs += 1
            intervals.setdefault(sp.sid, []).append((max(t0, sp.start), min(t1, sp.end)))
        for st in stages:
            sub = st.submissionTime()
            if sub.isEmpty() or str(st.status()) == "SKIPPED":
                continue
            sp = owner(sub.get().getTime() / 1000.0)
            if sp is None:
                continue
            sp.tasks += int(st.numCompleteTasks())
            sp.executor_s += st.executorRunTime() / 1000.0
            sp.shuffle_mb += st.shuffleWriteBytes() / 1e6
            sp.output_mb += st.outputBytes() / 1e6
        for sid, ivs in intervals.items():
            self.spans[sid].job_busy_s = _union_length(ivs)

    # --------------------------------------------------------------- rollups
    def self_wall(self, sp: Span) -> float:
        return (sp.end - sp.start) - sum(
            self.spans[c].end - self.spans[c].start for c in sp.children
        )

    def layer_metrics(self, pass_ids: list[str]) -> dict[str, float]:
        """Per layer, the seven fields summed over each pass's spans, then
        the median over passes."""
        per_pass: dict[str, dict[str, float]] = {
            p: {f"{l}.{f}": 0.0 for l in LAYERS for f in LAYER_FIELDS} for p in pass_ids
        }
        for sp in self.spans:
            if sp.layer is None or sp.pass_id not in per_pass:
                continue
            row = per_pass[sp.pass_id]
            wall = self.self_wall(sp)
            row[f"{sp.layer}.wall_s"] += wall
            row[f"{sp.layer}.driver_s"] += max(0.0, wall - sp.job_busy_s)
            row[f"{sp.layer}.jobs"] += sp.jobs
            row[f"{sp.layer}.tasks"] += sp.tasks
            row[f"{sp.layer}.executor_s"] += sp.executor_s
            row[f"{sp.layer}.shuffle_mb"] += sp.shuffle_mb
            row[f"{sp.layer}.python_s"] += sp.python_s
        keys = [f"{l}.{f}" for l in LAYERS for f in LAYER_FIELDS]
        if not per_pass:
            return {k: 0.0 for k in keys}
        return {k: statistics.median(per_pass[p][k] for p in pass_ids) for k in keys}

    def output_mb(self, layer: str, pass_ids: list[str]) -> float:
        """Bytes committed by output stages of one layer over the given
        passes (MB)."""
        return sum(
            sp.output_mb for sp in self.spans if sp.layer == layer and sp.pass_id in pass_ids
        )

    def layer_summary(self, pass_prefix: str) -> dict[str, dict[str, float]]:
        """wall/jobs per layer summed over every span whose pass id starts
        with ``pass_prefix`` (the set-up report)."""
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            if sp.layer is None or not sp.pass_id.startswith(pass_prefix):
                continue
            row = out.setdefault(sp.layer, {"wall_s": 0.0, "jobs": 0})
            row["wall_s"] += self.self_wall(sp)
            row["jobs"] += sp.jobs
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
