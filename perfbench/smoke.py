"""Toy-size self-check of the benchmark (``run.py --smoke``).

Runs every workload at toy size with tracing on, then asserts that

- every end-to-end and every per-layer metric named in BENCHMARK.json is
  produced with its unit and a finite value (end-to-end values also > 0);
- the run's own outputs pass their correctness gates;
- a deliberately corrupted copy of an output trips its gate.

The pipeline fixture subset has no recorded baseline, so in toy mode the
first pass's outputs stand in for it.
"""

from __future__ import annotations

import json
import math

from perfbench import run as RUN
from perfbench.trace import Tracer


def check_line(spec: dict, trace: bool, values: dict, outcome) -> list[str]:
    line = json.loads(RUN.result_line(spec, trace, values, outcome.correct, outcome.attempted, outcome.failed))
    problems = []
    if set(line) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(line)}")
    for m in spec["per_layer" if trace else "end_to_end"]:
        got = line["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"]:
            problems.append(f"{m['name']}: missing or wrong unit ({got})")
        elif not math.isfinite(got["value"]) or (not trace and got["value"] <= 0):
            problems.append(f"{m['name']}: bad value {got['value']}")
    return problems


def smoke(spec: dict, spark, cpus: int, run_dir: str) -> int:
    problems: list[str] = []
    for name in RUN.WORKLOADS:
        tracer = Tracer(spark, True, run_dir)
        wl = RUN.make_workload(name, spark, tracer, 7, cpus, run_dir, toy=True)
        outcome, setup_s = RUN.run_workload(wl, tracer, seconds=0.0, t_session=0.0)
        values = RUN.end_to_end(outcome, setup_s)
        layer = RUN.per_layer(tracer, wl, outcome, values, RUN.jvm_peak_rss_mb(spark))
        found = check_line(spec, False, values, outcome) + check_line(spec, True, layer, outcome)
        if not outcome.correct:
            found.append(f"gates failed on clean output: {[g for g in outcome.gates if not g[1]]}")
        if sum(layer[f"{l}.jobs"] for l in ("knn", "graph", "partition", "streaming")) == 0:
            found.append("no Spark job was attributed to any span")
        if not wl.corrupt_check():
            found.append("a corrupted output did not trip its gate")
        RUN.log(f"smoke {name}: {'ok' if not found else 'FAILED'}")
        problems += [f"{name}: {p}" for p in found]
    for p in problems:
        RUN.log(p)
    print(json.dumps({"smoke": "ok" if not problems else "failed", "problems": len(problems)}), flush=True)
    return 0 if not problems else 1
