#!/usr/bin/env python3
"""gp_ann_spark benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout (the library is imported from
there). Workloads (see perfbench/NOTES.md for why each was chosen):

- ``pipeline_sf0.1``: the ten-stage headline pass on the bundled sf0.1
  fixture (2,000 points, 5,000 docs);
- ``serve``: closed-loop, one-client batched query serving against a
  k-means-partitioned, tree-routed synthetic index;
- ``corpus_graph``: generated repos → points → approximate k-NN link graph
  → CC / PageRank / triangles, then incremental ``ingest_stream``
  micro-batches into a pre-seeded sink.

With ``--trace 0`` the result carries the end-to-end metrics, measured with
tracing off; ``--trace 1`` is a separate traced run that carries the
per-layer metrics (see perfbench/trace.py). ``--smoke`` runs every workload
at toy size and asserts that every named metric prints with its unit and
that a corrupted output trips its gate.

Everything the run writes stays under ``.perfbench_work/`` in the checkout.
The last line of stdout is the JSON result; every other line starts "# ".
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench_work")
RATIOS = (  # useful-to-attempted ratios, one per layer that can waste work
    "partition.cut_ratio",
    "routing.first_shard_recall",
    "corpus.unique_ratio",
    "knn_approx.edge_recall",
    "streaming.write_amplification",
)
WORKLOADS = ("pipeline_sf0.1", "corpus_graph")
# a pass is not started once the run is this old and the last pass would
# overrun it; keeps every run well inside the 180 s limit
RUN_BUDGET_S = 150.0


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ------------------------------------------------------------- environment
def driver_memory_mb() -> int:
    """A quarter of the box's RAM, at most 4 GiB: local mode runs every
    task inside the driver JVM, and the box is shared."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return max(1024, min(4096, total_kb // 1024 // 4))


def prepare_env(run_dir: str) -> dict[str, str]:
    """Pin the environment: library defaults as shipped (every inherited
    SPARK_GRAFT_* knob is dropped), driver memory sized to the box, scratch
    space inside the checkout."""
    dropped = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    for k in dropped:
        del os.environ[k]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        # Python workers import the library from the checkout too
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_memory_mb()}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
    }
    os.environ.update(pinned)
    if dropped:
        log(f"dropped inherited knobs: {', '.join(dropped)}")
    return pinned


def git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return "unknown (not a git checkout)"


def start_spark(cpus: int, run_dir: str, trace: bool):
    from gp_ann_spark.session import get_spark

    extra = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        extra.update(
            {
                "spark.sql.pyspark.udf.profiler": "perf",
                # keep every job/stage of the run for span attribution
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
            }
        )
    return get_spark("gp_ann_perfbench", master=f"local[{cpus}]", extra_conf=extra)


def print_environment(spark, cpus: int, pinned: dict[str, str]) -> None:
    import pyspark

    conf = spark.conf
    log(f"nproc={cpus} master={spark.sparkContext.master} loadavg_before={os.getloadavg()}")
    log(f"spark={pyspark.__version__} python={platform.python_version()} commit={git_commit()}")
    log(f"driver_memory={pinned['SPARK_GRAFT_DRIVER_MEM']}")
    log(
        "aqe.advisoryPartitionSizeInBytes="
        + conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        + " aqe.coalescePartitions.parallelismFirst="
        + conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst")
        + " arrow.maxRecordsPerBatch="
        + conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    )


# --------------------------------------------------------------- processes
def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(d))
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        kb = next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
    return kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, end the driver JVM and wait until it and every
    process it started (Python workers) have exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    others = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    while any(_alive(p) for p in others) and time.time() < deadline:
        time.sleep(0.1)
    for p in others:
        if _alive(p):
            os.kill(p, 9)


# ---------------------------------------------------------------- metrics
def end_to_end(outcome, setup_s: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "op_s": statistics.median(outcome.op_samples),
        "items_per_s": outcome.items / outcome.items_busy_s,
        "recall_at_10": outcome.recall,
    }


def per_layer(tracer, wl, outcome, values: dict[str, float], rss_mb: float) -> dict[str, float]:
    """The traced run's metrics: layer rollups over the timed passes, the
    workload's ratios (0 for a layer it leaves out), its own op_s and the
    driver JVM's peak RSS."""
    tracer.attribute()
    layer = tracer.layer_metrics(outcome.pass_ids)
    layer.update({r: 0.0 for r in RATIOS})
    layer.update(wl.ratios(tracer))
    layer["trace.op_s"] = values["op_s"]
    layer["driver.peak_rss_mb"] = rss_mb
    return layer


def result_line(spec: dict, trace: bool, values: dict[str, float], correct: bool, attempted: int, failed: int) -> str:
    names = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in names}
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics})


# ------------------------------------------------------------------- run
def make_workload(name: str, spark, tracer, seed: int, cpus: int, run_dir: str, toy: bool):
    if name == "pipeline_sf0.1":
        from perfbench.workloads.pipeline import Pipeline

        return Pipeline(spark, tracer, seed, cpus, run_dir, toy)
    if name == "corpus_graph":
        from perfbench.workloads.corpus_graph import CorpusGraph

        return CorpusGraph(spark, tracer, seed, cpus, run_dir, toy)
    raise ValueError(f"unknown workload {name!r}; choose one of {WORKLOADS}")


def run_workload(wl, tracer, seconds: float, t_session: float):
    """Set up ``wl.setup_reps`` times, then run timed passes for ``seconds``
    (at least one). Returns (outcome, setup_s)."""
    setup_reps = []
    for r in range(wl.setup_reps):
        t0 = time.time()
        with tracer.span(None, "setup", pass_id=f"setup-{r}"):
            wl.setup()
        setup_reps.append(time.time() - t0)
    setup_s = t_session + statistics.median(setup_reps)
    log(
        f"setup_s={setup_s:.3f} (session {t_session:.3f} s + median of "
        f"{len(setup_reps)} set-ups {[round(x, 3) for x in setup_reps]})"
    )
    t_start = time.time()
    last = 0.0
    i = 0
    while True:
        t0 = time.time()
        wl.run_pass(str(i), tracer)
        last = time.time() - t0
        i += 1
        now = time.time()
        if now - t_start >= seconds or now - T_PROCESS + last > RUN_BUDGET_S:
            break
    wl.finish(tracer)
    return wl.outcome, setup_s


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="toy-size self-check of every workload")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required")

    spec = load_spec()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    pinned = prepare_env(run_dir)
    sys.path.insert(0, ROOT)
    try:
        import gp_ann_spark
    except ImportError as e:
        print(f"perfbench: cannot import the library from {ROOT}: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(gp_ann_spark.__file__))) != ROOT:
        print(f"perfbench: gp_ann_spark resolved outside the checkout: {gp_ann_spark.__file__}", file=sys.stderr)
        return 2

    from perfbench.trace import Tracer

    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    trace = bool(args.trace) or args.smoke
    spark = start_spark(cpus, run_dir, trace)
    try:
        t_session = time.time() - T_PROCESS
        print_environment(spark, cpus, pinned)
        tracer = Tracer(spark, trace, run_dir)
        if args.smoke:
            from perfbench.smoke import smoke

            return smoke(spec, spark, cpus, run_dir)
        wl = make_workload(args.workload, spark, tracer, args.seed, cpus, run_dir, toy=False)
        outcome, setup_s = run_workload(wl, tracer, args.seconds, t_session)
        rss = jvm_peak_rss_mb(spark)
        values = end_to_end(outcome, setup_s)
        log(
            f"op = {wl.op_label}: median {values['op_s']:.3f} s over {len(outcome.op_samples)} samples "
            f"{[round(x, 3) for x in outcome.op_samples]}; items_per_s {values['items_per_s']:.2f} "
            f"({outcome.items} {wl.items_label} in {outcome.items_busy_s:.3f} s)"
        )
        for g in outcome.gates:
            log(f"gate {g[0]}: {'ok' if g[1] else 'FAILED'} {g[2]}")
        stamp = os.path.join(WORK, f"last-untraced-{args.workload}-{args.seed}.json")
        if args.trace:
            out_values = per_layer(tracer, wl, outcome, values, rss)
            trace_path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
            tracer.write(trace_path)
            log(f"{len(tracer.spans)} spans written to {os.path.relpath(trace_path, ROOT)}")
            for lay, row in sorted(tracer.layer_summary("setup").items()):
                log(f"set-up layer {lay}: wall {row['wall_s']:.3f} s, {row['jobs']} jobs")
            if os.path.exists(stamp):
                with open(stamp) as fh:
                    base = json.load(fh)["op_s"]
                log(
                    f"tracing overhead: op_s traced {values['op_s']:.3f} s - untraced "
                    f"{base:.3f} s = {values['op_s'] - base:+.3f} s"
                )
            else:
                log("tracing overhead: no untraced run of this workload and seed in this checkout yet")
        else:
            with open(stamp, "w") as fh:
                json.dump(values, fh)
            out_values = values
        log(f"driver JVM peak RSS (VmHWM) {rss:.1f} MB; loadavg_after={os.getloadavg()}")
        line = result_line(spec, bool(args.trace), out_values, outcome.correct, outcome.attempted, outcome.failed)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
