"""What every workload reports back to the runner."""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Outcome:
    op_samples: list[float] = field(default_factory=list)  # latency of each timed operation (s)
    items: int = 0  # items carried through the throughput span
    items_busy_s: float = 0.0  # wall time of the throughput span (s)
    recall: float = 0.0  # recall@10 of the workload's served or built result
    gates: list[tuple[str, bool, str]] = field(default_factory=list)
    pass_ids: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0

    @property
    def correct(self) -> bool:
        return self.failed == 0 and all(ok for _, ok, _ in self.gates)

    def gate(self, name: str, errors: list[str]) -> None:
        """Record one correctness gate; a failed gate counts as a failed
        operation."""
        ok = not errors
        self.gates.append((name, ok, "; ".join(errors[:5])))
        self.attempted += 1
        self.failed += 0 if ok else 1


def compare(expected: dict, got: dict) -> list[str]:
    """Exact comparison of named outputs; one message per mismatch."""
    return [f"{k}: expected {expected[k]!r}, got {got.get(k)!r}" for k in expected if got.get(k) != expected[k]]


class Workload:
    """Protocol the runner drives: ``setup()`` ``setup_reps`` times (each
    builds the state from scratch), ``run_pass()`` until the run's time is
    up, ``finish()`` once (untimed gates), ``ratios()`` in the traced run."""

    setup_reps = 1
    op_label = "operation"
    items_label = "items"

    def __init__(self, spark, tracer, seed: int, cpus: int, run_dir: str, toy: bool):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.cpus = cpus
        self.run_dir = run_dir
        self.toy = toy
        self.outcome = Outcome()

    def setup(self) -> None:
        raise NotImplementedError

    def run_pass(self, pass_id: str, tracer) -> None:
        raise NotImplementedError

    def finish(self, tracer) -> None:
        pass

    def ratios(self, tracer) -> dict[str, float]:
        return {}

    def corrupt_check(self) -> bool:
        """Smoke mode: True when a deliberately corrupted copy of this
        workload's last output fails its gate."""
        raise NotImplementedError
