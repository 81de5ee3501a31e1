"""Shared helpers: percentiles, disk and memory readings, the workload
base class and the result record every workload fills in."""

from __future__ import annotations

import os
from dataclasses import dataclass, field


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]) of a non-empty
    list; the median is ``percentile(v, 50)``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process from /proc (VmHWM), in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Workload:
    """What every workload shares: the session, the tracer, its work
    directory and seed."""

    def __init__(self, spark, tracer, work: str, seed: int, smoke: bool):
        """``smoke`` asks for tiny inputs (the benchmark's own tests)."""
        self.spark = spark
        self.tr = tracer
        self.work = work
        self.seed = seed

    def prepare(self) -> None:
        """Generate inputs and preload them (part of set-up)."""

    def patch(self) -> None:
        """Wrap the layers' public functions with span recorders (traced
        run only; Tracer.patch is a no-op otherwise)."""


@dataclass
class Result:
    """What a workload reports: its round and op latencies, row and op
    counts over the timed window, failures, and per-layer numbers."""

    rounds_s: list[float] = field(default_factory=list)
    ops_s: list[float] = field(default_factory=list)
    timed_s: float = 0.0
    rows: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg)
