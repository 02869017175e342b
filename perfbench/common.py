"""Shared pieces of the benchmark: the run context, the timed loop,
percentiles and peak memory from ``/proc``."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

from tracer import Tracer


@dataclass
class Op:
    """One closed-loop operation of a workload."""

    # "write", "read" or "cell" (timed); "warmup" or "check" (untimed
    # work that still counts towards attempted and failed)
    kind: str
    latency_s: float
    ok: bool


@dataclass
class Bench:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    trace: bool
    work: str  # scratch directory of this run, inside the checkout
    root: str  # checkout root
    ops: list[Op] = field(default_factory=list)
    problems: list[str] = field(default_factory=list)
    round_walls: dict[bool, list[float]] = field(
        default_factory=lambda: {False: [], True: []}
    )
    # per-layer metrics a workload measured outside any span
    layer_values: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.problems.append(what)

    def check(self, ok: bool, what: str) -> None:
        """Record one correctness check; a failed one counts as a failed
        operation."""
        self.ops.append(Op("check", 0.0, ok))
        if not ok:
            self.fail(what)


def timed_phase(bench: Bench, round_fn, min_rounds: int = 1) -> None:
    """Repeat ``round_fn`` (one fixed unit of work) until
    ``bench.seconds`` have passed and at least ``min_rounds`` rounds
    ran, finishing the round in progress.

    Untraced runs trace nothing. Traced runs alternate untraced and
    traced rounds, starting untraced, and run at least three, so that
    one of each follows the first round, which still warms up: the
    traced run measures its own overhead on the round wall time.
    Traced rounds run inside a ``bench.round`` span and their Spark
    counters are read after the round, outside its time."""
    deadline = time.perf_counter() + bench.seconds
    i = 0
    while True:
        traced = bench.trace and i % 2 == 1
        bench.tracer.enabled = traced
        t0 = time.perf_counter()
        with bench.tracer.span("bench.round", op_id=i):
            round_fn(i)
        bench.round_walls[traced].append(time.perf_counter() - t0)
        bench.tracer.enabled = False
        if traced:
            bench.tracer.collect()
        i += 1
        if time.perf_counter() >= deadline and i >= max(min_rounds, 3 if bench.trace else 1):
            break


def tail(values: list[float]) -> tuple[float, float, int]:
    """(percentile, value, n): the highest percentile that still has at
    least ten samples above it, i.e. the (n-10)-th smallest sample.
    With 20 samples or fewer that percentile would sit at or below
    the median, so the maximum is reported instead (percentile 100)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 20:
        return 100.0, xs[-1], n
    return 100.0 * (n - 10) / n, xs[n - 11], n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


def growth(values: list[float]) -> float:
    """Mean of the last tenth of ``values`` over the mean of the first
    tenth (at least one sample each)."""
    if len(values) < 2:
        return 0.0
    k = max(1, len(values) // 10)
    first = mean(values[:k])
    return mean(values[-k:]) / first if first > 0 else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for r, _, fns in os.walk(path):
        for fn in fns:
            total += os.path.getsize(os.path.join(r, fn))
    return total


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this driver process plus its JVM, from
    ``VmHWM`` in ``/proc/<pid>/status``. Each process's own peak is
    summed, so this bounds the peak of the sum from above."""
    kb = _vm_hwm_kb(os.getpid())
    if jvm_pid is not None:
        kb += _vm_hwm_kb(jvm_pid)
    return kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from ``/proc/stat``: the share
    of CPU time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def latency_summary(prefix: str, lat_s: list[float]) -> dict:
    p, v, n = tail(lat_s)
    return {
        f"{prefix}_p50_ms": median(lat_s) * 1000.0,
        f"{prefix}_tail_ms": v * 1000.0,
        f"{prefix}_tail_pct": p,
        f"{prefix}_samples": n,
    }
