"""Measurement helpers: percentiles, the closed loop, peak memory."""

from __future__ import annotations

import math
import resource
import time


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method), q in [0, 100]."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50)


class OpLog:
    """Outcome of every operation of one measured phase."""

    def __init__(self):
        self.ops: list[tuple[str, float, bool]] = []   # (kind, seconds, ok)
        self.wall = 0.0
        self.round_ends: list[int] = []   # len(ops) after each whole round
        self.errors: list[str] = []

    def latencies(self, kinds: set[str] | None = None) -> list[float]:
        return [t for k, t, _ in self.ops if kinds is None or k in kinds]

    def round_means(self) -> list[float]:
        """Mean latency of each round: shows whether the engine was still
        warming up."""
        starts = [0] + self.round_ends[:-1]
        return [sum(t for _, t, _ in self.ops[a:b]) / max(b - a, 1)
                for a, b in zip(starts, self.round_ends)]

    @property
    def rounds(self) -> int:
        return len(self.round_ends)

    @property
    def failed(self) -> int:
        return sum(1 for _, _, ok in self.ops if not ok)


MIN_ROUNDS = 2


def closed_loop(rounds, run_op, seconds: float, log: OpLog) -> OpLog:
    """One client: each operation starts when the previous one has
    returned and been checked. Runs whole rounds until at least
    ``seconds`` of wall time and ``MIN_ROUNDS`` rounds have passed, so
    every run sees the same operation mix, at least twice.
    ``run_op(op) -> (kind, seconds, ok)`` times only the engine's part of
    the operation; checking happens outside it."""
    t0 = time.perf_counter()
    for rnd in rounds:
        for op in rnd:
            t_op = time.perf_counter()
            try:
                log.ops.append(run_op(op))
            except Exception as e:  # a failed operation, not a failed run
                log.ops.append((op.kind, time.perf_counter() - t_op, False))
                log.errors.append(f"{op.kind}: {type(e).__name__}: {e}"[:500])
        log.round_ends.append(len(log.ops))
        if time.perf_counter() - t0 >= seconds and log.rounds >= MIN_ROUNDS:
            break
    log.wall = time.perf_counter() - t0
    return log


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this Python driver plus the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (py_kb + (_vm_hwm_kb(jvm_pid) if jvm_pid else 0)) / 1024.0
