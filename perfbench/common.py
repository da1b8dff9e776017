"""Shared pieces of the workloads: timing helpers and the run context."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
import traceback

CLIENTS = 2  # closed-loop clients on the serving workloads


def now() -> float:
    return time.perf_counter()


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (no checksums/markers)."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def files_in(path: str) -> int:
    return sum(
        1 for _d, _s, files in os.walk(path) for f in files
        if not f.startswith((".", "_"))
    )


def median_ms(xs) -> float:
    return 1000.0 * statistics.median(xs) if xs else 0.0


def percentile_ms(xs, q: float) -> float:
    """Nearest-rank percentile, in ms."""
    s = sorted(xs)
    return 1000.0 * s[max(0, math.ceil(q * len(s)) - 1)] if s else 0.0


class Ctx:
    """What a workload needs, and what it reports back."""

    def __init__(self, spark, tracer, seconds, inputs, work, model):
        self.spark = spark
        self.tracer = tracer
        self.seconds = seconds
        self.inputs = inputs
        self.work = work
        self.model = model
        self.first_op: float | None = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, float] = {}  # BENCHMARK.json end-to-end names
        self.named: dict[str, tuple[float, str]] = {}  # per-workload names
        self.layers: dict[str, float] = {}  # per-layer names
        self.overhead_pct = 0.0

    def start_timed(self) -> None:
        if self.first_op is None:
            self.first_op = now()

    def op(self, problems: list[str], what: str = "") -> None:
        """Count one operation; any problem makes it a failed one."""
        self.attempted += 1
        if problems:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(f"{what}: {problems[0]}")

    def closed_loop(self, requests: list, call) -> list[tuple]:
        """``CLIENTS`` threads; each sends its next request only when the
        previous one returned, until ``seconds`` have passed. In the
        traced run odd-numbered requests are traced and even ones are
        not, so the two latency medians give the tracing overhead.
        Returns ``(index, request, latency_s, traced, result, error)``."""
        lock = threading.Lock()
        state = {"next": 0}
        out: list[tuple] = []
        deadline = now() + self.seconds

        def client():
            while now() < deadline:
                with lock:
                    i = state["next"]
                    state["next"] += 1
                if i >= len(requests):
                    return
                traced = self.tracer.enabled and i % 2 == 1
                t = now()
                try:
                    res, err = call(requests[i], i, traced), None
                except Exception as exc:  # a failed request is a result
                    traceback.print_exc()
                    res, err = None, f"{type(exc).__name__}: {exc}"[:300]
                dt = now() - t
                with lock:
                    out.append((i, requests[i], dt, traced, res, err))

        threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        out.sort(key=lambda r: r[0])
        if self.tracer.enabled:
            on = [r[2] for r in out if r[3] and r[5] is None]
            off = [r[2] for r in out if not r[3] and r[5] is None]
            if on and off:
                self.overhead_pct = 100.0 * (
                    statistics.median(on) / statistics.median(off) - 1.0
                )
        return out
