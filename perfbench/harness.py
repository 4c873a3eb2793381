"""The per-run state shared by the workloads: the closed-loop clock, the
operation wrapper that times, traces and counts failures, and the result
record.

One client thread issues every operation and waits for it (a closed loop
with one client). An operation that raises, or whose output fails its
check, counts as failed; its latency is not recorded.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from contextlib import contextmanager

from perfbench import cpu, stats
from perfbench.env import log
from perfbench.trace import NullTracer

NULL = NullTracer()


class Run:
    def __init__(self, spark, seed: int, seconds: float, tracer=None):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.tr = NULL  # the active tracer: NULL outside traced phases
        self.phase = "setup"  # tags traced ops: setup, loop, check or probe
        self.lat: dict[str, list[float]] = {}  # wall ms per recorded op
        self.cpu: dict[str, list[float]] = {}  # CPU ms per recorded op
        self.attempted = 0
        self.failed = 0
        self.detail: dict[str, dict] = {}
        self.layer: dict[str, float] = {}
        # wall and CPU seconds spent in checks inside measured rounds
        self.unclocked = 0.0
        self.unclocked_cpu = 0.0

    # -- tracing phases ----------------------------------------------------

    def tracing(self, on: bool) -> None:
        if self.tracer is None:
            return
        if on and self.tr is NULL:
            self.tracer.py4j.install()
            self.tr = self.tracer
        elif not on and self.tr is not NULL:
            self.tracer.py4j.uninstall()
            self.tr = NULL

    # -- operations --------------------------------------------------------

    def op(self, cls: str, fn, record: bool = True, **attrs):
        """Run one program operation; returns (ok, result). ``record`` adds
        its wall and CPU time to the class's samples (False for warm-up and
        checks)."""
        self.attempted += 1
        c0 = cpu.seconds() if record else 0.0
        t0 = time.perf_counter()
        try:
            with self.tr.op(cls, phase=self.phase, **attrs):
                result = fn()
        except Exception:
            self.failed += 1
            print(f"# {cls} raised:\n{traceback.format_exc()}", file=sys.stderr)
            return False, None
        dt = (time.perf_counter() - t0) * 1000.0
        if record:
            self.lat.setdefault(cls, []).append(dt)
            self.cpu.setdefault(cls, []).append((cpu.seconds() - c0) * 1000.0)
        return True, result

    def annotate(self, **kv) -> None:
        """Attach observed facts to the last traced operation."""
        if self.tr is not NULL and self.tracer.ops:
            self.tracer.ops[-1].update(kv)

    def check(self, what: str, problems: list[str]) -> bool:
        """Record one output check against an attempted operation."""
        if problems:
            self.failed += 1
            print(f"# check failed: {what}: {problems[:5]}", file=sys.stderr)
        return not problems

    @contextmanager
    def off_clock(self):
        """Checks run inside a measured round: their time is taken off the
        round's clock, so the loop's metrics count only the operations."""
        t0, c0 = time.perf_counter(), cpu.seconds()
        try:
            yield
        finally:
            self.unclocked += time.perf_counter() - t0
            self.unclocked_cpu += cpu.seconds() - c0

    # -- reporting ---------------------------------------------------------

    def put(self, name: str, value: float, unit: str, n: int | None = None) -> None:
        self.detail[name] = {"value": value, "unit": unit, **({"n": n} if n else {})}

    def class_p50s(self, classes: list[str], cpu: bool = False) -> dict[str, float]:
        """Per-class medians of wall (or CPU) ms, each put on the detail line
        with its sample count and its highest allowed percentile."""
        samples, kind = (self.cpu, "cpu_") if cpu else (self.lat, "")
        out = {}
        for c in classes:
            xs = samples.get(c, [])
            if not xs:
                raise RuntimeError(f"no successful {c} samples")
            out[c] = stats.median(xs)
            self.put(f"{c}.{kind}p50_ms", out[c], "ms", len(xs))
            tail = stats.highest_percentile(xs)
            if tail is not None:
                self.put(f"{c}.{kind}p{tail[0]}_ms", tail[1], "ms", len(xs))
        return out


def measure(run: Run, classes: list[str], round_fn, warm_rounds: int) -> dict[str, float]:
    """The measured closed loop, after ``warm_rounds`` untimed rounds.
    ``round_fn(record)`` runs one whole round and returns its op count.

    The warm-up is a count of rounds, not a time, so every run starts its
    window with the same work behind it, however fast the host is.

    Two timings per op: wall and CPU (``cpu.seconds``). ``op_cpu_ms`` and
    ``op_p50_ms`` are the mean op cost of the loop's mix computed from
    per-class medians (sum of count x median over the classes, divided by
    the op count), so classes are never pooled and one slow op does not
    move them. ``cpu_ms_per_op`` and ``ops_per_s`` are totals over whole
    rounds, so they also see slow outliers and background work. A traced
    run spends half its time untraced and half traced, and records the
    difference as the tracing overhead."""

    def summary(ops: int, spent: float, cpu_s: float) -> dict[str, float]:
        log(f"{ops} ops in {spent:.2f} s, {cpu_s:.2f} CPU s")
        n = {c: len(run.lat[c]) for c in classes}

        def mix(p50: dict[str, float]) -> float:
            return sum(n[c] * p50[c] for c in classes) / sum(n.values())

        return {"op_cpu_ms": mix(run.class_p50s(classes, cpu=True)),
                "cpu_ms_per_op": cpu_s * 1000.0 / ops,
                "op_p50_ms": mix(run.class_p50s(classes)),
                "ops_per_s": ops / spent}

    log("warm-up")
    for _ in range(warm_rounds):
        round_fn(False)
    run.phase = "loop"
    log("measuring")
    half = run.seconds if run.tracer is None else run.seconds / 2
    untraced = summary(*closed_loop(run, lambda: round_fn(True), half))
    # wall-clock figures: on the detail line, not gated (see README)
    run.put("op_p50_ms", untraced["op_p50_ms"], "ms", sum(map(len, run.lat.values())))
    run.put("ops_per_s", untraced["ops_per_s"], "1/s")
    if run.tracer is None:
        return untraced
    run.lat, run.cpu = {}, {}
    run.tracing(True)
    try:
        traced = summary(*closed_loop(run, lambda: round_fn(True), run.seconds / 2))
    finally:
        run.tracing(False)
    for k in traced:
        run.layer[f"overhead.{k}"] = traced[k] - untraced[k]
    return untraced


def closed_loop(run: Run, round_fn, seconds: float) -> tuple[int, float, float]:
    """Repeat ``round_fn`` (one whole round, returning its op count) until
    ``seconds`` of measured rounds have passed. Returns (ops, wall seconds,
    CPU seconds) over whole rounds only, less what their checks took."""
    ops, spent, used = 0, 0.0, 0.0
    while spent < seconds:
        off, off_cpu = run.unclocked, run.unclocked_cpu
        t0, c0 = time.perf_counter(), cpu.seconds()
        ops += round_fn()
        dt = time.perf_counter() - t0 - (run.unclocked - off)
        used += cpu.seconds() - c0 - (run.unclocked_cpu - off_cpu)
        spent += dt
        log(f"round {dt:.2f} s")
    return ops, spent, used


def parquet_files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        out.extend(os.path.join(root, f) for f in files if f.endswith(".parquet"))
    return sorted(out)


def parquet_rows(files: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in files)
