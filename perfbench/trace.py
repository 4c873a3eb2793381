"""Span recording for the traced run, from outside the library.

Spans are opened by the benchmark around each call it makes into a layer's
public functions (index API, catalog build, Spark execution, the index's
filesystem handle). Counts come from observation, not from the program:
py4j round trips from a counting wrapper on the py4j client, and jobs,
stages, tasks and shuffle bytes from Spark's status store, keyed by a job
group set per operation. Spans stay in memory and are written as JSONL
when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time

import py4j.java_gateway


class Py4jCounter:
    """Counts py4j commands sent to the JVM while ``active`` is true."""

    def __init__(self):
        self.calls = 0
        self.active = True
        self._orig = None

    def install(self) -> None:
        cls = py4j.java_gateway.GatewayClient
        orig = cls.send_command
        counter = self

        def send_command(client, *args, **kwargs):
            if counter.active:
                counter.calls += 1
            return orig(client, *args, **kwargs)

        self._orig = orig
        cls.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            py4j.java_gateway.GatewayClient.send_command = self._orig
            self._orig = None

    @contextlib.contextmanager
    def paused(self):
        prev, self.active = self.active, False
        try:
            yield
        finally:
            self.active = prev


class NullTracer:
    """The untraced run: every hook is a no-op."""

    enabled = False

    def span(self, name: str, **attrs):
        return contextlib.nullcontext()

    def op(self, cls: str, **attrs):
        return contextlib.nullcontext()


class Tracer:
    """Records spans (name, start, end, parent, op) and per-op counts."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._ids = itertools.count(1)
        self.py4j = Py4jCounter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "op": self._op,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    @contextlib.contextmanager
    def op(self, cls: str, **attrs):
        """One operation: a root span plus py4j and Spark counts."""
        op_id = f"op{next(self._ids)}"
        sc = self.spark.sparkContext
        with self.py4j.paused():
            sc.setJobGroup(op_id, cls)
        calls0 = self.py4j.calls
        prev, self._op = self._op, op_id
        rec = {"op": op_id, "cls": cls, **attrs}
        try:
            with self.span(f"client.{cls}") as root:
                yield rec
        finally:
            self._op = prev
            rec["py4j_calls"] = self.py4j.calls - calls0
            rec["ms"] = (root["end"] - root["start"]) * 1000.0
            with self.py4j.paused():
                rec.update(self._spark_counts(op_id))
                sc.setLocalProperty("spark.jobGroup.id", None)
            root.update({k: v for k, v in rec.items() if k not in ("op", "cls")})
            self.ops.append(rec)

    def _spark_counts(self, group: str) -> dict:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs = stages = tasks = shuffle = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks == 0:
                    continue  # skipped (reused) stage
                stages += 1
                tasks += st.numCompletedTasks
                shuffle += store.lastStageAttempt(sid).shuffleWriteBytes()
        return {"jobs": jobs, "stages": stages, "tasks": tasks,
                "shuffle_bytes": shuffle}

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps(rec, default=str) + "\n")

    def self_ms(self, ops: set | None = None) -> dict[str, float]:
        """Total self time per layer (the span-name prefix) over the spans
        of ``ops`` (default: all): each span's duration minus the time its
        child spans cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if ops is not None and s["op"] not in ops:
                continue
            layer = s["name"].split(".", 1)[0]
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[layer] = out.get(layer, 0.0) + own * 1000.0
        return out


class FsProxy:
    """Timing stand-in for a VectorIndex's ``fs`` handle: every call opens
    an ``fs.<method>`` span on whichever tracer ``active()`` returns, so
    the proxy costs nothing measurable while tracing is off."""

    def __init__(self, fs, active):
        self._fs = fs
        self._active = active

    def __getattr__(self, name):
        target = getattr(self._fs, name)
        if not callable(target):
            return target

        def call(*args, **kwargs):
            with self._active().span(f"fs.{name}"):
                return target(*args, **kwargs)

        return call
