"""In-memory span tracer for the traced run.

A span records name, start, end, parent and request id; spans of one
request (one benchmark operation) share the id. The tracer also counts
py4j round trips per innermost span, and turns the Spark jobs a request
ran (read from the driver's status store after the request, outside any
timed interval) into ``exec.job`` child spans, so a layer's self time —
its span time minus the time its child spans cover — excludes the Spark
execution it triggered.

Nothing here runs in the untraced run: ``Tracer(active=False).span``
is a shared no-op context, and the wrappers around engine internals are
only installed by ``install_wrappers`` in the traced run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass, field

_NOOP = contextlib.nullcontext()


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int | None
    start: float                  # perf_counter seconds
    end: float = 0.0
    jvm_calls: int = 0            # py4j round trips while innermost
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> span duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.dur - covered(kids.get(s.id, []), s.start, s.end) for s in spans}


class Tracer:
    def __init__(self, active: bool):
        self.active = active
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.request: int | None = None
        # perf_counter -> epoch offset, to place Spark's job timestamps
        self.epoch0 = time.time() - time.perf_counter()

    def span(self, name: str, **attrs):
        if not self.active:
            return _NOOP
        return self._span(name, attrs)

    @contextlib.contextmanager
    def _span(self, name: str, attrs: dict):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, self.request,
                 time.perf_counter(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def on_jvm_call(self) -> None:
        if self._stack:
            self._stack[-1].jvm_calls += 1

    def add_jobs(self, jobs: list[dict]) -> None:
        """Attach finished Spark jobs (epoch-ms submission/completion) as
        ``exec.job`` spans under the innermost span of the current
        request that was open when each job was submitted."""
        mine = [s for s in self.spans if s.request == self.request and s.name != "exec.job"]
        for j in jobs:
            t0 = j["submitted_ms"] / 1000.0 - self.epoch0
            t1 = j["completed_ms"] / 1000.0 - self.epoch0
            owner = None
            for s in mine:
                # Spark stamps jobs in whole ms
                if s.start - 0.002 <= t0 <= s.end + 0.002 and (owner is None or s.start >= owner.start):
                    owner = s
            if owner is not None:
                t0, t1 = max(t0, owner.start), min(t1, owner.end)
            self.spans.append(Span(
                len(self.spans), "exec.job", owner.id if owner else None,
                self.request, t0, max(t0, t1), attrs=j))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                d = asdict(s)
                d["start"] += self.epoch0
                d["end"] += self.epoch0
                fh.write(json.dumps(d) + "\n")


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def inner(*a, **k):
        if not tracer.active:
            return fn(*a, **k)
        with tracer.span(name):
            return fn(*a, **k)
    return inner


# (module, attribute, span name): every place the engine crosses a layer
# boundary that the benchmark cannot wrap from its own call sites
_WRAP = [
    ("kineo_spark.engine", "parse_query", "sparql_parser.parse"),
    ("kineo_spark.update", "parse_update", "sparql_parser.parse"),
    ("kineo_spark.engine", "rewrite", "rewrite.rewrite"),
    ("kineo_spark.update", "rewrite", "rewrite.rewrite"),
    ("kineo_spark.engine", "select", "compiler.compile"),
    ("kineo_spark.engine", "ask", "compiler.compile"),
    ("kineo_spark.engine", "describe", "compiler.compile"),
    ("kineo_spark.engine", "construct", "compiler.compile"),
    ("kineo_spark.update", "apply_op", "update.plan"),
    ("kineo_spark.paths", "eval_path", "paths.eval"),
    ("kineo_spark.dictionary", "scan_ids", "store.scan"),
]
_WRAP_METHODS = [
    ("kineo_spark.store", "RelationalQuadStore", "scan", "store.scan"),
    ("kineo_spark.store", "RelationalQuadStore", "scan_star", "store.scan"),
    ("kineo_spark.store", "QuadsDataFrameStore", "scan", "store.scan"),
    ("kineo_spark.update", "GraphStore", "update", "update.request"),
    ("kineo_spark.engine", "Engine", "serialize", "serializers.format"),
]


def install_wrappers(tracer: Tracer, gateway_client) -> None:
    """Wrap engine-internal layer entry points and count py4j calls.
    The package's files are untouched; only module attributes of this
    process are replaced."""
    import importlib

    for mod, attr, name in _WRAP:
        m = importlib.import_module(mod)
        setattr(m, attr, _wrap(tracer, name, getattr(m, attr)))
    for mod, cls, attr, name in _WRAP_METHODS:
        c = getattr(importlib.import_module(mod), cls)
        setattr(c, attr, _wrap(tracer, name, getattr(c, attr)))
    send = gateway_client.send_command

    def counting_send(*a, **k):
        tracer.on_jvm_call()
        return send(*a, **k)
    gateway_client.send_command = counting_send


def spark_jobs(sc, group: str) -> list[dict]:
    """Finished jobs of a job group with their stage totals, read from
    the driver's status store (the store behind the Spark UI/REST API;
    it is populated with the UI disabled too)."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    out = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        jd = store.job(jid)
        sub, comp = jd.submissionTime(), jd.completionTime()
        if not (sub.isDefined() and comp.isDefined()):
            continue
        j = {"job": jid, "submitted_ms": sub.get().getTime(),
             "completed_ms": comp.get().getTime(), "tasks": 0, "cpu_ms": 0.0,
             "gc_ms": 0.0, "shuffle_write_bytes": 0, "input_records": 0}
        ids = jd.stageIds()
        for i in range(ids.size()):
            try:
                st = store.lastStageAttempt(ids.apply(i))
            except Exception:  # py4j error: stage never ran (skipped)
                continue
            if str(st.status().toString()) == "SKIPPED":
                continue
            j["tasks"] += st.numCompleteTasks()
            j["cpu_ms"] += st.executorCpuTime() / 1e6
            j["gc_ms"] += st.jvmGcTime()
            j["shuffle_write_bytes"] += st.shuffleWriteBytes()
            j["input_records"] += st.inputRecords()
        out.append(j)
    return out
