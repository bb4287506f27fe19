"""Spans and counts taken at the benchmark's calls into the engine.

A span is one call into a layer: name, start, end, parent, request id. The
layer is the name's first dotted part (``search.exec`` -> ``search``);
``request.*`` spans are the closed-loop client's requests. Every span runs
under its own Spark job group, so after the request ends its jobs, tasks,
executor run time and shuffle/spill bytes are read back from the
statusTracker and the AppStatusStore. The reads happen after the request's
timing ends, so they add nothing to any span.

With tracing off, ``span`` yields without recording anything.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int | None
    start: float = 0.0
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)
    df: object = None  # DataFrame whose executed plan is read after the request

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


COUNT_KEYS = ("jobs", "tasks", "executor_run_s", "shuffle_write_bytes", "spill_bytes")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._request: int | None = None
        self.spark = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, self._request)
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(_group(sp), name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(_group(parent), parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def request(self, kind: str):
        """Root span of one closed-loop request; its spans' counts are
        read once it has ended."""
        if not self.enabled:
            yield None
            return
        first = len(self.spans)
        self._request = first
        try:
            with self.span(f"request.{kind}") as sp:
                yield sp
        finally:
            self._request = None
            self._read_counts(self.spans[first:])

    def _read_counts(self, spans: list[Span]) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        for sp in spans:
            c = dict.fromkeys(COUNT_KEYS, 0)
            stages = set()
            for job in tracker.getJobIdsForGroup(_group(sp)):
                c["jobs"] += 1
                info = tracker.getJobInfo(job)
                if info is not None:
                    stages.update(int(s) for s in info.stageIds)
            for sid in stages:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # py4j: stage evicted from the status store
                    continue
                c["tasks"] += st.numCompleteTasks()
                c["executor_run_s"] += st.executorRunTime() / 1000.0
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            sp.counts = c
            if sp.df is not None:
                sp.attrs.update(plan_metrics(sp.df))
                sp.df = None


def _group(sp: Span) -> str:
    return f"perfbench-{os.getpid()}-{sp.id}"


def self_time(sp: Span, spans: list[Span]) -> float:
    """Duration minus the part of it covered by child spans."""
    kids = sorted((c.start, c.end) for c in spans if c.parent == sp.id)
    covered, edge = 0.0, sp.start
    for s, e in kids:
        s, e = max(s, edge, sp.start), min(e, sp.end)
        if e > s:
            covered += e - s
            edge = e
    return sp.duration - covered


def plan_metrics(df) -> dict:
    """Catalyst phase time and the ``term_freq`` scan's output rows and file
    bytes, read from the executed query's QueryExecution and SQLMetrics."""
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession.sparkContext._jvm
    phases = jvm.scala.collection.JavaConverters.mapAsJavaMap(qe.tracker().phases())
    out = {"catalyst_ms": float(sum(v.durationMs() for v in dict(phases).values()))}
    plan = qe.executedPlan()
    if "AdaptiveSparkPlan" in plan.getClass().getSimpleName():
        plan = plan.executedPlan()
    rows = size = 0
    for node in _walk(plan):
        if "Scan" in node.getClass().getSimpleName() and "term_freq" in node.toString():
            m = _metrics(node)
            rows += m.get("numOutputRows", 0)
            size += m.get("filesSize", 0)
    out.update(scan_rows=rows, scan_bytes=size)
    return out


def _walk(node):
    yield node
    if "QueryStage" in node.getClass().getSimpleName():
        yield from _walk(node.plan())
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk(ch.apply(i))


def _metrics(node) -> dict:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


# --- per-layer report ----------------------------------------------------

def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(spans: list[Span], registry_names: list[str]) -> dict[str, float]:
    """Every per-layer metric, from the traced set-ups and one traced pass.
    Set-up spans give ``session.*`` and, where set-up builds the index,
    ``index.*``; the rest come from the pass's requests. ``<layer>.self_s``
    sums self time over all traced spans. A layer the workload does not
    exercise reports 0."""
    by_name: dict[str, list[Span]] = {}
    for sp in spans:
        by_name.setdefault(sp.name, []).append(sp)

    def dur(name):
        return [s.duration for s in by_name.get(name, [])]

    def in_request(req: Span, prefix: str):
        return [s for s in spans if s.request == req.id and s.name.startswith(prefix)]

    def count(ss, key):
        return sum(s.counts.get(key, 0) for s in ss)

    searches = [s for s in spans if s.name in ("request.search", "request.raw_search")]
    timed = {s.id for s in searches}

    def search_dur(name):  # spans of timed searches, not of set-up warm-ups
        return [s.duration for s in by_name.get(name, []) if s.request in timed]

    m: dict[str, float] = {
        "session.start_s": _median(dur("session.start")),
        "sources.load_index_s": _median(search_dur("sources.load_index")),
        "sources.read_corpus_s": _median(dur("sources.read_corpus")),
        "search.plan_s": _median(search_dur("search.plan")),
        "search.exec_s": _median(search_dur("search.exec")),
    }
    execs = [s for s in by_name.get("search.exec", []) if s.request in timed]
    m["search.catalyst_ms"] = _median(s.attrs.get("catalyst_ms", 0) for s in execs)
    m["search.rows_scanned_per_result"] = _median(
        s.attrs.get("scan_rows", 0) / max(1, s.attrs.get("result_rows", 0)) for s in execs
    )
    m["search.bytes_scanned"] = _median(s.attrs.get("scan_bytes", 0) for s in execs)
    for key in ("jobs", "tasks"):
        m[f"search.{key}"] = _median(count(in_request(r, ""), key) for r in searches)

    m["index.plan_s"] = _median(dur("index.plan"))
    m["index.write_s"] = _median(dur("index.write"))
    builds = [s for s in spans if s.name in ("request.build", "request.setup")]
    builds = [b for b in builds if in_request(b, "index.plan")]  # set-ups that built an index
    for key in COUNT_KEYS:
        m[f"index.{key}"] = _median(count(in_request(b, "index."), key) for b in builds)
    for step in ("load", "plan", "write", "swap"):
        m[f"index.update.{step}_s"] = _median(dur(f"index.update.{step}"))
    m["index.store_bytes"] = _median(s.attrs["store_bytes"] for s in by_name.get("index.write", []))

    regs = by_name.get("request.registry", [])
    builds_of = lambda r: in_request(r, "registry.build") + in_request(r, "streaming.drain")  # noqa: E731
    m["registry.build_s"] = sum(s.duration for r in regs for s in builds_of(r))
    m["registry.exec_s"] = sum(s.duration for r in regs for s in in_request(r, "registry.exec"))
    everything = [s for r in regs for s in in_request(r, "")]
    m["registry.jobs"] = count(everything, "jobs")
    m["registry.shuffle_write_bytes"] = count(everything, "shuffle_write_bytes")
    m["registry.spill_bytes"] = count(everything, "spill_bytes")
    m["streaming.drain_s"] = sum(dur("streaming.drain"))
    per_query = {r.attrs.get("query"): r for r in regs}
    for q in registry_names:
        r = per_query.get(q)
        m[f"registry.{q}.build_s"] = sum(s.duration for s in builds_of(r)) if r else 0.0
        m[f"registry.{q}.exec_s"] = sum(s.duration for s in in_request(r, "registry.exec")) if r else 0.0
        m[f"registry.{q}.jobs"] = count(in_request(r, ""), "jobs") if r else 0

    for layer in LAYERS:
        m[f"{layer}.self_s"] = sum(self_time(s, spans) for s in spans if s.layer == layer)
    return m


LAYERS = ("request", "session", "sources", "search", "index", "registry", "streaming")
