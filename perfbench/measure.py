"""Measurement helpers: spans, Spark's own stage and streaming metrics,
memory and host conditions.

Spans are recorded only around calls the benchmark makes into the
program's modules (or into functions it wraps for the duration of a
traced call); nothing inside the program is modified on disk.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import threading
import time


def pct(values, q: float) -> float:
    """The q-quantile (0..1) of ``values`` by linear interpolation."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


class Tracer:
    """In-memory spans: name, start, end, parent and the trace id of the
    workload call that caused them. ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self.trace_id: str | None = None
        self.call_span: int | None = None
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else self.call_span
        rec = {"id": sid, "name": name, "parent": parent, "trace": self.trace_id,
               "start": time.perf_counter()}
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    @contextlib.contextmanager
    def call(self, trace_id: str, name: str):
        """The root span of one workload call."""
        self.trace_id = trace_id
        with self.span(name) as rec:
            self.call_span = rec["id"] if rec else None
            try:
                yield rec
            finally:
                self.call_span = None

    @contextlib.contextmanager
    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` by a spanned wrapper while inside."""
        orig = getattr(module, attr)

        def wrapped(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(module, attr, wrapped)
        try:
            yield
        finally:
            setattr(module, attr, orig)

    def total_ms(self, name: str) -> float:
        return sum((s["end"] - s["start"]) * 1000 for s in self.spans if s["name"] == name)

    def self_ms(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its direct
        children cover (children of one parent do not overlap except the
        sink writes of the two streaming queries, which are clipped to
        their union)."""
        kids: dict[int, list] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered) * 1000
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_ms": self.self_ms()}, f)


def _seq(spark, scala_seq):
    return spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq)


def stage_metrics(spark, groups: set[str]) -> dict[str, float]:
    """Executor metrics of every completed stage of the jobs tagged with
    one of ``groups`` (``setJobGroup``), read from the JVM status store,
    which is populated with the UI disabled."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stage_ids = set()
    for j in _seq(spark, store.jobsList(None)):
        g = j.jobGroup()
        if g.isDefined() and g.get() in groups:
            stage_ids.update(int(s) for s in _seq(spark, j.stageIds()))
    q = sc._gateway.new_array(sc._jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    m = {k: 0.0 for k in ("run_ms", "cpu_ms", "gc_ms", "tasks", "shuffle_write_bytes",
                          "shuffle_read_bytes", "spill_bytes", "map_cpu_ms", "map_records")}
    skews = []
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    for s in _seq(spark, store.stageList(None, False, False, empty, None)):
        if int(s.stageId()) not in stage_ids or str(s.status()) != "COMPLETE":
            continue
        cpu_ms = s.executorCpuTime() / 1e6
        m["run_ms"] += s.executorRunTime()
        m["cpu_ms"] += cpu_ms
        m["gc_ms"] += s.jvmGcTime()
        m["tasks"] += s.numTasks()
        m["shuffle_write_bytes"] += s.shuffleWriteBytes()
        m["shuffle_read_bytes"] += s.shuffleReadBytes()
        m["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        if s.shuffleReadBytes() == 0 and s.inputRecords() > 0:
            # a stage that reads the source and has no upstream exchange
            m["map_cpu_ms"] += cpu_ms
            m["map_records"] += s.inputRecords()
        if s.numTasks() >= 3:
            summary = store.taskSummary(s.stageId(), s.attemptId(), q)
            if summary.isDefined():
                med, mx = list(_seq(spark, summary.get().executorRunTime()))
                if med > 0:
                    skews.append(mx / med)
    m["task_skew"] = max(skews) if skews else 1.0
    return m


def progress_listener():
    """A StreamingQueryListener keeping every query-started timestamp and
    every progress record (``durationMs``, ``stateOperators``)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.started: list[float] = []
            self.run_ids: set[str] = set()
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            self.started.append(time.time())
            self.run_ids.add(str(event.runId))

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def stream_metrics(listeners: list, call_starts: list[float]) -> dict[str, float]:
    """Per-layer streaming figures from the progress records of the
    traced calls: micro-batch counts and durationMs parts per call
    (medians over calls), state-store peaks and totals."""
    trig, per_call = [], []
    state = {"rows_peak": 0, "memory_bytes_peak": 0, "commit_ms": 0, "rows_removed": 0,
             "rows_dropped_late": 0}
    for lst, t0 in zip(listeners, call_starts):
        d = {k: 0.0 for k in ("batches", "latest_offset_ms", "get_batch_ms", "query_planning_ms",
                              "wal_commit_ms", "commit_offsets_ms")}
        d["start_ms"] = statistics.mean(t - t0 for t in lst.started) * 1000 if lst.started else 0.0
        for p in lst.progress:
            dm = p.get("durationMs", {})
            trig.append(dm.get("triggerExecution", 0))
            d["batches"] += 1
            d["latest_offset_ms"] += dm.get("latestOffset", 0)
            d["get_batch_ms"] += dm.get("getBatch", 0)
            d["query_planning_ms"] += dm.get("queryPlanning", 0)
            d["wal_commit_ms"] += dm.get("walCommit", 0)
            d["commit_offsets_ms"] += dm.get("commitOffsets", 0)
            for op in p.get("stateOperators", []):
                state["rows_peak"] = max(state["rows_peak"], op.get("numRowsTotal", 0))
                state["memory_bytes_peak"] = max(state["memory_bytes_peak"], op.get("memoryUsedBytes", 0))
                state["commit_ms"] += op.get("commitTimeMs", 0)
                state["rows_removed"] += op.get("numRowsRemoved", 0)
                state["rows_dropped_late"] += op.get("numRowsDroppedByWatermark", 0)
        per_call.append(d)
    out = {f"stream.{k}": statistics.median(c[k] for c in per_call) for k in
           ("batches", "start_ms", "query_planning_ms", "wal_commit_ms", "commit_offsets_ms")}
    out["sources.latest_offset_ms"] = statistics.median(c["latest_offset_ms"] for c in per_call)
    out["sources.get_batch_ms"] = statistics.median(c["get_batch_ms"] for c in per_call)
    out["stream.trigger_ms_p50"] = pct(trig, 0.5)
    out["stream.trigger_ms_p99"] = pct(trig, 0.99)
    n = max(1, len(per_call))
    out.update({f"state.{k}": (v if k.endswith("peak") else v / n) for k, v in state.items()})
    return out


def reset_peak_rss() -> None:
    """Restart this process's VmHWM count at its current resident set."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(pids: list[int]) -> float:
    """Summed peak resident set (VmHWM) of the given processes."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_conditions(start: list[int]) -> dict[str, float]:
    """CPU steal over the run (a /proc/stat delta), load and core count,
    so a contended window flags itself."""
    end = cpu_times()
    d = [b - a for a, b in zip(start, end)]
    total = sum(d[:8]) or 1
    return {
        "host.cpu_steal_pct": 100.0 * d[7] / total if len(d) > 7 else 0.0,
        "host.loadavg_1m": os.getloadavg()[0],
        "host.cores": float(os.cpu_count() or 1),
    }
