"""The four workloads. Each one generates its seeded input, starts a
SparkSession, makes one set-up call, then calls the program's public
entry points for the measured window, checking every call's result.

A workload returns the end-to-end figures of its untraced calls, and,
when tracing, the per-layer figures of its traced calls. Traced runs
alternate untraced and traced calls so the tracing overhead is measured
inside one run.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

import numpy as np

import expect
import gen
import measure as tr

CORES = 3  # Spark cores; the fourth is left to the generator and poller
LATE_MS = 60_000  # the reference's consumer-lag alarm


class Run:
    """State of one benchmark run: settings, counters and samples."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, work: str):
        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.work = work
        self.tracer = tr.Tracer(traced)
        self.spark = None
        self.attempted = self.failed = 0
        self.correct = True
        self.timed: list[tuple[bool, float, int]] = []  # (traced, wall s, input records)
        self.fresh_ms: list[float] = []
        self.layers: dict[str, float] = {}
        self.groups: set[str] = set()  # job groups of the traced calls
        self.listeners: list = []
        self.call_starts: list[float] = []
        self.plan_counts: dict[str, dict] = {}
        self._n = 0

    # -- session ----------------------------------------------------------

    def start_spark(self, cores: int = CORES):
        from flink_stream_processing_refarch_spark.session import get_spark

        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        self.spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def setup(self, first_call) -> float:
        """SparkSession start plus the first call on the workload's input.
        The memory peak is counted from here, after the oracle ran."""
        tr.reset_peak_rss()
        t0 = time.perf_counter()
        self.start_spark()
        t1 = time.perf_counter()
        first_call(traced=False)
        t2 = time.perf_counter()
        self.layers["session.get_spark_s"] = t1 - t0
        self.layers["session.first_call_s"] = t2 - t1
        return t2 - t0

    # -- calls ------------------------------------------------------------

    def timed_calls(self, call, round_s: float, kinds: int = 1):
        """Make ceil(seconds / round_s) rounds, back to back, of the
        ``kinds`` plans ``call`` cycles through. ``round_s`` is a round's
        nominal wall on a quiet 4-core box; taking the count from it
        rather than from the clock keeps every run of a workload making
        the same calls, where a round ending near the window's edge would
        otherwise be made by some runs and not by others. A traced run
        makes at least two rounds and traces every second one."""
        rounds = max(2 if self.traced else 1, math.ceil(self.seconds / round_s))
        for i in range(rounds * kinds):
            call(traced=self.traced and (i // kinds) % 2 == 1)

    def begin_call(self, traced: bool, name: str):
        """Tag the call's Spark work and, when traced, listen to its
        streaming progress."""
        self._n += 1
        tid = f"{self.workload}-{self._n}"
        self.spark.sparkContext.setJobGroup(tid, name)
        self.tracer.enabled = traced
        lst = None
        if traced:
            self.groups.add(tid)
            lst = tr.progress_listener()
            self.spark.streams.addListener(lst)
        return tid, lst

    def end_call(self, lst, t0: float):
        if lst is None:
            return
        time.sleep(0.2)  # progress events are delivered asynchronously
        self.spark.streams.removeListener(lst)
        self.listeners.append(lst)
        self.call_starts.append(t0)

    def record(self, traced: bool, wall: float, records: int, ok: bool, timed: bool = True):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.correct = False
        if timed:
            self.timed.append((traced, wall, records))

    def walls(self, traced: bool) -> list[float]:
        return [w for t, w, _ in self.timed if t == traced]

    # -- results ----------------------------------------------------------

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        walls = self.walls(False)
        fresh = self.fresh_ms or [w * 1000 for w in walls]
        return {
            "setup_s": setup_s,
            "records_per_s": sum(r for t, _, r in self.timed if not t) / sum(walls),
            "freshness_ms_p50": tr.pct(fresh, 0.5),
            "freshness_ms_p99": tr.pct(fresh, 0.99),
        }

    def memory(self) -> dict[str, float]:
        """Peak resident memory of this process and of the JVM."""
        jvm = int(self.spark._jvm.ProcessHandle.current().pid())
        py, jv = tr.peak_rss_mb([os.getpid()]), tr.peak_rss_mb([jvm])
        return {"mem.peak_rss_mb": py + jv, "mem.python_peak_rss_mb": py, "mem.jvm_peak_rss_mb": jv}

    def collect_layers(self):
        """Read Spark's metrics of the traced calls; call before the
        session that ran them stops."""
        if not self.traced:
            return
        out = self.layers
        for prefix, by_plan in self.plan_counts.items():  # per round of the plans
            out[f"{prefix}.exchanges"] = sum(statistics.median(c[0] for c in v) for v in by_plan.values())
            out[f"{prefix}.scans"] = sum(statistics.median(c[1] for c in v) for v in by_plan.values())
        for lst in self.listeners:
            self.groups.update(lst.run_ids)
        if self.groups:
            m = tr.stage_metrics(self.spark, self.groups)
            traced_walls = self.walls(True)
            n = max(1, len(traced_walls))
            for k in ("run_ms", "cpu_ms", "gc_ms", "tasks", "shuffle_write_bytes",
                      "shuffle_read_bytes", "spill_bytes"):
                out[f"exec.{k}"] = m[k] / n
            out["exec.task_skew"] = m["task_skew"]
            out["exec.cpu_util"] = m["cpu_ms"] / (sum(traced_walls) * 1000 * CORES)
            if m["map_records"]:
                out["map.cpu_ms_per_krec"] = m["map_cpu_ms"] / (m["map_records"] / 1000)
        if self.listeners:
            out.update(tr.stream_metrics(self.listeners, self.call_starts))
        if self.walls(True) and self.walls(False):
            out["trace.overhead_ms"] = (
                statistics.median(self.walls(True)) - statistics.median(self.walls(False))) * 1000


def _plan_counts(df) -> tuple[int, int]:
    """(exchanges, scans) in the physical plan Catalyst produces."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\bExchange\b", plan)), len(re.findall(r"\bScan\b|\bFileScan\b", plan))


def _timed_write(run: Run, df, name: str, traced: bool, prefix: str) -> tuple[int, int]:
    """Materialize ``df`` with a noop write; the result fingerprint is
    collected in the same execution."""
    from pyspark.sql import Observation

    obs = Observation(name)
    dfo = df.observe(obs, *expect.fingerprint_exprs(df))
    if traced:
        with run.tracer.span(f"{prefix}.catalyst"):
            counts = _plan_counts(dfo)
        run.plan_counts.setdefault(prefix, {}).setdefault(name, []).append(counts)
    with run.tracer.span("exec.write_noop"):
        dfo.write.format("noop").mode("overwrite").save()
    got = obs.get
    return (got["n"], got["fp"])


# --- batch plans: batch_backfill and corpus_dedup ----------------------------

def _plan_rounds(run: Run, plans: list, prefix: str, records: int, want: dict, sf_dir: str,
                 round_s: float, wraps: tuple = ()) -> float:
    """Set up with one round of ``plans`` (name, builder), then time
    rounds of them. Each call builds the plan (span ``{prefix}.build``)
    and writes it with the noop format; ``wraps`` are (module, attribute,
    span name) functions to span while traced."""
    build_ms: list[float] = []
    k = [0]

    def call(traced: bool, timed: bool = True):
        name, fn = plans[k[0] % len(plans)]
        k[0] += 1
        tid, _ = run.begin_call(traced, name)
        t0 = time.perf_counter()
        try:
            with run.tracer.call(tid, name), contextlib.ExitStack() as stack:
                for mod, attr, span in wraps:
                    stack.enter_context(run.tracer.wrap(mod, attr, span))
                with run.tracer.span(f"{prefix}.build"):
                    df = fn(run.spark, sf_dir)
                if traced:
                    build_ms.append((time.perf_counter() - t0) * 1000)
                ok = _timed_write(run, df, name, traced, prefix) == want[name]
            if not ok:
                print(f"# {name}: result differs from the DuckDB oracle", file=sys.stderr)
        except Exception as e:  # noqa: BLE001 - a failed call is counted, the run goes on
            print(f"# {name} raised: {e!r}", file=sys.stderr)
            ok = False
        run.record(traced, time.perf_counter() - t0, records, ok, timed)

    setup_s = run.setup(lambda traced: [call(traced, timed=False) for _ in plans])
    run.timed_calls(call, round_s, kinds=len(plans))
    if run.traced:
        run.layers[f"{prefix}.build_ms"] = statistics.median(build_ms)
        run.layers[f"{prefix}.catalyst_ms"] = run.tracer.total_ms(f"{prefix}.catalyst") / len(build_ms)
        for _, _, span in wraps:
            run.layers[f"{span}_ms"] = run.tracer.total_ms(span) / len(build_ms)
    run.collect_layers()
    return setup_s


BATCH_ROWS = 150_000
BATCH_FILES = 4
BATCH_ROUND_S = 3.0  # Q1 + Q2


def batch_backfill(run: Run) -> float:
    from flink_stream_processing_refarch_spark.plans import taxi

    sf_dir = os.path.join(run.work, "in")
    gen.events_table(run.seed, sf_dir, BATCH_ROWS, BATCH_FILES)
    want = expect.batch_expected(os.path.join(sf_dir, "events.parquet"))
    plans = [("q1_pickup_count", taxi.q1_pickup_count), ("q2_trip_duration", taxi.q2_trip_duration)]
    return _plan_rounds(run, plans, "plans", BATCH_ROWS, want, sf_dir, BATCH_ROUND_S,
                        wraps=((taxi, "clean_trips", "sources.build"),))


CORPUS_DOCS = 3000
CORPUS_ROUND_S = 5.0  # LSH + incremental


def corpus_dedup(run: Run) -> float:
    from flink_stream_processing_refarch_spark.operators import dedup, incremental

    sf_dir = os.path.join(run.work, "in")
    gen.documents_table(run.seed, sf_dir, CORPUS_DOCS)
    want = expect.corpus_expected(os.path.join(sf_dir, "documents.parquet"))
    ops = [("dedup_minhash_lsh", dedup.QUERIES["dedup_minhash_lsh"]),
           ("dedup_incremental", incremental.QUERIES["dedup_incremental"])]
    return _plan_rounds(run, ops, "operators", CORPUS_DOCS, want, sf_dir, CORPUS_ROUND_S)


# --- streaming: sink poller and the pipeline call ---------------------------

class Poller(threading.Thread):
    """Watches a sink directory and notes when each document first
    appears there: key -> [first_seen, value, times_seen]."""

    def __init__(self, out_dir: str, period_s: float = 0.02):
        super().__init__(daemon=True)
        self.out_dir, self.period_s = out_dir, period_s
        self.seen: dict = {}
        self.files: set = set()
        self.done_dirs: set = set()
        self.bytes = 0
        self._stop_ev = threading.Event()
        self._lock = threading.Lock()

    def scan(self):
        with self._lock:
            now = time.time()
            for line in expect.sink_lines(self.out_dir, self.files, self.done_dirs):
                key, val = expect.doc_key(line)
                rec = self.seen.setdefault(key, [now, val, 0])
                rec[2] += 1
                self.bytes += len(line)

    def run(self):
        while not self._stop_ev.wait(self.period_s):
            self.scan()

    def stop(self):
        self._stop_ev.set()
        self.join(timeout=10)
        self.scan()


def _pipeline(run: Run, src: str, out: str, ckpt: str, traced: bool, **kw):
    from flink_stream_processing_refarch_spark.streaming import jobs, sinks

    with run.tracer.wrap(jobs, "stream_trips_from_wire", "sources.build"), \
            run.tracer.wrap(sinks, "write_batch_to_es", "sink.write"):
        jobs.run_taxi_pipeline(run.spark, src, out_dir=out, checkpoint_dir=ckpt,
                               source_format="wire", collect_results=False, **kw)


def _stream_layers(run: Run, n_calls: int, docs: int, files: int, nbytes: int):
    n = max(1, n_calls)
    run.layers["sources.build_ms"] = run.tracer.total_ms("sources.build") / n
    run.layers["sink.write_ms"] = run.tracer.total_ms("sink.write") / n
    run.layers["sink.docs"] = docs
    run.layers["sink.files"] = files
    run.layers["sink.bytes"] = nbytes


# --- replay_catchup ----------------------------------------------------------

REPLAY_FILES = 2
REPLAY_PER_FILE = 25_000
REPLAY_FILE_MS = 20 * 60_000  # two 10-minute windows of event time per file
REPLAY_ROUND_S = 5.0


def replay_catchup(run: Run) -> float:
    src = os.path.join(run.work, "in")
    trips = gen.backlog(run.seed, src, REPLAY_FILES, REPLAY_PER_FILE, REPLAY_FILE_MS)
    want = expect.wire_expected(trips)
    n_events = REPLAY_FILES * REPLAY_PER_FILE
    sink_totals = []

    def call(traced: bool, timed: bool = True):
        tid, lst = run.begin_call(traced, "run_taxi_pipeline")
        out = os.path.join(run.work, "call", "out")
        ckpt = os.path.join(run.work, "call", "ckpt")
        shutil.rmtree(os.path.join(run.work, "call"), ignore_errors=True)
        poller = Poller(out)
        poller.start()
        t0 = time.time()
        ok = True
        try:
            with run.tracer.call(tid, "run_taxi_pipeline"):
                _pipeline(run, src, out, ckpt, traced, max_files_per_trigger=1)
        except Exception as e:  # noqa: BLE001 - a failed call is counted, the run goes on
            print(f"# run_taxi_pipeline raised: {e!r}", file=sys.stderr)
            ok = False
        wall = time.time() - t0
        poller.stop()
        run.end_call(lst, t0)
        diff = expect.compare_docs(want, poller.seen)
        if any(diff.values()):
            print(f"# replay call: {diff}", file=sys.stderr)
            ok = False
        if timed and not traced:
            run.fresh_ms.extend((poller.seen[k][0] - t0) * 1000 if k in poller.seen else wall * 1000
                                for k in want)
        if traced:
            sink_totals.append((sum(r[2] for r in poller.seen.values()), len(poller.files), poller.bytes))
        run.record(traced, wall, n_events, ok, timed)

    setup_s = run.setup(lambda traced: call(traced, timed=False))
    run.timed_calls(call, REPLAY_ROUND_S)
    if run.traced:
        docs, files, nbytes = (statistics.median(x) for x in zip(*sink_totals))
        _stream_layers(run, len(sink_totals), docs, files, nbytes)
        local3 = statistics.median(run.walls(False))
        run.layers["replay.local3_records_per_s"] = n_events / local3
        run.collect_layers()
        # single-threaded baseline of the same call
        run.spark.stop()
        run.start_spark(cores=1)
        t0 = time.perf_counter()
        call(traced=False, timed=False)
        wall1 = time.perf_counter() - t0
        run.layers["replay.local1_records_per_s"] = n_events / wall1
        run.layers["replay.parallel_speedup"] = wall1 / local3
    return setup_s


# --- paced_dashboard ---------------------------------------------------------

PACED_INTERVAL_S = 0.5
PACED_PER_CHUNK = 500  # 1000 events/s
PACED_SPEEDUP = 6480  # the reference producer's event-time speedup
PACED_CELLS = 300


PACED_PRE = 2  # chunks drained before the clock starts: set-up call, warm-up call


def paced_dashboard(run: Run) -> float:
    """Chunk 0 is drained by the set-up call and chunk 1 by one untimed
    warm-up call (without it the first timed call runs JIT-cold and its
    length decides whether the schedule needs two or three calls); the
    generator then writes chunks 2.. on schedule while the consumer keeps
    calling the pipeline on the same checkpoint."""
    n = max(2, int(run.seconds / PACED_INTERVAL_S))
    chunk_ms = int(PACED_INTERVAL_S * 1000 * PACED_SPEEDUP)
    cell_p = gen.zipf_cells(run.seed, PACED_CELLS)
    chunks = [gen.paced_chunk(run.seed, i, PACED_PER_CHUNK, chunk_ms, cell_p)
              for i in range(PACED_PRE + n)]
    for i, c in enumerate(chunks):
        c["chunk"] = np.full(len(c["trip_id"]), i)
    stream = gen.concat(chunks)
    want = expect.wire_expected(stream)
    wm = expect.clean_max_dropoff_by_chunk(stream)
    # the first chunk after which the emission rule closes each document
    closing = {k: next(i for i, w in enumerate(wm) if w >= k[-1] + 1) for k in want}
    timed_docs = [k for k in want if closing[k] >= PACED_PRE]

    src, out, ckpt = (os.path.join(run.work, d) for d in ("in", "out", "ckpt"))
    os.makedirs(src)

    def put(i: int):
        gen.write_atomic(os.path.join(src, f"chunk-{i:05d}.json"), gen.wire_lines(chunks[i]))

    poller = Poller(out)
    poller.start()
    calls = []  # (start, end, files listed at start, traced)
    raised = False

    def call(listed: int, traced: bool):
        nonlocal raised
        tid, lst = run.begin_call(traced, "run_taxi_pipeline")
        t0 = time.time()
        try:
            with run.tracer.call(tid, "run_taxi_pipeline"):
                _pipeline(run, src, out, ckpt, traced)
        except Exception as e:  # noqa: BLE001 - a failed call is counted, the run goes on
            print(f"# run_taxi_pipeline raised: {e!r}", file=sys.stderr)
            raised = True
        calls.append((t0, time.time(), listed, traced))
        run.end_call(lst, t0)

    log = os.path.join(run.work, "gen.log")
    producer = None
    try:
        put(0)
        setup_s = run.setup(lambda traced: call(1, traced))
        put(1)
        t0 = time.perf_counter()
        call(2, False)
        run.layers["session.warmup_s"] = time.perf_counter() - t0
        start_at = time.time() + 1.0
        producer = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py"),
             "paced", str(run.seed), src, log, str(PACED_PRE), str(n), str(PACED_PER_CHUNK),
             str(PACED_INTERVAL_S), str(PACED_SPEEDUP), str(PACED_CELLS), repr(start_at)])
        consumed = PACED_PRE
        while True:
            done = producer.poll() is not None
            listed = len([f for f in os.listdir(src) if f.endswith(".json")])
            if listed == consumed:
                if done:
                    break
                time.sleep(0.01)
                continue
            traced = run.traced and len(calls) % 2 == 1
            call(listed, traced)
            t0, t1 = calls[-1][:2]
            run.timed.append((traced, t1 - t0, (listed - consumed) * PACED_PER_CHUNK))
            consumed = listed
    finally:
        if producer is not None and producer.poll() is None:
            producer.kill()
        if producer is not None:
            producer.wait()
        poller.stop()

    due = [start_at + (i - PACED_PRE) * PACED_INTERVAL_S for i in range(PACED_PRE + n)]
    diff = expect.compare_docs(want, poller.seen)
    late = 0
    for k in timed_docs:
        seen = poller.seen.get(k)
        f = (seen[0] - due[closing[k]]) * 1000 if seen else float(LATE_MS)
        run.fresh_ms.append(f)
        late += f >= LATE_MS
    if any(diff.values()) or raised:
        print(f"# paced: {diff}, raised={raised}", file=sys.stderr)
        run.correct = False
    # attempted = documents the timed chunks close; one fails when it is
    # missing, wrong, duplicated or later than LATE_MS
    bad = {k for k in timed_docs if k in poller.seen and (
        poller.seen[k][1] != want[k] or poller.seen[k][2] > 1)}
    run.attempted = len(timed_docs)
    run.failed = len(timed_docs) if raised else late + len(bad)

    with open(log) as f:
        lags = [json.loads(line)["lag_ms"] for line in f]
    print("# paced calls (start s, wall s, chunks on disk):",
          [(round(a - start_at, 2), round(b - a, 2), c) for a, b, c, _ in calls], file=sys.stderr)
    # chunks on disk that no call had picked up when the last one landed
    end = start_at + (n - 1) * PACED_INTERVAL_S
    backlog = PACED_PRE + n - max(c[2] for c in calls if c[0] <= end)
    if max(lags) > PACED_INTERVAL_S * 1000 or backlog > n // 2:
        print(f"# paced: generator lag {max(lags):.0f} ms, backlog {backlog} files at its end:"
              " the offered rate was not sustained", file=sys.stderr)
    if run.traced:
        run.layers["gen.lag_ms_max"] = max(lags)
        run.layers["gen.backlog_files_end"] = backlog
        run.layers["late_share"] = late / max(1, len(timed_docs))
        nc = len(calls)
        _stream_layers(run, nc, sum(r[2] for r in poller.seen.values()) / nc,
                       len(poller.files) / nc, poller.bytes / nc)
    run.collect_layers()
    return setup_s


WORKLOADS = {
    "replay_catchup": replay_catchup,
    "paced_dashboard": paced_dashboard,
    "batch_backfill": batch_backfill,
    "corpus_dedup": corpus_dedup,
}
