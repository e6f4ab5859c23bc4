"""taxiflow end-to-end benchmark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's input from the seed, runs it against the
``flink_stream_processing_refarch_spark`` package found in the current
directory, checks every result against DuckDB, and prints one JSON line
last: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are BENCHMARK.json's ``end_to_end`` list; with
``--trace 1`` its ``per_layer`` list (a layer a workload does not
exercise reads 0). A readable report goes to stderr, and traced runs
leave their spans in ``.perfbench-work/reports/``.

All scratch files live under ``.perfbench-work/`` in the current
directory; the run removes its own inputs and stops the JVM it started
before it exits.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

PKG = "flink_stream_processing_refarch_spark"


def _stat(pid: int) -> tuple[str, int] | None:
    """(state, parent pid) of a process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return fields[0], int(fields[1])


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid``: the JVM, its Python workers and
    the helpers they fork."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        st = _stat(int(d)) if d.isdigit() else None
        if st is not None and st[0] != "Z":
            kids.setdefault(st[1], []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _stop_jvm() -> None:
    """Stop Spark and the JVM process PySpark launched, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - the JVM did not exit on its own
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    sys.path.insert(0, root)
    spec_path = os.path.join(root, "BENCHMARK.json")
    if importlib.util.find_spec(PKG) is None or not os.path.isfile(spec_path):
        print(f"perfbench: {root} lacks the {PKG} package or BENCHMARK.json", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)

    import measure
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    base = os.path.join(root, ".perfbench-work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")

    host0 = measure.cpu_times()
    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        setup_s = workloads.WORKLOADS[args.workload](run)
        host = measure.host_conditions(host0)
        if args.trace:
            figures = {**run.layers, **run.memory(), **host,
                       "failed_share": run.failed / max(1, run.attempted)}
            wanted = spec["per_layer"]
        else:
            figures = run.end_to_end(setup_s)
            wanted = spec["end_to_end"]
    except Exception:  # noqa: BLE001 - report and exit without a result
        traceback.print_exc()
        return 1
    finally:
        procs = _descendants(os.getpid())
        _stop_jvm()
        deadline = time.time() + 15
        while time.time() < deadline and any(_alive(p) for p in procs):
            time.sleep(0.1)
        for p in filter(_alive, procs):
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, signal.SIGKILL)

    metrics = {m["name"]: {"value": float(figures.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(f"# {args.workload} seed={args.seed} trace={args.trace} calls={run.attempted} "
          f"failed={run.failed}", file=sys.stderr)
    for name, m in metrics.items():
        print(f"#   {name:32s} {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print("#   host: " + ", ".join(f"{k}={v:.3g}" for k, v in host.items()), file=sys.stderr)
    if args.trace:
        reports = os.path.join(base, "reports")
        os.makedirs(reports, exist_ok=True)
        path = os.path.join(reports, f"{args.workload}-s{args.seed}.json")
        run.tracer.dump(path)
        for name, ms in sorted(run.tracer.self_ms().items()):
            print(f"#   self {name:27s} {ms:.1f} ms", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": run.correct, "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
