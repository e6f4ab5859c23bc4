"""Benchmark harness (driver contract).

Runs every query in ``__spark_entry__.queries()`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": <headline sec>, "unit": "sec",
"queries": {headline: sec}, "sf": ..., "queries_detail": ...}``.
The line is kept COMPACT (headline queries + totals) so it fits whole
inside the driver's bounded stdout-tail capture (r11, VERDICT r10 #6 —
the full 160+-entry line never fit and parsed as null); the complete
per-query map and every raw run are committed to
``BENCH_DETAIL_r{N}.json`` alongside.

``value`` is the summed wall time of the headline reference queries
(q1 + q2), the number BASELINE.md's derived events/s target applies to;
per-query times for the whole surface are in ``queries``.

Each query is executed ``N_RUNS`` times and the MEDIAN wall time is
reported (single-shot walls at 0.5-5 s vary ±20-40% with JVM/GC/OS
noise on this box, which would drown real round-over-round changes;
the median is the standard robust estimator and is reported for every
query identically).

Steady-state semantics: batch queries come out of the registry behind a
per-session plan cache (plancache.py), so repeat runs skip the Python
expression re-parsing (~0.2 s/query for the big taxi trees). Each timed
run still builds a fresh count plan over the cached frame — Catalyst
optimization AND the full physical execution (fresh shuffles included)
are paid every run, so the medians measure real re-processing, not
result re-fetch. (An earlier variant also cached the count plan; that
was rejected: Spark reuses materialized exchange output across
re-executions of the same physical plan, which turns repeat runs into
post-shuffle re-reads and inflates events/s ~20x dishonestly.)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

N_RUNS = 3  # runs per query; the reported time is the median

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry
from flink_stream_processing_refarch_spark.schemas import load_table
from flink_stream_processing_refarch_spark.session import get_spark

HEADLINE = ("q1_pickup_count", "q2_trip_duration")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # machine-condition context (r09): same-day full-bench runs have
    # spanned a ~1.2x WHOLE-REGISTRY wall ratio with identical code
    # (README r09 notes: median 1.17x across 105 untouched entries), so
    # the box's load before/after rides along in the artifact — noise
    # attribution becomes data instead of a re-measure request.
    load_before = os.getloadavg()
    spark = get_spark("bench")

    # Warm the JVM (codegen/JIT), python workers, and parquet footer caches
    # with tiny sf0.001 runs — the timed numbers then measure steady-state
    # throughput, not one-time compilation.
    # via load_table: applies the layout shims (nanos flag / ts
    # normalization) so the warm read works on either parquet layout
    n_events = load_table(spark, sf_dir, "events").count()
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        qs = entry.queries()
        # q1/q2_streaming warm the micro-batch engine + state-store classes +
        # each query's codegen (q2's airport/duration expression tree
        # compiles once), stateful_sessionize the python state workers —
        # first-streaming-query init otherwise lands inside timed runs.
        for wq in (
            "q1_pickup_count",
            "q2_trip_duration",
            "media_features",
            "q1_streaming",
            "q2_streaming",
            "stateful_sessionize",
        ):
            try:
                qs[wq](spark, warm_dir).count()
            except Exception as e:  # noqa: BLE001
                print(f"# warmup {wq} failed: {e}", file=sys.stderr)

    timings: dict[str, float] = {}
    detail: dict[str, dict] = {}
    for name, fn in entry.queries().items():
        runs = []
        for _ in range(N_RUNS):
            t0 = time.time()
            df = fn(spark, sf_dir)
            n = df.count()  # materializes the plan; results are aggregates
            runs.append(time.time() - t0)
        timings[name] = round(statistics.median(runs), 3)
        detail[name] = {"rows": n, "runs": [round(r, 3) for r in runs]}
        print(
            f"# {name}: {n} rows; median {timings[name]}s of "
            f"{[round(r, 3) for r in runs]}",
            file=sys.stderr,
        )

    headline = sum(timings.get(q, 0.0) for q in HEADLINE)
    total = sum(timings.values())
    out = {
        "metric": (
            "taxi q1+q2 wall time, median of "
            f"{N_RUNS} runs/query (headline); all queries in 'queries'"
        ),
        "value": round(headline, 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "total_sec": round(total, 3),
        "events_rows": n_events,
        "events_per_sec_headline": round(2 * n_events / headline) if headline else None,
        "loadavg_before": [round(v, 2) for v in load_before],
        "loadavg_after": [round(v, 2) for v in os.getloadavg()],
    }
    # Self-contained per-round artifact (VERDICT r06 #4: the driver's
    # stdout capture truncated BENCH_r06.json's tail, losing ~60 early
    # per-query timings) — the full result incl. every raw run is also
    # WRITTEN to BENCH_DETAIL_r{N}.json next to this script, where N =
    # current round inferred from the newest driver-committed
    # BENCH_r{N-1}.json. Committed alongside, it makes round-over-round
    # diffs independent of tail-capture luck.
    import glob as _glob
    import re as _re

    here = os.path.dirname(os.path.abspath(__file__))
    prev = [
        int(m.group(1))
        for f in _glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := _re.match(r"BENCH_r(\d+)\.json$", os.path.basename(f)))
    ]
    rnd = (max(prev) + 1) if prev else 0
    detail_name = f"BENCH_DETAIL_r{rnd:02d}.json"
    with open(os.path.join(here, detail_name), "w") as f:
        json.dump({**out, "detail": detail, "n_runs": N_RUNS}, f, indent=1)
    # The driver captures only a bounded TAIL of stdout (~1.9 KB), so a
    # single line carrying all 160+ per-query timings never fit and
    # BENCH_r*.json recorded "parsed": null for three rounds (VERDICT
    # r10 #6). Print ONE COMPACT line instead — headline queries,
    # totals, and a pointer to the committed detail artifact, which
    # holds the full per-query map (and every raw run) as before.
    print(json.dumps({
        **{k: out[k] for k in (
            "metric", "value", "unit", "sf", "total_sec", "events_rows",
            "events_per_sec_headline", "loadavg_before", "loadavg_after",
        )},
        "queries": {q: timings[q] for q in HEADLINE if q in timings},
        "n_queries": len(timings),
        "queries_detail": detail_name,
    }))


if __name__ == "__main__":
    main()
