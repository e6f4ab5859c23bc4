"""Wire-loop scaling decade (VERDICT r08 #4): the S7->S1 Kinesis
transport fake end-to-end at sf0.1 -> sf1.

`q1_kinesis_wire` had only run at driver scale; the transport writes one
record dir per PutRecords epoch and the consumer re-lists the
``records-e*`` glob every trigger, so listing cost grows with epoch
count. This measures each leg a decade up, on the same composite corpus
as the taxi decade (tools/scale_taxi.build_composite — 10 time-shifted
replicas of the driver's sf0.1 events):

  replay  : dataset -> wire JSON chunks (the producer's serialization)
  pump    : wire chunks -> fake PutRecords epochs (kinesis_writer,
            maxFilesPerTrigger=10, so epoch count grows ~10x per decade
            exactly like a longer-running producer)
  consume : kinesis_reader -> parse_wire_bytes -> wire_trips -> Q1
            (the registry plan), vs the DIRECT wire-file path
            (q1_from_wire) over the same chunks as the control

Pass criterion (the VERDICT's "done"): per-decade growth of the
wire-loop legs <= the direct-source path's growth, and the Q1 result via
the fake is row-identical to the direct path at both scales.

Run: python tools/scale_wire.py [SCALE REPLICAS]   (appends SCALING.md)

Knob mode (VERDICT r09 #8): pump wall is epoch-count-bound (one
PutRecords epoch per ``maxFilesPerTrigger`` wire chunks — each epoch
pays a fixed micro-batch + commit cost), so chunkier epochs trade
producer LATENCY (records sit longer before a PutRecords flush) for
pump WALL. ``python tools/scale_wire.py knob [SCALE REPLICAS]`` sweeps
maxFilesPerTrigger over 10/50/200 on the same replayed chunks and
appends the latency-vs-wall table to SCALING.md (consume leg measured
per setting too — fewer, larger epochs also shrink the consumer's
``records-e*`` listing).
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_stream_processing_refarch_spark.session import get_spark  # noqa: E402

SF01 = "/root/testdata/sf0.1"
MODE = sys.argv[1] if len(sys.argv) > 1 and sys.argv[1] in (
    "knob", "fsck"
) else None
KNOB_MODE = MODE == "knob"
FSCK_MODE = MODE == "fsck"
_args = sys.argv[2:] if MODE else sys.argv[1:]
if MODE:
    # scale_taxi still parses its CLI defaults at import time; present
    # it the usual [SCALE REPLICAS] layout without the mode token
    sys.argv = [sys.argv[0], *_args]
SCALE = _args[0] if len(_args) > 0 else "sf1"
REPLICAS = int(_args[1]) if len(_args) > 1 else 10
WORK = f"/dev/shm/graft_wire_{SCALE}"
PUMP_FILES_PER_EPOCH = "10"
KNOB_SETTINGS = (10, 50, 200)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def run_leg(label: str, fn) -> tuple[float, object]:
    t0 = time.time()
    out = fn()
    w = time.time() - t0
    print(f"  {label}: {w:.2f}s", flush=True)
    return w, out


def main() -> None:
    from scale_taxi import build_composite

    from flink_stream_processing_refarch_spark.plans import taxi
    from flink_stream_processing_refarch_spark.sources import kinesis
    from flink_stream_processing_refarch_spark.streaming import jobs, replay

    comp = build_composite(SCALE, REPLICAS)
    spark = get_spark("scale_wire")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # warm pass at sf0.001: absorb session/JIT/codegen one-time costs so
    # the sf0.1 leg (which runs first) isn't charged for them
    wbase = os.path.join(WORK, "warm")
    shutil.rmtree(wbase, ignore_errors=True)
    os.makedirs(wbase)
    wwire = os.path.join(wbase, "wire")
    wend = f"file://{os.path.join(wbase, 'streams')}"
    replay.replay(spark, "/root/testdata/sf0.001", wwire, adapt="ORIGINAL")
    jobs.pump_wire_to_kinesis(
        spark, wwire, wend, maxFilesPerTrigger=PUMP_FILES_PER_EPOCH
    )
    wrec = kinesis.kinesis_reader(
        spark, "taxi-trips", "local", endpoint=wend
    ).load()
    jobs._run_to_memory(
        taxi.q1(jobs.wire_trips(kinesis.parse_wire_bytes(wrec)))
    ).count()
    jobs.q1_from_wire(spark, wwire).count()
    shutil.rmtree(wbase, ignore_errors=True)
    print("[warm pass done]", flush=True)
    res: dict[str, dict[str, float]] = {}
    meta: dict[str, dict[str, int]] = {}
    for label, sf_dir in (("sf0.1", SF01), (SCALE, comp)):
        print(f"[{label}]", flush=True)
        base = os.path.join(WORK, label)
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        wire = os.path.join(base, "wire")
        endpoint = f"file://{os.path.join(base, 'streams')}"
        r = res.setdefault(label, {})
        m = meta.setdefault(label, {})

        r["replay"], m["events"] = run_leg(
            "replay", lambda: replay.replay(spark, sf_dir, wire, adapt="ORIGINAL")
        )
        m["chunks"] = len(glob.glob(os.path.join(wire, "*")))

        r["pump"], _ = run_leg(
            "pump",
            lambda: jobs.pump_wire_to_kinesis(
                spark, wire, endpoint, maxFilesPerTrigger=PUMP_FILES_PER_EPOCH
            ),
        )
        sdir = os.path.join(base, "streams", "taxi-trips")
        m["epochs"] = len(glob.glob(os.path.join(sdir, "records-e*")))
        m["record_files"] = len(
            glob.glob(os.path.join(sdir, "records-e*", "records-*.json"))
        )

        def consume():
            records = kinesis.kinesis_reader(
                spark, "taxi-trips", "local", endpoint=endpoint
            ).load()
            trips = jobs.wire_trips(kinesis.parse_wire_bytes(records))
            return _rows(jobs._run_to_memory(taxi.q1(trips)))

        r["consume"], via_fake = run_leg("consume", consume)
        r["direct"], direct = run_leg(
            "direct", lambda: _rows(jobs.q1_from_wire(spark, wire))
        )
        assert via_fake == direct, (
            f"{label}: wire-fake Q1 diverged from the direct path"
        )
        m["q1_rows"] = len(direct)
        print(f"  chunks={m['chunks']} epochs={m['epochs']}"
              f" files={m['record_files']} q1_rows={m['q1_rows']}",
              flush=True)

    g = {
        k: res[SCALE][k] / res["sf0.1"][k]
        for k in ("replay", "pump", "consume", "direct")
    }
    loop0 = sum(res["sf0.1"][k] for k in ("replay", "pump", "consume"))
    loop1 = sum(res[SCALE][k] for k in ("replay", "pump", "consume"))
    lines = [
        "",
        f"## Wire-loop decade (sf0.1 -> {SCALE}) — the S7->S1 transport fake",
        "",
        f"Generated by `tools/scale_wire.py {SCALE} {REPLICAS}` on the same",
        "composite corpus as the taxi decade. The pump cuts one PutRecords",
        f"epoch per {PUMP_FILES_PER_EPOCH} wire chunks"
        " (maxFilesPerTrigger), so epoch count — and the",
        "consumer's per-trigger `records-e*` listing — grows with the decade",
        "exactly like a long-running producer's would. Q1 via the fake is",
        "asserted row-identical to the direct wire-file path at both scales.",
        "",
        f"| leg | sf0.1 wall | {SCALE} wall | growth ({REPLICAS}x data) |",
        "|---|---|---|---|",
    ]
    for k in ("replay", "pump", "consume", "direct"):
        lines.append(
            f"| {k} | {res['sf0.1'][k]:.2f}s | {res[SCALE][k]:.2f}s |"
            f" {g[k]:.1f}x |"
        )
    lines += [
        "",
        f"Scale meta: chunks {meta['sf0.1']['chunks']} ->"
        f" {meta[SCALE]['chunks']}, epochs {meta['sf0.1']['epochs']} ->"
        f" {meta[SCALE]['epochs']}, record files"
        f" {meta['sf0.1']['record_files']} ->"
        f" {meta[SCALE]['record_files']}, events"
        f" {meta['sf0.1']['events']:,} -> {meta[SCALE]['events']:,},"
        f" Q1 rows {meta['sf0.1']['q1_rows']} -> {meta[SCALE]['q1_rows']}.",
        f"Whole loop {loop0:.2f}s -> {loop1:.2f}s"
        f" ({loop1 / loop0:.1f}x); consume growth {g['consume']:.1f}x vs"
        f" direct-path growth {g['direct']:.1f}x.",
    ]
    with open("/root/repo/SCALING.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print("appended wire-loop decade to SCALING.md")
    print({k: {kk: round(vv, 2) for kk, vv in v.items()} for k, v in res.items()})


def knob_main() -> None:
    """Sweep maxFilesPerTrigger (epoch chunkiness) at ``SCALE`` over the
    SAME replayed wire chunks; Q1 via the fake must stay row-identical
    to the direct path at every setting."""
    from scale_taxi import build_composite

    from flink_stream_processing_refarch_spark.plans import taxi
    from flink_stream_processing_refarch_spark.sources import kinesis
    from flink_stream_processing_refarch_spark.streaming import jobs, replay

    comp = build_composite(SCALE, REPLICAS)
    spark = get_spark("scale_wire_knob")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = os.path.join(WORK, "knob")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    wire = os.path.join(base, "wire")
    _, n_events = (lambda t0=time.time(): (
        None, replay.replay(spark, comp, wire, adapt="ORIGINAL")
    ))()
    chunks = len(glob.glob(os.path.join(wire, "*")))
    print(f"[knob] {n_events:,} events in {chunks} chunks", flush=True)
    # warm: one tiny pump+consume absorbs session/codegen one-time costs
    wend = f"file://{os.path.join(base, 'warm_streams')}"
    jobs.pump_wire_to_kinesis(spark, wire, wend, maxFilesPerTrigger="200")
    shutil.rmtree(os.path.join(base, "warm_streams"), ignore_errors=True)
    rows = []
    direct = None
    for files_per in KNOB_SETTINGS:
        endpoint = f"file://{os.path.join(base, f'streams_{files_per}')}"
        w_pump, _ = run_leg(
            f"pump mf={files_per}",
            lambda: jobs.pump_wire_to_kinesis(
                spark, wire, endpoint, maxFilesPerTrigger=str(files_per)
            ),
        )
        sdir = os.path.join(base, f"streams_{files_per}", "taxi-trips")
        epochs = len(glob.glob(os.path.join(sdir, "records-e*")))

        def consume():
            records = kinesis.kinesis_reader(
                spark, "taxi-trips", "local", endpoint=endpoint
            ).load()
            trips = jobs.wire_trips(kinesis.parse_wire_bytes(records))
            return _rows(jobs._run_to_memory(taxi.q1(trips)))

        w_consume, via_fake = run_leg(f"consume mf={files_per}", consume)
        if direct is None:
            _, direct = run_leg(
                "direct (control)", lambda: _rows(jobs.q1_from_wire(spark, wire))
            )
        assert via_fake == direct, f"mf={files_per}: Q1 diverged"
        rows.append((files_per, epochs, w_pump, w_consume))
        print(f"  mf={files_per}: epochs={epochs} pump={w_pump:.2f}s"
              f" consume={w_consume:.2f}s", flush=True)

    lines = [
        "",
        f"## Pump epoching knob at {SCALE} (VERDICT r09 #8)",
        "",
        f"Generated by `tools/scale_wire.py knob {SCALE} {REPLICAS}`:"
        f" same {n_events:,}-event / {chunks}-chunk replay, pump re-run"
        " per maxFilesPerTrigger. One PutRecords epoch per trigger, so",
        "chunkier epochs trade producer flush latency (records wait up",
        "to maxFilesPerTrigger chunks before landing on the wire) for",
        "pump wall — the per-epoch fixed cost (micro-batch planning +",
        "deterministic commit + manifest) dominates the pump leg. Q1 via",
        "the fake asserted row-identical to the direct path throughout.",
        "",
        "| maxFilesPerTrigger | epochs | pump wall | consume wall |"
        " pump s/epoch |",
        "|---|---|---|---|---|",
    ]
    for files_per, epochs, w_pump, w_consume in rows:
        lines.append(
            f"| {files_per} | {epochs} | {w_pump:.2f}s | {w_consume:.2f}s |"
            f" {w_pump / max(epochs, 1):.2f}s |"
        )
    with open("/root/repo/SCALING.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print("appended pump-knob table to SCALING.md")


def fsck_main() -> None:
    """Measure `verify_wire_stream` (the at-rest wire fsck, r11) at the
    decade (VERDICT r11 #5): pump the composite at the decade's usual
    maxFilesPerTrigger=10 epoching, then time the audit at sf0.1 and at
    SCALE — 3 runs each — against each stream's consume leg on the same
    box. The claim under test: the fsck is ONE distributed job over the
    whole stream regardless of epoch count (one bounded row per file to
    the driver), so its wall should track data volume like a single
    consume-shaped scan, not epoch count."""
    import statistics

    from scale_taxi import build_composite

    from flink_stream_processing_refarch_spark.plans import taxi
    from flink_stream_processing_refarch_spark.sources import (
        kinesis, kinesis_fake,
    )
    from flink_stream_processing_refarch_spark.streaming import jobs, replay

    comp = build_composite(SCALE, REPLICAS)
    spark = get_spark("scale_wire_fsck")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = os.path.join(WORK, "fsck")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    # warm pass at sf0.001 (session/JIT/codegen one-time costs)
    wwire = os.path.join(base, "warm_wire")
    wend = f"file://{os.path.join(base, 'warm_streams')}"
    replay.replay(spark, "/root/testdata/sf0.001", wwire, adapt="ORIGINAL")
    jobs.pump_wire_to_kinesis(spark, wwire, wend)
    kinesis_fake.verify_wire_stream(
        spark, os.path.join(base, "warm_streams"), "taxi-trips"
    )
    print("[warm pass done]", flush=True)
    rows = []
    for label, sf_dir in (("sf0.1", SF01), (SCALE, comp)):
        wire = os.path.join(base, f"wire_{label}")
        endpoint = f"file://{os.path.join(base, f'streams_{label}')}"
        sroot = os.path.join(base, f"streams_{label}")
        _, n_events = run_leg(
            f"replay {label}",
            lambda: replay.replay(spark, sf_dir, wire, adapt="ORIGINAL"),
        )
        w_pump, _ = run_leg(
            f"pump {label}",
            lambda: jobs.pump_wire_to_kinesis(
                spark, wire, endpoint,
                maxFilesPerTrigger=PUMP_FILES_PER_EPOCH,
            ),
        )

        def consume():
            records = kinesis.kinesis_reader(
                spark, "taxi-trips", "local", endpoint=endpoint
            ).load()
            trips = jobs.wire_trips(kinesis.parse_wire_bytes(records))
            return _rows(jobs._run_to_memory(taxi.q1(trips)))

        w_consume, _ = run_leg(f"consume {label}", consume)
        walls, rep = [], None
        for i in range(3):
            w, rep = run_leg(
                f"fsck {label} #{i + 1}",
                lambda: kinesis_fake.verify_wire_stream(
                    spark, sroot, "taxi-trips"
                ),
            )
            walls.append(w)
        rows.append((
            label, n_events, rep["epochs"], rep["files"], rep["records"],
            w_consume, statistics.median(walls), walls,
        ))
        print(f"  {label}: epochs={rep['epochs']} files={rep['files']}"
              f" fsck={walls}", flush=True)
    lines = [
        "",
        f"## At-rest wire fsck at the decade ({SCALE}) — VERDICT r11 #5",
        "",
        f"Generated by `tools/scale_wire.py fsck {SCALE} {REPLICAS}`:"
        " pump at maxFilesPerTrigger="
        f"{PUMP_FILES_PER_EPOCH}, then `verify_wire_stream` timed 3x per"
        " scale (median reported; all runs shown). The fsck is one",
        "distributed job over every committed epoch's record files with",
        "one bounded row per file collected, so its wall should grow",
        "like a single consume-shaped scan of the stream — NOT like a",
        "per-epoch loop (which would add a fixed per-epoch job cost",
        "hundreds of times over at the decade).",
        "",
        "| scale | events | epochs | record files | consume wall |"
        " fsck wall (median of 3) | runs |",
        "|---|---|---|---|---|---|---|",
    ]
    for (label, n_events, epochs, files, _records, w_consume, med,
         walls) in rows:
        lines.append(
            f"| {label} | {n_events:,} | {epochs} | {files} |"
            f" {w_consume:.2f}s | {med:.2f}s |"
            f" {', '.join(f'{w:.2f}' for w in walls)} |"
        )
    (_, e0, ep0, _, _, c0, f0, _), (_, e1, ep1, _, _, c1, f1, _) = rows
    lines += [
        "",
        f"Growth: events {e1 / e0:.0f}x, epochs {ep1 / ep0:.1f}x —"
        f" fsck wall {f1 / f0:.1f}x vs consume {c1 / c0:.1f}x;"
        f" fsck/consume ratio {f0 / c0:.2f} at sf0.1 ->"
        f" {f1 / c1:.2f} at {SCALE}.",
    ]
    with open("/root/repo/SCALING.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print("appended fsck decade to SCALING.md")


if __name__ == "__main__":
    fsck_main() if FSCK_MODE else (knob_main() if KNOB_MODE else main())
