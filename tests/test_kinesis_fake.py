"""S1/S7 end-to-end over the local Kinesis wire fake (VERDICT r07 #3):
the producer swap point (``kinesis_writer`` — StreamPopulator.java:62-66)
pumps wire JSON into a directory-backed stream speaking the connector's
record contract, and the consumer swap point (``kinesis_reader`` +
``parse_wire_bytes`` — ProcessTaxiStream.java:73-87) drives the taxi
queries off it, with the connector jar absent throughout."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from flink_stream_processing_refarch_spark.plans import taxi
from flink_stream_processing_refarch_spark.sources import kinesis, kinesis_fake
from flink_stream_processing_refarch_spark.streaming import jobs, replay

from conftest import SF_DIR


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_wire_frame_partition_key_routing(spark):
    """F9: partition key = hash(payload) (producer Event.java:38-40) —
    deterministic, equal payloads get equal keys, and the fake's
    key->shard routing is stable and in range."""
    df = spark.createDataFrame(
        [("payload-a",), ("payload-a",), ("payload-b",)], "value string"
    )
    frame = kinesis.wire_frame(df)
    rows = frame.collect()
    keys = [r.partitionKey for r in rows]
    assert keys[0] == keys[1]  # same payload -> same key -> same shard
    assert keys[0] != keys[2]
    # re-evaluation gives the identical keys (routing is a pure function)
    assert keys == [r.partitionKey for r in kinesis.wire_frame(df).collect()]
    shards = frame.select(
        kinesis_fake.shard_id_col(F.col("partitionKey"), 4).alias("s")
    ).collect()
    assert all(r.s.startswith("shardId-") for r in shards)
    assert all(0 <= int(r.s.split("-")[1]) < 4 for r in shards)


def test_fake_records_speak_the_connector_contract(spark, tmp_path):
    """Writer output read back through kinesis_reader carries exactly the
    connector's columns; data round-trips byte-identical through the
    wire base64; shard routing matches the key; per-shard sequence
    numbers strictly increase across epochs."""
    root = str(tmp_path / "streams")
    payloads = [f'{{"n":{i}}}' for i in range(20)]
    df = spark.createDataFrame([(p,) for p in payloads], "value string")
    frame = kinesis.wire_frame(df)
    kinesis_fake.write_wire_batch(frame, 0, root, "s1")
    kinesis_fake.write_wire_batch(frame, 1, root, "s1")

    rec = kinesis.kinesis_reader(
        spark, "s1", "local", endpoint=f"file://{root}"
    ).load()
    assert rec.schema.simpleString() == (
        "struct<data:binary,streamName:string,partitionKey:string,"
        "shardId:string,sequenceNumber:string,"
        "approximateArrivalTimestamp:timestamp>"
    )
    q = rec.writeStream.format("memory").queryName("kfake_contract")
    run = q.trigger(availableNow=True).start()
    run.awaitTermination()
    rows = spark.table("kfake_contract").collect()
    assert len(rows) == 2 * len(payloads)
    got = sorted(bytes(r.data).decode() for r in rows)
    assert got == sorted(payloads * 2)
    assert {r.streamName for r in rows} == {"s1"}
    # shard assignment is a pure function of the partition key
    for r in rows:
        assert r.shardId.startswith("shardId-")
    by_key = {}
    for r in rows:
        by_key.setdefault(r.partitionKey, set()).add(r.shardId)
    assert all(len(s) == 1 for s in by_key.values())
    # per-shard sequence numbers strictly increase across epochs
    # (epoch-prefixed, zero-padded: string order == numeric order)
    by_shard_epoch = {}
    for r in rows:
        e = int(r.sequenceNumber[:10])
        by_shard_epoch.setdefault((r.shardId, e), []).append(r.sequenceNumber)
    for (shard, e), seqs in by_shard_epoch.items():
        assert len(set(seqs)) == len(seqs)  # unique
        if (shard, e + 1) in by_shard_epoch:
            assert max(seqs) < min(by_shard_epoch[(shard, e + 1)])


def test_epoch_redelivery_is_idempotent(spark, tmp_path):
    """Structured Streaming redelivers a whole epoch on recovery; the
    fake PutRecords overwrites that epoch's directory, so a replayed
    epoch leaves no duplicates (same guarantee as the ES bulk sink)."""
    root = str(tmp_path / "streams")
    df = spark.createDataFrame([("a",), ("b",)], "value string")
    frame = kinesis.wire_frame(df)
    kinesis_fake.write_wire_batch(frame, 7, root, "s2")
    before = sorted(
        glob.glob(os.path.join(root, "s2", "records-e*", "records-*.json"))
    )
    kinesis_fake.write_wire_batch(frame, 7, root, "s2")  # redelivery
    dirs = glob.glob(os.path.join(root, "s2", "records-e*"))
    assert len(dirs) == 1
    after = sorted(
        glob.glob(os.path.join(root, "s2", "records-e*", "records-*.json"))
    )
    assert after == before  # deterministic commit names: same paths
    n = (
        spark.read.schema(kinesis_fake.WIRE_CONTRACT)
        .option("pathGlobFilter", "records-*.json")
        .json(dirs[0])
        .count()
    )
    assert n == 2


def test_redelivery_with_different_split_fails(spark, tmp_path):
    """Path-idempotent redelivery assumes the restarted pump reproduces
    the SAME per-file split; since r10 the epoch manifest enforces it
    (r09 review): a redelivery arriving with different partitioning OR
    different content must FAIL the commit instead of shifting file
    indices — shifted names would look NEW to the consumer's seen-files
    log and silently duplicate rows. The commit is STAGED, so a failed
    redelivery leaves the committed epoch byte-untouched; same-split
    redelivery (the legitimate recovery path) still succeeds."""
    import json as _json

    import pytest

    root = str(tmp_path / "streams")
    df = spark.createDataFrame([(f"p{i}",) for i in range(8)], "value string")
    frame = kinesis.wire_frame(df).repartition(2)
    kinesis_fake.write_wire_batch(frame, 3, root, "s3")
    edir = kinesis_fake.epoch_dir(root, "s3", 3)
    mpath = os.path.join(edir, kinesis_fake.EPOCH_MANIFEST)
    with open(mpath) as f:
        first = _json.load(f)
    assert first["n_files"] == 2
    assert sum(e[0] for e in first["files"]) == 8
    # legitimate redelivery: identical split -> same names, no error
    kinesis_fake.write_wire_batch(frame, 3, root, "s3")
    with open(mpath) as f:
        assert _json.load(f) == first
    committed = {
        f: os.path.getsize(os.path.join(edir, f)) for f in os.listdir(edir)
    }
    # restart with DIFFERENT parallelism: the commit must fail...
    with pytest.raises(RuntimeError, match="split mismatch"):
        kinesis_fake.write_wire_batch(
            kinesis.wire_frame(df).repartition(4), 3, root, "s3"
        )
    # ...and with DIFFERENT content at the same split (counts equal,
    # payloads not): the content fingerprint must catch it too
    df2 = spark.createDataFrame(
        [(f"q{i}",) for i in range(8)], "value string"
    )
    with pytest.raises(RuntimeError, match="split mismatch"):
        kinesis_fake.write_wire_batch(
            kinesis.wire_frame(df2).repartition(2), 3, root, "s3"
        )
    # the committed epoch survived both failed redeliveries untouched
    assert {
        f: os.path.getsize(os.path.join(edir, f)) for f in os.listdir(edir)
    } == committed
    # and no staging debris remains in the stream dir
    assert not [
        d for d in os.listdir(os.path.join(root, "s3"))
        if d.startswith("_staging-")
    ]


def test_consumer_skips_redelivered_epochs(spark, tmp_path):
    """Effectively-once ACROSS the transport (VERDICT r08 #7): after a
    consumer has consumed the stream, a producer crash-restart that
    re-pumps every epoch (byte-identical files at identical paths — the
    deterministic commit names) adds ZERO new rows on the consumer's
    next trigger: its checkpointed seen-files offsets skip the
    redelivered epochs. The reference only gets this effectively-once
    via idempotent sink buffering (ElasticsearchJestSink.java:139-148);
    here the transport itself is replay-stable."""
    import shutil

    wire = str(tmp_path / "wire")
    replay.replay(spark, SF_DIR, wire, adapt="ORIGINAL")
    endpoint = f"file://{tmp_path / 'streams'}"
    jobs.pump_wire_to_kinesis(spark, wire, endpoint, maxFilesPerTrigger="2")
    sdir = os.path.join(str(tmp_path / "streams"), "taxi-trips")
    files_before = sorted(
        glob.glob(os.path.join(sdir, "records-e*", "records-*.json"))
    )
    assert len(glob.glob(os.path.join(sdir, "records-e*"))) > 1

    ck = str(tmp_path / "consumer_ck")
    sink = str(tmp_path / "consumed")

    def consume():
        rec = kinesis.kinesis_reader(
            spark, "taxi-trips", "local", endpoint=endpoint
        ).load()
        q = (
            rec.selectExpr("CAST(data AS STRING) AS payload")
            .writeStream.format("json")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return (
            spark.read.schema("payload string").json(sink).count()
        )

    n1 = consume()
    assert n1 > 0
    # producer crash-restart: redeliver EVERY epoch (fresh pump
    # checkpoint, same bounded source => same epoch split, same paths)
    jobs.pump_wire_to_kinesis(spark, wire, endpoint, maxFilesPerTrigger="2")
    files_after = sorted(
        glob.glob(os.path.join(sdir, "records-e*", "records-*.json"))
    )
    assert files_after == files_before
    n2 = consume()  # same consumer checkpoint: nothing new to read
    assert n2 == n1
    shutil.rmtree(ck, ignore_errors=True)


def test_q1_through_kinesis_fake_matches_wire_path(spark, tmp_path):
    """The transport is value-invisible: Q1 through
    replay -> kinesis_writer -> fake stream -> kinesis_reader ->
    parse_wire_bytes equals Q1 over the same wire chunks read directly
    (the established, oracle-checked path) — including when the pump
    splits the chunks across MULTIPLE PutRecords epochs."""
    wire = str(tmp_path / "wire")
    replay.replay(spark, SF_DIR, wire, adapt="ORIGINAL")
    direct = _rows(jobs.q1_from_wire(spark, wire))

    endpoint = f"file://{tmp_path / 'streams'}"
    # maxFilesPerTrigger=2 -> several epochs, proving multi-epoch pickup
    jobs.pump_wire_to_kinesis(
        spark, wire, endpoint, maxFilesPerTrigger="2"
    )
    epochs = glob.glob(
        os.path.join(str(tmp_path / "streams"), "taxi-trips", "records-e*")
    )
    assert len(epochs) > 1
    records = kinesis.kinesis_reader(
        spark, "taxi-trips", "local", endpoint=endpoint
    ).load()
    trips = jobs.wire_trips(kinesis.parse_wire_bytes(records))
    via_fake = _rows(jobs._run_to_memory(taxi.q1(trips)))
    assert via_fake == direct
    assert len(via_fake) > 0


def test_full_reference_topology_end_to_end(spark, tmp_path):
    """The WHOLE reference architecture, locally: producer replay
    (StreamPopulator) -> Kinesis (wire fake) -> the consumer job's two
    continuous queries (ProcessTaxiStream.main) -> ES bulk sink files.
    Both result document sets must equal the oracle-checked streaming
    entries' results over the same data."""
    from flink_stream_processing_refarch_spark.schemas import (
        PICKUP_COUNT_SCHEMA,
        TRIP_DURATION_SCHEMA,
    )

    wire = str(tmp_path / "wire")
    replay.replay(spark, SF_DIR, wire, adapt="ORIGINAL")
    endpoint = f"file://{tmp_path / 'streams'}"
    jobs.pump_wire_to_kinesis(spark, wire, endpoint)

    res = jobs.run_taxi_pipeline(
        spark,
        sf_dir="",  # unused for the kinesis source
        out_dir=str(tmp_path / "es"),
        checkpoint_dir=str(tmp_path / "ck"),
        source_format="kinesis",
        endpoint=endpoint,
    )
    got_q1 = _rows(res["pickup_count"])
    got_q2 = _rows(res["trip_duration"])
    assert got_q1 == _rows(jobs.q1_streaming(spark, SF_DIR))
    assert got_q2 == _rows(jobs.q2_streaming(spark, SF_DIR))
    assert len(got_q1) > 0 and len(got_q2) > 0
    # the ES transport files carry the documents (the serving layer's
    # input), schema-checked through the distributed read-back
    assert res["pickup_count"].schema == spark.createDataFrame(
        [], PICKUP_COUNT_SCHEMA
    ).schema
    assert res["trip_duration"].schema == spark.createDataFrame(
        [], TRIP_DURATION_SCHEMA
    ).schema


def test_fingerprint_catches_even_multiplicity_content_swap(spark, tmp_path):
    """ADVICE r10: xor-of-hashes is multiplicity-blind — {A,A,B} and
    {B,C,C} share record count AND xor (the duplicated payloads cancel),
    so an r10 manifest waved that content swap through. The wrapping SUM
    component added in r11 is multiplicity-sensitive and must fail the
    redelivery."""
    import pytest

    root = str(tmp_path / "streams")
    one = spark.createDataFrame(
        [("A",), ("A",), ("B",)], "value string"
    )
    kinesis_fake.write_wire_batch(
        kinesis.wire_frame(one).repartition(1), 5, root, "s4"
    )
    swapped = spark.createDataFrame(
        [("B",), ("C",), ("C",)], "value string"
    )
    with pytest.raises(RuntimeError, match="split mismatch"):
        kinesis_fake.write_wire_batch(
            kinesis.wire_frame(swapped).repartition(1), 5, root, "s4"
        )
    # sanity: the xor components really do collide (the sum caught it)
    import json as _json

    edir = kinesis_fake.epoch_dir(root, "s4", 5)
    with open(os.path.join(edir, kinesis_fake.EPOCH_MANIFEST)) as f:
        committed = _json.load(f)["files"]
    rec = (
        spark.read.schema(kinesis_fake.WIRE_CONTRACT)
        .option("pathGlobFilter", "records-*.json").json(edir)
    )
    got = sorted(bytes(r.data).decode() for r in rec.collect())
    assert got == ["A", "A", "B"]  # committed epoch untouched
    assert len(committed) == 1 and len(committed[0]) == 3


def test_legacy_two_element_manifest_still_accepted(spark, tmp_path):
    """A manifest committed by the r10 code carries (count, xor) pairs;
    a same-split redelivery through the r11 writer must still PASS (the
    comparison judges a legacy manifest on the fields it recorded) and
    re-commit the full triple."""
    import json as _json

    root = str(tmp_path / "streams")
    df = spark.createDataFrame([(f"p{i}",) for i in range(6)], "value string")
    frame = kinesis.wire_frame(df).repartition(2)
    kinesis_fake.write_wire_batch(frame, 2, root, "s5")
    edir = kinesis_fake.epoch_dir(root, "s5", 2)
    mpath = os.path.join(edir, kinesis_fake.EPOCH_MANIFEST)
    with open(mpath) as f:
        m = _json.load(f)
    legacy = {"n_files": m["n_files"], "files": [e[:2] for e in m["files"]]}
    with open(mpath, "w") as f:
        _json.dump(legacy, f)
    kinesis_fake.write_wire_batch(frame, 2, root, "s5")  # redelivery: OK
    with open(mpath) as f:
        assert _json.load(f) == m  # full triple re-committed


def test_pump_crash_between_swap_renames_is_recovered(spark, tmp_path):
    """ADVICE r10: a pump crash between os.rename(out, old) and
    os.rename(staging, out) leaves the committed epoch ABSENT from the
    consumer glob. recover_wire_stream (run by kinesis_writer's
    file-endpoint path at pump startup) must restore it — rolling
    FORWARD to a fully-validated staging dir when one survived, else
    BACK to the displaced prior commit — and discard incomplete staging
    leftovers."""
    import shutil

    root = str(tmp_path / "streams")
    df = spark.createDataFrame([("a",), ("b",)], "value string")
    frame = kinesis.wire_frame(df).repartition(1)
    for e in (0, 1, 2):
        kinesis_fake.write_wire_batch(frame, e, root, "s6")
    sdir = kinesis_fake.stream_dir(root, "s6")

    def consumer_count():
        return (
            spark.read.schema(kinesis_fake.WIRE_CONTRACT)
            .option("pathGlobFilter", "records-*.json")
            .json(os.path.join(sdir, "records-e*"))
            .count()
        )

    assert consumer_count() == 6
    # epoch 0: crash with a VALIDATED staging (manifest inside) -> forward
    out0 = kinesis_fake.epoch_dir(root, "s6", 0)
    old0 = os.path.join(sdir, "_staging-e000000.old")
    stg0 = os.path.join(sdir, "_staging-e000000")
    os.rename(out0, old0)
    shutil.copytree(old0, stg0)
    # epoch 1: crash with staging already destroyed/incomplete -> back
    out1 = kinesis_fake.epoch_dir(root, "s6", 1)
    old1 = os.path.join(sdir, "_staging-e000001.old")
    stg1 = os.path.join(sdir, "_staging-e000001")
    os.rename(out1, old1)
    os.makedirs(stg1)  # no manifest: incomplete
    # epoch 2 untouched; plus a stray write-crash staging for epoch 3
    stg3 = os.path.join(sdir, "_staging-e000003")
    os.makedirs(stg3)
    # the crash window is consumer-visible (epochs 0+1 missing)
    assert consumer_count() == 2
    report = kinesis_fake.recover_wire_stream(root, "s6")
    assert report["rolled_forward"] == ["e000000"]
    assert report["rolled_back"] == ["e000001"]
    # e000001's incomplete staging is discarded too, after its rollback
    assert sorted(report["discarded_staging"]) == ["e000001", "e000003"]
    assert consumer_count() == 6
    assert not [
        d for d in os.listdir(sdir) if d.startswith("_staging-")
    ]
    # a same-split redelivery over the restored epochs still validates
    kinesis_fake.write_wire_batch(frame, 0, root, "s6")
    assert consumer_count() == 6


def test_recover_wire_stream_idempotent_after_recovery_crash(
    spark, tmp_path, monkeypatch
):
    """VERDICT r11 #2: recover_wire_stream interrupted between a
    roll-forward's ``staging -> out`` rename and the ``.old`` cleanup
    must converge under a second call — the rolled-forward epoch stays
    committed, the leftover ``.old`` is just dropped (the 'epoch dir
    present' branch), and other crashed epochs are recovered as if the
    first run never happened."""
    import shutil

    import pytest

    root = str(tmp_path / "streams")
    df = spark.createDataFrame([("a",), ("b",)], "value string")
    frame = kinesis.wire_frame(df).repartition(1)
    for e in (0, 1, 2):
        kinesis_fake.write_wire_batch(frame, e, root, "s8")
    sdir = kinesis_fake.stream_dir(root, "s8")

    def consumer_count():
        return (
            spark.read.schema(kinesis_fake.WIRE_CONTRACT)
            .option("pathGlobFilter", "records-*.json")
            .json(os.path.join(sdir, "records-e*"))
            .count()
        )

    # epochs 0 AND 1 both crashed mid-swap with validated staging
    # (manifest inside) -> both need roll-forward
    for e in (0, 1):
        out_e = kinesis_fake.epoch_dir(root, "s8", e)
        old_e = os.path.join(sdir, f"_staging-e{e:06d}.old")
        stg_e = os.path.join(sdir, f"_staging-e{e:06d}")
        os.rename(out_e, old_e)
        shutil.copytree(old_e, stg_e)
    assert consumer_count() == 2  # only epoch 2 visible
    # first recovery dies between e000000's roll-forward rename and its
    # .old cleanup (the exact window VERDICT r11 #2 names)
    real_rmtree = shutil.rmtree
    crashed = [False]

    def crashing_rmtree(path, *a, **k):
        if not crashed[0] and str(path).endswith(".old"):
            crashed[0] = True
            raise RuntimeError("simulated recovery crash")
        return real_rmtree(path, *a, **k)

    monkeypatch.setattr(shutil, "rmtree", crashing_rmtree)
    with pytest.raises(RuntimeError, match="simulated recovery crash"):
        kinesis_fake.recover_wire_stream(root, "s8")
    monkeypatch.setattr(shutil, "rmtree", real_rmtree)
    # partial recovery: e0 rolled forward (visible), its .old leftover
    # still present, e1 untouched (still crashed)
    assert os.path.isdir(kinesis_fake.epoch_dir(root, "s8", 0))
    assert os.path.isdir(os.path.join(sdir, "_staging-e000000.old"))
    assert not os.path.isdir(kinesis_fake.epoch_dir(root, "s8", 1))
    # second run converges
    report = kinesis_fake.recover_wire_stream(root, "s8")
    assert report["rolled_forward"] == ["e000001"]
    assert "e000000" in report["dropped_old"]
    assert consumer_count() == 6
    assert not [
        d for d in os.listdir(sdir) if d.startswith("_staging-")
    ]
    # the restored stream still passes the at-rest audit and accepts a
    # same-split redelivery
    rep = kinesis_fake.verify_wire_stream(spark, root, "s8")
    assert rep["verified"] == 3 and rep["records"] == 6
    kinesis_fake.write_wire_batch(frame, 0, root, "s8")
    assert consumer_count() == 6


def test_verify_wire_stream_at_rest_audit(spark, tmp_path):
    """r11: the at-rest integrity audit (fsck analog of
    verify_manifest) — a pristine pumped stream verifies with correct
    totals in ONE distributed job; corrupting a committed record file
    fails naming the epoch; a manifest-less (pre-r10) epoch is reported
    unverifiable, not failed; a legacy 2-element manifest is judged on
    the fields it recorded."""
    import json as _json

    import pytest

    root = str(tmp_path / "streams")
    a = spark.createDataFrame([("A",), ("B",), ("C",)], "value string")
    b = spark.createDataFrame([("D",), ("E",)], "value string")
    kinesis_fake.write_wire_batch(
        kinesis.wire_frame(a).repartition(2), 0, root, "s7"
    )
    kinesis_fake.write_wire_batch(
        kinesis.wire_frame(b).repartition(1), 1, root, "s7"
    )
    report = kinesis_fake.verify_wire_stream(spark, root, "s7")
    assert report["epochs"] == 2 and report["verified"] == 2
    assert report["records"] == 5 and report["unverifiable"] == []

    # legacy 2-element manifest: still verifiable on count + xor
    e1 = kinesis_fake.epoch_dir(root, "s7", 1)
    mpath = os.path.join(e1, kinesis_fake.EPOCH_MANIFEST)
    with open(mpath) as f:
        m = _json.load(f)
    with open(mpath, "w") as f:
        _json.dump(
            {"n_files": m["n_files"],
             "files": [e[:2] for e in m["files"]]}, f,
        )
    assert kinesis_fake.verify_wire_stream(spark, root, "s7")["verified"] == 2

    # manifest-less epoch (pre-r10 stream): unverifiable, no raise
    import shutil as _shutil

    e9 = os.path.join(kinesis_fake.stream_dir(root, "s7"), "records-e000009")
    _shutil.copytree(e1, e9)
    os.unlink(os.path.join(e9, kinesis_fake.EPOCH_MANIFEST))
    report = kinesis_fake.verify_wire_stream(spark, root, "s7")
    assert report["unverifiable"] == ["records-e000009"]

    # corruption after commit: duplicate a record inside epoch 0's file
    e0 = kinesis_fake.epoch_dir(root, "s7", 0)
    victim = sorted(glob.glob(os.path.join(e0, "records-*.json")))[0]
    with open(victim) as f:
        lines = [ln for ln in f.read().splitlines() if ln]
    with open(victim, "w") as f:
        f.write("\n".join(lines + [lines[0]]) + "\n")
    with pytest.raises(RuntimeError, match="records-e000000"):
        kinesis_fake.verify_wire_stream(spark, root, "s7")


def test_verify_wire_stream_non_numeric_record_index(spark, tmp_path):
    """ADVICE r12 #3: a hand-renamed/stray file matching records-*.json
    with a non-numeric index segment (records-copy.json) is external
    corruption — the fsck must report it through its descriptive
    corruption channel, not crash with a bare ValueError from
    sorted()."""
    import pytest

    root = str(tmp_path / "streams")
    a = spark.createDataFrame([("A",), ("B",)], "value string")
    kinesis_fake.write_wire_batch(
        kinesis.wire_frame(a).repartition(1), 0, root, "s9"
    )
    e0 = kinesis_fake.epoch_dir(root, "s9", 0)
    victim = sorted(glob.glob(os.path.join(e0, "records-*.json")))[0]
    import shutil as _shutil

    _shutil.copy(victim, os.path.join(e0, "records-copy.json"))
    with pytest.raises(RuntimeError, match="non-numeric index"):
        kinesis_fake.verify_wire_stream(spark, root, "s9")
