"""Bounded streaming runs (``jobs.run_bounded``): a run leaves the
session's confs exactly as it found them, takes its state-store provider
from the session, and leaves no throwaway checkpoint behind."""

from __future__ import annotations

import os
import tempfile

import pytest
from conftest import SF_DIR

from __spark_entry__ import ROCKSDB_CONF
from flink_stream_processing_refarch_spark.operators import corpus_io, incremental
from flink_stream_processing_refarch_spark.streaming import jobs

PROVIDER, ROCKSDB = next(iter(ROCKSDB_CONF.items()))
WIDTH = "spark.sql.shuffle.partitions"


@pytest.fixture(params=["unset", "rocksdb"])
def provider(spark, request):
    """The session's provider conf for one test: unset (Spark's
    HDFS-backed default) or RocksDB; the session's own value is put back
    afterwards."""
    before = spark.conf.get(PROVIDER, None)
    if request.param == "unset":
        spark.conf.unset(PROVIDER)
    else:
        spark.conf.set(PROVIDER, ROCKSDB)
    yield spark.conf.get(PROVIDER, None)
    if before is None:
        spark.conf.unset(PROVIDER)
    else:
        spark.conf.set(PROVIDER, before)


@pytest.fixture
def width(spark):
    """A session shuffle width other than STREAM_STATE_PARTITIONS, so a
    missing restore shows; the session's own width is put back after."""
    before = spark.conf.get(WIDTH)
    spark.conf.set(WIDTH, "7")
    yield "7"
    spark.conf.set(WIDTH, before)


def test_runs_leave_session_confs_unchanged(spark, provider, width, tmp_path):
    assert jobs.q1_streaming(spark, SF_DIR).count() > 0  # windowed state
    assert spark.conf.get(PROVIDER, None) == provider
    assert spark.conf.get(WIDTH) == width
    jobs.run_taxi_pipeline(
        spark, SF_DIR, out_dir=str(tmp_path / "out"), collect_results=False
    )
    assert spark.conf.get(PROVIDER, None) == provider
    assert spark.conf.get(WIDTH) == width


def test_run_uses_the_session_provider(spark, provider):
    """The state store a stateful query opens is the session's: RocksDB
    reports its own ``rocksdb*`` custom metrics, the HDFS-backed default
    does not."""
    writer = (
        jobs.q1_stream_df(spark, SF_DIR)
        .writeStream.format("noop")
        .outputMode("append")
    )
    (q,) = jobs.run_bounded(spark, [("q1", writer)]).values()
    ops = [op for p in q.recentProgress for op in p["stateOperators"]]
    assert ops
    on_rocksdb = any(
        k.startswith("rocksdb") for op in ops for k in op["customMetrics"]
    )
    assert on_rocksdb == (provider == ROCKSDB)


def test_failed_run_restores_width_and_stops(spark, width):
    def boom(batch_df, epoch_id):
        raise RuntimeError("sink down")

    writer = jobs.q1_stream_df(spark, SF_DIR).writeStream.foreachBatch(boom)
    before = _checkpoints()
    with pytest.raises(Exception, match="sink down"):
        jobs.run_bounded(spark, [("q1", writer)])
    assert spark.conf.get(WIDTH) == width
    assert not spark.streams.active
    assert _checkpoints() - before == set()


def _checkpoints() -> set[str]:
    """Structured Streaming checkpoints (a dir holding ``offsets/``) at
    most two levels below the tmpfs and default temp roots."""
    out = set()
    for base in {"/dev/shm", tempfile.gettempdir()}:
        if not os.path.isdir(base):
            continue
        for top in os.scandir(base):
            if not top.is_dir(follow_symlinks=False):
                continue
            if os.path.isdir(os.path.join(top.path, "offsets")):
                out.add(top.path)
                continue
            try:
                subs = list(os.scandir(top.path))
            except OSError:
                continue
            if any(os.path.isdir(os.path.join(s.path, "offsets")) for s in subs):
                out.add(top.path)
    return out


@pytest.mark.parametrize(
    "run",
    [
        pytest.param(
            lambda spark, tmp: jobs.run_taxi_pipeline(
                spark, SF_DIR, out_dir=str(tmp / "out"), collect_results=False
            ),
            id="run_taxi_pipeline",
        ),
        pytest.param(
            lambda spark, tmp: jobs.run_taxi_pipeline_single_pass(
                spark, SF_DIR, partials_dir=str(tmp / "partials")
            ),
            id="run_taxi_pipeline_single_pass",
        ),
        pytest.param(
            lambda spark, tmp: jobs.q1_streaming(spark, SF_DIR).count(),
            id="q1_streaming",
        ),
        pytest.param(
            lambda spark, tmp: corpus_io.q_corpus_cdc_stream(spark, SF_DIR),
            id="corpus_cdc_stream",
        ),
        pytest.param(
            lambda spark, tmp: incremental.q_cdc_index_refresh_streaming(
                spark, SF_DIR
            ).count(),
            id="cdc_index_refresh_streaming",
        ),
    ],
)
def test_bounded_run_leaves_no_checkpoint(spark, tmp_path, run):
    before = _checkpoints()
    run(spark, tmp_path)
    assert _checkpoints() - before == set()
