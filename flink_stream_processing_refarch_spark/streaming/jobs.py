"""Structured Streaming bindings for the reference's two continuous
queries (ProcessTaxiStream.java:96-136).

Watermark semantics (SURVEY.md §4.3): the reference uses punctuated
in-band watermarks injected by the producer; Spark derives the watermark
from the event-time column (``withWatermark``). On bounded input with the
``availableNow`` trigger, append-mode windows flush deterministically up
to the final watermark = max(event time) − delay: with delay 0 every
window except the one containing the maximum event time emits. The oracle
for the streaming variant is therefore the batch SQL restricted to
``window_end <= max(event_time)`` — an exact, checkable statement of
Spark's emission rule.

The Q1/Q2 rules themselves live once in ``plans/taxi.py`` and run here
unchanged over streaming trips.

Architecture parity notes:
  - The shared ``trips`` sub-stream feeding both queries
    (ProcessTaxiStream.java:87,96,109 — a DAG fan-out Flink shares) runs
    as TWO streaming queries in ``run_taxi_pipeline`` (each owns its
    window state; the source is scanned twice), and as ONE scan in
    ``run_taxi_pipeline_single_pass`` (per-batch partial aggregates from
    a cached micro-batch, merged at the end).
  - RocksDB state store (ProcessTaxiStream.java:145): the provider comes
    from the session (``spark.sql.streaming.stateStore.providerClass``);
    the engine never sets it. Spark's default HDFS-backed store measured
    no slower than RocksDB on every stateful bounded replay here and
    faster on the paced pipeline, so a deployment that wants RocksDB sets
    that one conf itself. ``tws_user_totals`` (transformWithState) is the
    exception that needs RocksDB: its session must provide it.
  - Run mechanics (availableNow start, checkpoint, state width) live in
    one helper, :func:`run_bounded`.
  - Source throttling (SHARD_GETRECORDS_MAX, :76-77) maps to
    ``maxFilesPerTrigger`` / connector rate options.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans import taxi
from ..sources.trips import (
    clean_trip_filter_sql,
    clean_trips_from_events,
    with_event_time,
)

# Normalized events schema: what stream_events/load_table emit after the
# ts shim (BIGINT epoch-nanos), whatever the parquet's physical layout.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # epoch-nanos after normalize
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


_EVENTS_SCHEMA_CACHE: dict[tuple, T.StructType] = {}


def _events_schema(spark: SparkSession, src: str) -> T.StructType:
    """Read schema of an events parquet location, with ``ts`` as whatever
    Spark infers for the actual physical layout (BIGINT under the nanos
    flag for TIMESTAMP(NANOS) files and for the normalized
    materialization; TIMESTAMP_NTZ for MICROS files). A streaming reader
    needs a declared schema — derive it from a batch peek of the same
    location so it never drifts from the generator. Memoized per
    (location, file stamp): the footer read costs a Spark job's worth of
    driver latency per call otherwise, paid by every streaming query —
    and the stamp in the key means an in-place regeneration with the
    OTHER timestamp layout (the documented drift) refreshes the schema
    instead of silently reading with a stale one."""
    from ..schemas import table_stamp

    key = (src, table_stamp(src))
    if key not in _EVENTS_SCHEMA_CACHE:
        _EVENTS_SCHEMA_CACHE[key] = spark.read.parquet(src).schema
    return _EVENTS_SCHEMA_CACHE[key]


def half_source_files(spark: SparkSession, sf_dir: str) -> int:
    """``maxFilesPerTrigger`` value that guarantees a MULTI-batch split
    of the bounded local events source: half its parquet file count
    (floor 1). The normalized materialization is data-sized (2 files at
    sf0.01, 8 at sf0.1 — schemas._norm_events_file_count), so a fixed
    constant either degenerates to one micro-batch at small SF (no
    cross-batch merge exercised) or forces needless many-batch overhead
    at large SF; half-the-files always yields ~2 batches. Local-replay
    concern only — a real stream (Kinesis) is unbounded and batches by
    arrival."""
    import glob as _glob

    from ..schemas import normalized_events_path

    norm = normalized_events_path(spark, sf_dir)
    if norm is None:
        # direct source: a single FILE streams as one batch either way;
        # a DIRECTORY of parts (the at-scale shape) must still split by
        # half its file count — the old constant 1 put ONE part per
        # micro-batch, which at the sf10 composite meant 100 epochs of
        # fixed checkpoint/commit cost (r08 finding: the single-pass
        # pipeline paid 48x wall for 100x data on exactly this)
        src = f"{sf_dir}/events.parquet"
        if os.path.isdir(src):
            n = len(_glob.glob(f"{src}/*.parquet"))
            return max(1, n // 2)
        return 1
    n = len(_glob.glob(f"{norm}/*.parquet"))
    return max(1, n // 2)


def _stream_table(reader, sf_dir: str, table: str) -> DataFrame:
    """Open a file-streaming source over ``{sf_dir}/{table}.parquet``,
    which is a single FILE in the local testdata but a DIRECTORY of
    part files at scale. The file source requires a directory path, so
    the single-file shape streams the parent dir with a name filter —
    and the directory shape must NOT (the former unconditional
    glob-filter-on-the-parent matched ZERO files inside a directory
    table: r08 bug, hit by the sf10 taxi decade's 100-part composite,
    where the stream silently produced no epochs)."""
    src = f"{sf_dir}/{table}.parquet"
    if os.path.isdir(src):
        return reader.option("pathGlobFilter", "*.parquet").parquet(src)
    return reader.option("pathGlobFilter", f"{table}.parquet").parquet(
        sf_dir
    )


def stream_events(spark: SparkSession, sf_dir: str, **source_opts) -> DataFrame:
    """File-based streaming source over the events table (the local stand-
    in for the Kinesis consumer, S1; swap format('kinesis') in prod).
    source_opts map to reader options (e.g. maxFilesPerTrigger — the
    SHARD_GETRECORDS throttling analogue). ``ts`` is normalized to
    BIGINT epoch-nanos exactly as on the batch path.

    Like the batch path, a starved local scan streams from the
    once-per-stamp normalized materialization (ts already BIGINT, rows
    split across cores — one availableNow batch over the whole bounded
    set either way, so results are identical); at scale the source is
    streamed directly and the normalization shim is a free codegen
    expression."""
    from ..schemas import normalize_event_ts, normalized_events_path

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    norm = normalized_events_path(spark, sf_dir)
    if norm is not None:
        reader = (
            spark.readStream.schema(_events_schema(spark, norm))
            .option("pathGlobFilter", "*.parquet")
            .options(**source_opts)
        )
        return reader.parquet(norm)  # ts already BIGINT nanos
    # Direct branch (the at-scale shape: the scan already has >= cores
    # splits).
    src = f"{sf_dir}/events.parquet"
    reader = spark.readStream.schema(_events_schema(spark, src)).options(
        **source_opts
    )
    return normalize_event_ts(_stream_table(reader, sf_dir, "events"))


def stream_trips_from_wire(
    spark: SparkSession,
    json_dir: str,
    watermark_delay: str = "0 seconds",
    auto_decompress: bool = False,
    **source_opts,
) -> DataFrame:
    """Reference-faithful ingestion: newline JSON wire events (S1/S2) ->
    from_json with the union schema -> malformed rows dropped (S5:
    unparseable lines yield a null struct and are filtered, matching the
    producer's warn-and-skip) -> watermark event rows dropped (P1) ->
    P3/P4 filter chain -> event-time column + watermark.

    source_opts go to the text source (e.g. maxFilesPerTrigger=1 to force
    one micro-batch per chunk file — the knob that makes watermark
    late-row dropping observable on bounded replays).

    auto_decompress=True swaps the text source for the binaryFile +
    magic-byte path (S4): .snz (snappy-framed, the reference dataset's
    codec, absent from Hadoop's registry) / .gz / plain chunks all
    replay identically."""
    from ..schemas import EVENT_SCHEMA

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if auto_decompress:
        from ..sources.compression import stream_text_auto

        raw = stream_text_auto(spark, json_dir, **source_opts)
    else:
        raw = spark.readStream.options(**source_opts).text(json_dir)
    ev = (
        raw.select(F.from_json("value", EVENT_SCHEMA).alias("e"))
        .filter(F.col("e").isNotNull() & F.col("e.type").isNotNull())
        .select("e.*")
    )
    return wire_trips(ev, watermark_delay)


def wire_trips(ev: DataFrame, watermark_delay: str = "0 seconds") -> DataFrame:
    """Typed wire events -> cleaned, watermarked trips: the shared tail
    of every wire ingestion path (text-file chunks above, Kinesis
    records via ``sources.kinesis.parse_wire_bytes``), so the ms
    derivation / P1-P4 clean filter / event-time column can never
    diverge between transports."""
    trips = ev.withColumn(
        "pickup_ms", F.unix_millis("pickup_datetime")
    ).withColumn("dropoff_ms", F.unix_millis("dropoff_datetime"))
    return with_event_time(
        trips.filter(F.expr(clean_trip_filter_sql())), watermark_delay
    )


def q1_from_wire(spark: SparkSession, json_dir: str, **source_opts) -> DataFrame:
    """Streaming Q1 over the JSON wire stream (bounded run to memory)."""
    trips = stream_trips_from_wire(spark, json_dir, **source_opts)
    return _run_to_memory(taxi.q1(trips))


def pump_wire_to_kinesis(
    spark: SparkSession,
    json_dir: str,
    endpoint: str,
    stream_name: str = "taxi-trips",
    **source_opts,
) -> None:
    """Producer leg of the S7 path: stream the replayed wire chunks
    through ``kinesis_writer`` (the StreamPopulator stand-in,
    StreamPopulator.java:62-66) into the stream at ``endpoint`` —
    a ``file://`` endpoint drives the local wire fake. Bounded
    (availableNow); blocks until the pump drains."""
    from ..sources.kinesis import kinesis_writer

    lines = spark.readStream.options(**source_opts).text(json_dir)
    run_bounded(
        spark,
        [("pump", kinesis_writer(lines, stream_name, "local", endpoint=endpoint))],
    )


def q1_kinesis_wire(
    spark: SparkSession, sf_dir: str, audit: str = "inline"
) -> DataFrame:
    """Q1 end-to-end through BOTH Kinesis swap points (S1 + S7) over the
    local wire fake: replay the dataset to wire JSON (the producer's
    serialization, StreamPopulator.java) -> ``kinesis_writer`` pumps it
    into the fake stream as PutRecords epochs -> ``kinesis_reader`` +
    ``parse_wire_bytes`` consume the record contract
    (ProcessTaxiStream.java:73-87) -> the SAME ``wire_trips`` +
    ``taxi.q1`` chain as every other Q1 surface. Emission rule
    and result contract identical to ``q1_streaming`` -> same oracle.

    Everything here is the production plumbing except the transport
    directory; swapping a real endpoint re-enables the connector
    (``sources/kinesis.py``).

    ``audit`` (r12, VERDICT r11 #5 — the schedule discipline is now a
    parameter, not prose): ``"inline"`` (default) runs the
    ``verify_wire_stream`` fsck once before consuming — a second full
    scan of the committed stream (~+1.5 s at sf0.1), kept as the
    driver-entry default so the at-rest integrity path is exercised
    end-to-end every round; ``"off"`` skips it — the production
    choice, where the audit runs as SCHEDULED MAINTENANCE (call
    ``verify_wire_stream`` on its own cadence; it is one distributed
    job per run, independent of epoch count) instead of doubling every
    consume's scan. A production call-site now has to pick explicitly
    rather than inherit the doubled scan silently."""
    from ..schemas import tmpfs_dir
    from ..sources.kinesis import kinesis_reader, parse_wire_bytes

    if audit not in ("inline", "off"):
        raise ValueError(
            f"q1_kinesis_wire: audit must be 'inline' or 'off', "
            f"got {audit!r}"
        )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = tmpfs_dir("kwire_")
    try:
        wire_dir = os.path.join(base, "wire")
        from . import replay as _replay

        _replay.replay(spark, sf_dir, wire_dir, adapt="ORIGINAL")
        endpoint = f"file://{os.path.join(base, 'streams')}"
        pump_wire_to_kinesis(spark, wire_dir, endpoint)
        if audit == "inline":
            # at-rest integrity audit before consuming (r11): every
            # committed epoch's content fingerprints re-verified against
            # its manifest in one distributed job — a corrupted transport
            # fails this driver row loudly instead of hashing wrong
            # results
            from ..sources.kinesis_fake import verify_wire_stream

            rep = verify_wire_stream(
                spark, os.path.join(base, "streams"), "taxi-trips"
            )
            if rep["unverifiable"]:
                raise RuntimeError(
                    f"wire audit: unverifiable epochs {rep['unverifiable']}"
                )
        records = kinesis_reader(
            spark, "taxi-trips", "local", endpoint=endpoint
        ).load()
        trips = wire_trips(parse_wire_bytes(records))
        return _run_to_memory(taxi.q1(trips))
    finally:
        shutil.rmtree(base, ignore_errors=True)


def stream_clean_trips(spark: SparkSession, sf_dir: str, **source_opts) -> DataFrame:
    """Derived trip stream: the batch ``clean_trips`` derivation over
    the streaming events source."""
    return clean_trips_from_events(stream_events(spark, sf_dir, **source_opts))


def q1_stream_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Q1: append-mode windowed count with HAVING."""
    return taxi.q1(stream_clean_trips(spark, sf_dir))


def q2_stream_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Q2: airport classification + windowed sum/avg duration."""
    return taxi.q2(stream_clean_trips(spark, sf_dir))


# State partition count for bounded local replays. A streaming query's
# state partitioning is fixed by spark.sql.shuffle.partitions at first
# start, and every partition opens its own state store instance per
# batch — at local scale 32 instances x 2 micro-batches is pure fixed
# cost (~4x the whole query time, measured). 4 vs 8 saves a further
# ~0.7-1.2 s per bounded replay at sf0.1 (r02 probe; 2 is no better than
# 4). On a real cluster this is sized to total executor cores / expected
# state volume instead.
STREAM_STATE_PARTITIONS = 4


def run_bounded(
    spark: SparkSession,
    writers: Iterable[tuple[str, DataStreamWriter]],
    checkpoint_dir: str | None = None,
) -> dict[str, StreamingQuery]:
    """Run bounded streaming queries to completion — the one place the
    engine's run mechanics live.

    Every ``(name, writer)`` pair starts with the ``availableNow`` trigger
    as soon as it is drawn from ``writers`` (so a generator builds the
    next query's plan while the previous one already runs) and
    checkpoints in ``<checkpoint_dir>/<name>``. Without a
    ``checkpoint_dir`` the root is a throwaway tmpfs directory (the
    offset/commit/state logs fsync per micro-batch; ~1 s/query on ext4),
    removed after the run. ``spark.sql.shuffle.partitions`` is
    ``STREAM_STATE_PARTITIONS`` for the run only and restored afterwards,
    also when a query fails. The queries run concurrently; the finished
    queries are returned by name. The state-store provider is whatever
    the session has — this helper never sets it."""
    from ..schemas import tmpfs_dir

    root = checkpoint_dir or tmpfs_dir("ckpt_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    queries: dict[str, StreamingQuery] = {}
    try:
        for name, writer in writers:
            queries[name] = (
                writer.option("checkpointLocation", os.path.join(root, name))
                .trigger(availableNow=True)
                .start()
            )
        for q in queries.values():
            q.awaitTermination()
    finally:
        for q in queries.values():
            if q.isActive:
                q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if checkpoint_dir is None:
            shutil.rmtree(root, ignore_errors=True)
    return queries


def _run_to_memory(df: DataFrame, output_mode: str = "append") -> DataFrame:
    """Run a bounded streaming query into a memory sink and return the
    final result as a batch DataFrame. ``output_mode``: 'append' for
    watermark-finalized streams, 'complete' for running (non-windowed)
    aggregations whose latest snapshot is the result."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    writer = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    run_bounded(df.sparkSession, [("memory", writer)])
    return df.sparkSession.table(name)


def q1_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded streaming replay of Q1 (availableNow -> memory sink)."""
    return _run_to_memory(q1_stream_df(spark, sf_dir))


def q2_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_to_memory(q2_stream_df(spark, sf_dir))


def q_trending_cells_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``plans.taxi.q_trending_cells`` (VERDICT r05
    item 3): the continuously-updating leaderboard the reference serves
    from Kibana, computed engine-side — windowed counts as a streaming
    query (watermark-finalized, append mode), rank-per-window in the
    compaction over the sink. Emission rule matches q1_streaming: only
    windows the final watermark closed appear. State is watermark-bounded
    exactly like Q1's: one row per in-flight (window, cell)."""
    trips = stream_clean_trips(spark, sf_dir)
    counts = taxi.with_timestamp(taxi.pickup_counts(taxi.with_cell(trips)))
    return taxi.rank_trending(_run_to_memory(counts))


# ---------------------------------------------------------------------------
# Extended streaming surface: stream-static join, stream-stream interval
# join, and a custom stateful operator (applyInPandasWithState)
# ---------------------------------------------------------------------------


def _stream_events_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events stream with a proper event-time column (ts is nanos-as-long
    under the parquet read flag; truncate to micros like the batch path)."""
    return stream_events(spark, sf_dir).withColumn(
        "ts_t", F.timestamp_micros(F.expr("ts DIV 1000"))
    )


def stream_static_join_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream broadcast-joined to the
    static customer->nation dimensions, then a 1-hour tumbling window
    aggregate per nation.

    Scale: the static side is broadcast (no state, no shuffle of the
    stream for the join — the only Exchange is the window groupBy); at
    100 TB the dimension refresh is a periodic re-broadcast, which
    Structured Streaming re-resolves per micro-batch.
    """
    from ..schemas import load_table

    ev = _stream_events_ts(spark, sf_dir).withWatermark("ts_t", "0 seconds")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    enriched = ev.join(
        F.broadcast(cust), ev["user_id"] == cust["c_custkey"]
    ).join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
    return (
        enriched.groupBy(F.window("ts_t", "1 hour"), "n_name")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)")).alias(
                "sum_value_cents"
            ),
        )
        .select(
            "n_name",
            F.unix_millis("window.start").alias("ws_ms"),
            "n_events",
            "sum_value_cents",
        )
    )


def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_to_memory(stream_static_join_df(spark, sf_dir))


# Append-mode emission rule (same as q1/q2 streaming): a window emits iff
# window_end <= final watermark = max event time (ms-truncated).
STREAM_STATIC_JOIN_SQL = """
SELECT n_name, ws_ms, count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_value_cents
FROM (
  SELECT epoch_ms(ts) - epoch_ms(ts) % 3600000 AS ws_ms, value, c_nationkey
  FROM events JOIN customer ON user_id = c_custkey
) e
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name, ws_ms
HAVING ws_ms + 3600000 <= (SELECT max(epoch_ms(ts)) FROM events)
"""

VIEW_PURCHASE_HOURS = 6


def stream_stream_join_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each 'view' event joined to the same
    user's 'purchase' events within the next 6 hours (attribution join).

    Both sides carry watermarks and the join condition bounds event time
    on both sides, so Spark can size and evict the join state: view-side
    state is kept 6 h past the watermark, purchase-side 0 h — this is
    the canonical bounded-state stream-stream join. Inner-join results
    emit eagerly (no watermark wait), so on a bounded replay the output
    equals the batch interval join exactly.
    """
    return stream_stream_join_from_events(
        _stream_events_ts(spark, sf_dir), _stream_events_ts(spark, sf_dir)
    )


def stream_stream_join_from_events(
    views_ev: DataFrame, purchases_ev: DataFrame
) -> DataFrame:
    """The interval join over any pair of ts_t-enriched events streams
    (two readers over the same files in the bounded replay; two
    topics/shards in production)."""
    views = (
        views_ev.filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts_t").alias("view_ts"),
        )
        .withWatermark("view_ts", "0 seconds")
    )
    purchases = (
        purchases_ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts_t").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "0 seconds")
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {VIEW_PURCHASE_HOURS} HOURS")
        ),
    )
    return joined.select(
        "user_id",
        "view_id",
        "purchase_id",
        (F.unix_millis("purchase_ts") - F.unix_millis("view_ts")).alias("lag_ms"),
    )


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_to_memory(stream_stream_join_df(spark, sf_dir))


STREAM_STREAM_JOIN_SQL = f"""
SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
       epoch_ms(p.ts) - epoch_ms(v.ts) AS lag_ms
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL {VIEW_PURCHASE_HOURS} HOUR
"""


def stream_stream_left_join_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join: every view, with its attributed
    purchases — or NULL once the watermark proves no purchase can arrive.

    Unlike the inner join (eager emission), the null-extended rows are
    held in state until the watermark passes view_ts + interval: only
    then is 'no match' provable. On a bounded replay the final watermark
    is max(event time), so views whose match window closes by then emit
    exactly once (matched or null) and later views emit only if matched —
    that emission rule is the oracle's WHERE clause.
    """
    return stream_stream_left_join_from_events(
        _stream_events_ts(spark, sf_dir), _stream_events_ts(spark, sf_dir)
    )


def stream_stream_left_join_from_events(
    views_ev: DataFrame, purchases_ev: DataFrame
) -> DataFrame:
    """The LEFT OUTER interval join over any pair of ts_t-enriched
    events streams (source-agnostic)."""
    views = (
        views_ev.filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts_t").alias("view_ts"),
        )
        .withWatermark("view_ts", "0 seconds")
    )
    purchases = (
        purchases_ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts_t").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "0 seconds")
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {VIEW_PURCHASE_HOURS} HOURS")
        ),
        "leftOuter",
    )
    return joined.select(
        "user_id",
        "view_id",
        "purchase_id",
        (F.unix_millis("purchase_ts") - F.unix_millis("view_ts")).alias("lag_ms"),
    )


def q_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_to_memory(stream_stream_left_join_df(spark, sf_dir))


# Matched rows emit eagerly (all of them); a null-extended row emits only
# once the watermark proves no match can arrive. With two watermarked
# inputs the global watermark is the MIN across streams
# (spark.sql.streaming.multipleWatermarkPolicy = min), so the final
# watermark is LEAST(max view ts, max purchase ts), and a view emits null
# iff view_ts + interval <= that watermark (verified empirically against
# the state-eviction boundary).
STREAM_STREAM_LEFT_JOIN_SQL = f"""
WITH matched AS ({STREAM_STREAM_JOIN_SQL}),
wm AS (
  SELECT LEAST(
    (SELECT max(epoch_ms(ts)) FROM events WHERE event_type = 'view'),
    (SELECT max(epoch_ms(ts)) FROM events WHERE event_type = 'purchase')
  ) AS wm_ms
)
SELECT * FROM matched
UNION ALL
SELECT v.user_id, v.event_id AS view_id, NULL AS purchase_id, NULL AS lag_ms
FROM events v, wm
WHERE v.event_type = 'view'
  AND epoch_ms(v.ts) + {VIEW_PURCHASE_HOURS} * 3600000 <= wm.wm_ms
  AND NOT EXISTS (
    SELECT 1 FROM events p
    WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
      AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL {VIEW_PURCHASE_HOURS} HOUR)
"""


def streaming_dedup_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup with watermark: first occurrence per
    (user_id, event_type, minute-bucket) key; state for a key is dropped
    once the watermark passes its event time (dropDuplicates-with-
    watermark), so dedup state is bounded by the lateness horizon, not
    by history — the streaming member of the dedup family in
    operators/dedup.py.

    Only the key columns are emitted: which physical row 'wins' within a
    key is arrival-order-dependent, the key set itself is deterministic.
    """
    return streaming_dedup_from_events(_stream_events_ts(spark, sf_dir))


def streaming_dedup_from_events(ev_ts: DataFrame) -> DataFrame:
    """The dedup transformation over any ts_t-enriched events stream
    (source-agnostic, same split as :func:`corpus_ingest_from_stream`).

    ``dropDuplicatesWithinWatermark``, not plain ``dropDuplicates``: the
    plain form never evicts (its state is the full key history — the r05
    streaming scale harness measured exactly that: 10x-input-sized state,
    zero removals, SCALING_STREAMING.md), while the within-watermark form
    drops a key's state once the watermark passes its event time, which
    is the bounded-by-lateness-horizon behavior the operator claims. On
    the bounded single-batch replay the two agree exactly (nothing is
    late when the watermark only advances at the end), so the oracle is
    unchanged; on a time-ordered production stream this is the
    difference between O(rate x horizon) and O(history) state."""
    ev = ev_ts.withWatermark("ts_t", "0 seconds").select(
        "user_id",
        "event_type",
        (F.unix_millis("ts_t") - F.unix_millis("ts_t") % 60000).alias(
            "minute_ms"
        ),
        "ts_t",
    )
    return ev.dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "minute_ms"]
    ).select("user_id", "event_type", "minute_ms")


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_to_memory(streaming_dedup_df(spark, sf_dir))


# ---------------------------------------------------------------------------
# Streaming corpus ingest: the LLM-data-pipeline selection stage
# (quality filter -> local exact dedup -> per-source running totals)
# as a Structured Streaming job over arriving document files.
# ---------------------------------------------------------------------------

# documents.parquet physical schema (plain types; no nanos column)
DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stream_documents(
    spark: SparkSession, sf_dir: str, **source_opts
) -> DataFrame:
    """File-based streaming source over the documents table — the local
    stand-in for a corpus landing zone (S3 prefix / Kafka topic) that new
    crawl shards arrive in. Shape-aware via ``_stream_table`` (a single
    file locally, a directory of parts at scale)."""
    reader = spark.readStream.schema(DOCS_SCHEMA).options(**source_opts)
    return _stream_table(reader, sf_dir, "documents")


def corpus_ingest_stream_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source running (n_docs, total_tokens) of quality-keep docs
    after WITHIN-SOURCE exact dedup — the streaming front half of
    ``operators/contamination.q_corpus_build``.

    Dedup is keyed (source, content-hash), not global: the survivor of a
    cross-source duplicate under global streaming dedup is arrival-order-
    dependent, while the within-source key makes every emitted row a
    deterministic function of the data. This mirrors production sharded
    ingest: a local dedup pass at the landing zone, with global
    survivorship in the batch corpus build.

    State shape: dedup state is one row per distinct (source, hash)
    WITHIN THE WATERMARK HORIZON — ``dropDuplicatesWithinWatermark`` on
    ingest time drops a key's state once the watermark passes its event
    time, so on an unbounded 100 TB stream state is O(rate x horizon),
    not O(history) (the r05 streaming scale harness measured the plain
    ``dropDuplicates`` alternative at input-sized state with zero
    removals); the running totals state is |sources| rows. Text never
    crosses a shuffle: the hash, token count, and keep flag are computed
    at the source, and the dedup exchange carries (source, h, n_tokens)
    only.
    """
    return corpus_ingest_from_stream(stream_documents(spark, sf_dir))


def corpus_ingest_from_stream(docs: DataFrame) -> DataFrame:
    """The ingest transformation over any documents stream (source-
    agnostic: file landing zone here, Kafka/Kinesis in production).

    Ingest time: documents carry no timestamp column, so the event-time
    the watermark tracks is derived deterministically from ``doc_id``
    (micros = doc_id x 1000) — the local stand-in for the arrival
    timestamp a landing zone / Kafka record supplies in production. The
    horizon is 0 seconds, like ``streaming_dedup``: a key's state lives
    until the watermark (max ingest time seen last batch) passes it, so
    duplicates arriving in the same micro-batch — or before the horizon
    expires — always dedup; SCALING_STREAMING.md shows the eviction
    firing per batch with peak state bounded by the per-batch horizon.
    Bounded single-batch replays (the oracle row) are unaffected: the
    watermark only advances after the one batch, nothing evicts early,
    and the kept-key set equals plain dropDuplicates' exactly.

    PRECONDITION — monotone arrival (ADVICE r06): because event time is
    a function of ``doc_id`` and the horizon is 0, multi-batch replays
    match the batch oracle only when micro-batches arrive in
    nondecreasing doc_id order (true of a landing zone whose files are
    written in ingest order; the scale harness enforces it via file
    mtimes). A NEVER-SEEN document landing in a later micro-batch with a
    lower doc_id sits below the advanced watermark and is dropped as
    late — undercounting n_docs/total_tokens, indistinguishable from a
    redelivery by design (that is what makes redeliveries idempotent
    here). If the arrival source can reorder fresh documents by more
    than a batch, derive ``ingest_ts`` from actual arrival time (Kafka
    record timestamp) or set a horizon covering the reorder bound.
    """
    from ..functions.portable import words_expr
    from ..operators.text import _exprs, gopher_gate_sql

    e = _exprs("spark", ws="__ws")
    # the shared Gopher admission rule — identical across the funnel and
    # every corpus write path (VERDICT r07 #5); words projected once
    # (see text._exprs, r14 optimization round)
    keep = gopher_gate_sql("spark", ws="__ws")
    docs = docs.withColumn("__ws", F.expr(words_expr("text", "spark")))
    scored = (
        docs.withColumn(
            # +1s: the initial watermark is epoch 0 and the dedup
            # operator drops rows at-or-before it as late — doc_id 0
            # must still map above the epoch
            "ingest_ts",
            F.timestamp_micros(F.col("doc_id") * 1000 + 1_000_000),
        )
        .withWatermark("ingest_ts", "0 seconds")
        .select(
            "source",
            F.md5("text").alias("h"),
            F.expr(e["n_words"]).alias("n_tokens"),
            F.expr(keep).alias("keep"),
            "ingest_ts",
        )
        .filter(F.col("keep"))
    )
    deduped = scored.dropDuplicatesWithinWatermark(["source", "h"])
    return deduped.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


def q_corpus_ingest_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay of the corpus-ingest stream (complete mode: the
    running per-source totals are the result, not an append log)."""
    return _run_to_memory(
        corpus_ingest_stream_df(spark, sf_dir), output_mode="complete"
    )


def decontaminate_stream_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming decontamination gate: arriving training documents pass
    only if they share NO word n-gram with the held-out eval split —
    the online form of ``operators/contamination.q_decontaminate``,
    applied at ingest so contaminated shards never land in the corpus.

    Shape: the eval shingle dictionary is a STATIC batch relation
    collapsed to one array row (benchmarks are MBs, the same broadcast
    argument as the batch operator) and cross-joined onto the stream —
    a stateless stream-static join, so the gate is a narrow per-row
    ``arrays_overlap`` with no streaming state, no watermark, and
    append-mode emission. Document text never crosses an exchange; the
    only non-map work is the one-time static aggregation of the eval
    side. At 100 TB/day of arriving shards the per-row cost is
    O(shingles x probe) against a broadcast hash — the same plan Spark
    picks for the batch twin's matched-probe."""
    from ..operators.contamination import eval_shingle_array
    from ..schemas import load_table

    # static eval shingle set -> ONE array row (batch side of the join)
    ev = eval_shingle_array(load_table(spark, sf_dir, "documents"))
    return decontaminate_gate(stream_documents(spark, sf_dir), ev)


def decontaminate_gate(docs: DataFrame, ev: DataFrame) -> DataFrame:
    """The gate transformation over any documents stream plus a one-row
    static eval-shingle-array relation (source-agnostic, same split as
    :func:`corpus_ingest_from_stream`)."""
    from ..functions.portable import words_expr
    from ..operators.contamination import EVAL_MOD, _shingles
    from ..operators.text import _exprs

    e = _exprs("spark", ws="__ws")
    shingled = docs.filter(F.col("doc_id") % EVAL_MOD != 0).withColumn(
        "__ws", F.expr(words_expr("text", "spark"))
    ).select(
        "doc_id",
        "source",
        F.expr(e["n_words"]).alias("n_tokens"),
        F.expr(_shingles("spark", ws="__ws")).alias("sh"),
    )
    # NULL-safe negation: arrays_overlap returns NULL (not false) when a
    # no-match array contains a null element (a NULL-text doc shingles to
    # [NULL]); the oracle's anti-join keeps such docs, so coalesce the
    # overlap to false before negating.
    return (
        shingled.crossJoin(F.broadcast(ev))
        .filter(
            ~F.coalesce(
                F.arrays_overlap(F.col("sh"), F.col("ev_g")), F.lit(False)
            )
        )
        .select("doc_id", "source", "n_tokens")
    )


def q_winnow_fingerprints_streaming(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fingerprinting-at-ingest: the winnowing extraction
    (operators/dedup.py::winnow_fps_from_docs — MOSS window-minima,
    the sublinear substring match index) applied to ARRIVING documents
    as a Structured Streaming job, so the match index is built when
    docs land instead of by nightly batch. Stateless narrow map (split,
    hash, window-min, explode at the source) — append mode, no
    watermark, no streaming state; the only thing that ever leaves an
    executor is (doc_id, 60-bit fp). On a bounded replay the emitted
    rows equal the batch extraction exactly, so the batch oracle
    applies verbatim."""
    from ..operators.dedup import winnow_fps_from_docs

    return _run_to_memory(winnow_fps_from_docs(stream_documents(spark, sf_dir)))


def q_decontaminate_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay of the streaming decontamination gate (stateless ->
    plain append)."""
    return _run_to_memory(decontaminate_stream_df(spark, sf_dir))


def _decontaminate_streaming_sql() -> str:
    from ..operators.contamination import EVAL_MOD, _shingles
    from ..operators.text import _exprs

    e = _exprs("duckdb")
    return f"""
WITH base AS (
  SELECT doc_id, source, {e['n_words']} AS n_tokens,
         {_shingles('duckdb')} AS sh
  FROM documents
),
ev AS (
  SELECT DISTINCT unnest(sh) AS g FROM base WHERE doc_id % {EVAL_MOD} = 0
),
bad AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest(sh) AS g FROM base
        WHERE doc_id % {EVAL_MOD} <> 0) tr
  JOIN ev USING (g)
)
SELECT doc_id, source, n_tokens
FROM base
WHERE doc_id % {EVAL_MOD} <> 0
  AND doc_id NOT IN (SELECT doc_id FROM bad)
"""


def _corpus_ingest_sql() -> str:
    from ..operators.text import _exprs, gopher_gate_sql

    e = _exprs("duckdb")
    return f"""
WITH scored AS (
  SELECT source, md5(text) AS h, {e['n_words']} AS n_tokens
  FROM documents
  WHERE {gopher_gate_sql('duckdb')}
),
ded AS (
  SELECT source, h, min(n_tokens) AS n_tokens FROM scored GROUP BY source, h
)
SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM ded GROUP BY source
"""


STREAMING_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type,
       epoch_ms(ts) - epoch_ms(ts) % 60000 AS minute_ms
FROM events
"""


SESSION_GAP_MIN = 30
_SESSION_GAP_US = SESSION_GAP_MIN * 60 * 1_000_000

_SESSION_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start_ms", T.LongType()),
        T.StructField("session_end_ms", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)
# Open sessions as parallel arrays (start_us, end_us, n_events) — state
# per key is O(open sessions), NOT O(events): arrivals fold into session
# aggregates on arrival (VERDICT r01 #5; a hot key at 100x event volume
# holds the same state as at 1x as long as its live-session count holds).
_SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("starts", T.ArrayType(T.LongType())),
        T.StructField("ends", T.ArrayType(T.LongType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
    ]
)


# Below this many arrivals the per-group numpy fixed overhead exceeds
# the loop (micro-bench: 60 events/group loop 0.03 ms vs np 0.08 ms;
# 1000 events np wins 2-4x; 100k events — the hot-key straggler case —
# np wins 160x: 300 ms -> 1.9 ms per group).
_MERGE_VECTORIZE_MIN = 256


def _merge_sessions(sessions, new_ts) -> list[list[int]]:
    """Fold new event timestamps into the open-session set: each event is
    a 1-event session; coalesce any adjacent pair with gap < GAP (also
    merges sessions a new event bridges). Interval merge over a sorted
    list — the incremental form of the gaps-and-islands rule.

    ``new_ts`` may be a list or an int64 ndarray. Large arrival batches
    are collapsed into (start, end, count) runs with numpy BEFORE the
    pairwise interval merge (guide §4.2: per-event work belongs in
    vectorized native code, not a Python loop) — without this, one hot
    key receiving ~1M events in a batch pays ~3 s of pure-Python loop
    inside its (single-task) group, the classic straggler. Collapsing
    points first applies the SAME gap rule to a sorted subsequence, so
    the result is identical to the one-pass merge (fuzz-proven over
    20k randomized cases in tests/test_streaming_jobs.py)."""
    if len(new_ts) >= _MERGE_VECTORIZE_MIN:
        import numpy as np

        ts = np.asarray(new_ts)
        if ts.dtype.kind == "f" and np.isnan(ts).any():
            # pandas renders a bigint column containing nulls as
            # float64 + NaN, and ndarray->int64 casting silently turns
            # NaN into INT64_MIN — fail loudly like the small-batch
            # path's int(NaN) does instead of emitting a garbage session
            raise ValueError(
                "sessionize: null event timestamp in arrival batch"
            )
        ts = np.sort(ts.astype(np.int64))
        brk = np.flatnonzero(np.diff(ts) >= _SESSION_GAP_US) + 1
        run_start = np.concatenate(([0], brk))
        run_end = np.concatenate((brk, [len(ts)]))
        pts = [
            [int(ts[s]), int(ts[e - 1]), int(e - s)]
            for s, e in zip(run_start, run_end)
        ]
    else:
        pts = [[int(t), int(t), 1] for t in sorted(new_ts)]
    items = [list(s) for s in sessions] + pts
    if not items:
        # A group can be invoked with only empty/null-timestamp batches;
        # no sessions + no events must no-op, not IndexError.
        return []
    items.sort(key=lambda s: (s[0], s[1]))
    out = [items[0]]
    for s, e, n in items[1:]:
        if s - out[-1][1] < _SESSION_GAP_US:
            out[-1][1] = max(out[-1][1], e)
            out[-1][2] += n
        else:
            out.append([s, e, n])
    return out


def _sessionize_fn(key, pdfs, state):  # noqa: ANN001 - pandas-UDF contract
    """Per-user gap sessionizer (GroupState). Arrivals merge into open-
    session aggregates immediately; an event-time timer at the earliest
    open-session close boundary emits every session whose close (last
    event + gap) is at or before the watermark, keeps the still-open
    remainder in state, and re-registers for the next close — the same
    closure rule the built-in session_window applies, restated for a
    custom operator, and safe on an unbounded stream (no state removal
    of open sessions, no unregistered-timer stall)."""
    import pandas as pd  # local import: runs on python workers

    wm = state.getCurrentWatermarkMs()

    def _timer_for(sessions: list[list[int]]) -> int:
        earliest_close_ms = min((e + _SESSION_GAP_US) // 1000 for _, e, _n in sessions)
        # event-time timers must sit strictly past the current watermark
        return max(earliest_close_ms, wm + 1)

    if state.hasTimedOut:
        starts, ends, counts = state.get
        sessions = [list(s) for s in zip(starts, ends, counts)]
        closed = [s for s in sessions if (s[1] + _SESSION_GAP_US) // 1000 <= wm]
        still_open = [s for s in sessions if (s[1] + _SESSION_GAP_US) // 1000 > wm]
        if still_open:
            state.update(
                (
                    [s[0] for s in still_open],
                    [s[1] for s in still_open],
                    [s[2] for s in still_open],
                )
            )
            state.setTimeoutTimestamp(_timer_for(still_open))
        else:
            state.remove()
        if closed:
            yield pd.DataFrame(
                [
                    (key[0], s // 1000, (e + _SESSION_GAP_US) // 1000, n)
                    for s, e, n in closed
                ],
                columns=["user_id", "session_start_ms", "session_end_ms", "n_events"],
            )
    else:
        if state.exists:
            starts, ends, counts = state.get
            sessions = [list(s) for s in zip(starts, ends, counts)]
        else:
            sessions = []
        import numpy as np

        # hand whole column buffers to the merge (no per-event Python
        # int() conversion — the values stay int64 end to end)
        chunks = [pdf["ts_us"].to_numpy() for pdf in pdfs]
        new_ts = np.concatenate(chunks) if chunks else []
        sessions = _merge_sessions(sessions, new_ts)
        if not sessions:
            return  # nothing buffered and nothing arrived: leave no state
        state.update(
            (
                [s[0] for s in sessions],
                [s[1] for s in sessions],
                [s[2] for s in sessions],
            )
        )
        state.setTimeoutTimestamp(_timer_for(sessions))


def stateful_sessionize_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (SURVEY.md §2.7 'arbitrary stateful ops'):
    per-user 30-minute-gap sessionization via applyInPandasWithState with
    an event-time timeout — the Spark-idiomatic replacement for a Flink
    KeyedProcessFunction with timers.

    Scale: state is partitioned by user_id across the state store (RocksDB
    provider); each group holds (start, end, count) per OPEN session —
    arrivals fold into those aggregates immediately, and timers evict
    closed sessions as the watermark advances, so state size tracks the
    live session population, never event history.
    """
    return sessionize_events_stream(_stream_events_ts(spark, sf_dir))


def sessionize_events_stream(ev: DataFrame) -> DataFrame:
    """Apply the custom sessionizer to any events stream carrying
    (user_id, ts, ts_t) — split from the source so tests can drive it
    with a chunked multi-batch source."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = (
        ev.withWatermark("ts_t", "0 seconds")
        .select("user_id", F.expr("ts DIV 1000").alias("ts_us"), "ts_t")
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        _sessionize_fn,
        _SESSION_OUT_SCHEMA,
        _SESSION_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def q_stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_to_memory(stateful_sessionize_df(spark, sf_dir))


# Oracle: gaps-and-islands sessions restricted to those closed by the
# final watermark (= max event time, ms): session_end_ms <= max ts.
STATEFUL_SESSIONIZE_SQL = """
SELECT user_id, session_start_ms, session_end_ms, n_events FROM (
  SELECT user_id,
         min(ts_us) // 1000 AS session_start_ms,
         (max(ts_us) + 1800000000) // 1000 AS session_end_ms,
         count(*) AS n_events
  FROM (
    SELECT user_id, ts_us,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess_id
    FROM (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
                       OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                       >= 1800000000 OR lag(epoch_us(ts), 1)
                       OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                       IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    )
  )
  GROUP BY user_id, sess_id
)
WHERE session_end_ms <= (SELECT max(epoch_ms(ts)) FROM events)
"""


def session_windows_stream_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in STREAMING session windows (the declarative, preferred
    form of the custom sessionizer below): session_window + watermark in
    append mode. Spark merges overlapping per-key session state and emits
    a session once the watermark passes its end — the same closure rule
    _sessionize_fn implements by hand, so both share one oracle. Prefer
    this over the custom operator wherever plain per-session aggregates
    suffice; reach for applyInPandasWithState only when the per-session
    logic needs arbitrary state/output."""
    return session_windows_from_events(_stream_events_ts(spark, sf_dir))


def session_windows_from_events(ev_ts: DataFrame) -> DataFrame:
    """The session-window aggregation over any ts_t-enriched events
    stream (source-agnostic)."""
    ev = ev_ts.withWatermark("ts_t", "0 seconds")
    return (
        ev.groupBy(
            F.session_window("ts_t", f"{SESSION_GAP_MIN} minutes").alias("w"),
            "user_id",
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_millis("w.start").alias("session_start_ms"),
            F.unix_millis("w.end").alias("session_end_ms"),
            "n_events",
        )
    )


def q_session_windows_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_to_memory(session_windows_stream_df(spark, sf_dir))


# ---------------------------------------------------------------------------
# transformWithStateInPandas — the Spark 4 arbitrary-state API (successor
# to applyInPandasWithState): named state variables + explicit timers
# ---------------------------------------------------------------------------

_TWS_OUT_SCHEMA = "user_id BIGINT, n_events BIGINT, sum_value_cents BIGINT"


def _tws_available() -> bool:
    """transformWithStateInPandas speaks a protobuf state protocol between
    the JVM and a python driver worker; without google.protobuf the worker
    crashes at init. ``ensure_protobuf`` first tries the real protobuf
    distribution, then falls back to the vendored miniproto runtime
    (``vendor/miniproto`` — a from-scratch pure-Python subset built for
    exactly this protocol). Only if both are unavailable does the engine
    degrade to applyInPandasWithState (same capability, §2.7 'arbitrary
    stateful ops')."""
    from ..vendorpath import ensure_protobuf

    return ensure_protobuf()


def _user_totals_processor():
    """Build the StatefulProcessor (class defined lazily so importing this
    module never requires the streaming-state machinery)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class UserTotalsProcessor(StatefulProcessor):
        """Per-user exact totals held in a ValueState, emitted by an
        event-time timer once the watermark passes all input — the
        transformWithState analogue of a Flink KeyedProcessFunction with
        a ValueState + registerEventTimeTimer pair.

        State per key is O(1) (two bigints), updated incrementally per
        micro-batch — unlike the sessionizer there is no buffered event
        list, so state size is bounded by the key population regardless
        of event volume.
        """

        def init(self, handle):  # noqa: ANN001 - framework contract
            self._handle = handle
            self._totals = handle.getValueState("totals", "n BIGINT, cents BIGINT")

        def handleInputRows(self, key, rows, timerValues):  # noqa: ANN001
            # ONE state-server round-trip, not two: get() already
            # returns None when the state has no value, so the
            # exists() pre-check was a second synchronous socket
            # round-trip (per key, per batch) through the Python
            # state protocol for information get() carries anyway
            # (r14 optimization round, guide §1.2 step 2).
            cur = self._totals.get()
            n, cents = cur if cur is not None else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents += int(pdf["v_cents"].sum())
            self._totals.update((int(n), int(cents)))
            # Fire just past the current watermark: in an availableNow
            # run the final no-data batch advances the watermark to max
            # event time and delivers the timer.
            self._handle.registerTimer(timerValues.getCurrentWatermarkInMs() + 1)
            return iter(())

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):  # noqa: ANN001
            cur = self._totals.get()  # one round-trip; None == already emitted
            if cur is None:  # emitted by an earlier timer
                return
            n, cents = cur
            self._totals.clear()
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "n_events": [int(n)],
                    "sum_value_cents": [int(cents)],
                }
            )

        def close(self):
            pass

    return UserTotalsProcessor()


def tws_user_totals_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..vendorpath import ensure_protobuf_for_session

    # Late-bind the vendored protobuf runtime into the live JVM's worker
    # env too: the external driver may have built its session before
    # importing this engine, in which case the os.environ export in
    # ensure_protobuf() happened after the JVM captured its env.
    ensure_protobuf_for_session(spark)
    ev = (
        _stream_events_ts(spark, sf_dir)
        .withWatermark("ts_t", "0 seconds")
        .select(
            "user_id",
            F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").alias("v_cents"),
            "ts_t",
        )
    )
    return ev.groupBy("user_id").transformWithStateInPandas(
        _user_totals_processor(), _TWS_OUT_SCHEMA, "append", "eventTime"
    )


def q_tws_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_to_memory(tws_user_totals_df(spark, sf_dir))


# Every user's totals emit (all timers fire once the final watermark =
# max event time passes them), so the oracle is the plain batch GROUP BY.
TWS_USER_TOTALS_SQL = """
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_value_cents
FROM events GROUP BY user_id
"""


def run_taxi_pipeline_single_pass(
    spark: SparkSession,
    sf_dir: str,
    partials_dir: str | None = None,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | str | None = "auto",
) -> dict[str, DataFrame]:
    """Q1 + Q2 from ONE streaming pass over the trip source — the
    single-scan answer to the dual-read trade documented on
    :func:`run_taxi_pipeline` (Flink fans one DAG out to both aggregates,
    ProcessTaxiStream.java:87,96,109; two Spark ``writeStream`` queries
    re-scan the source).

    Design: the streaming plan is STATELESS (no windowed agg in-plan);
    ``foreachBatch`` computes per-batch PARTIAL aggregates for both
    queries from one cached micro-batch and writes them epoch-addressed
    (``.../epoch=N``, overwrite — recovery redelivery is idempotent).
    Merge happens once at the end: partial counts/sums merge
    associatively per (location[, airport], window), HAVING is applied
    only post-merge, and the emission rule (window end <= final
    watermark = max clean-trip event time, exactly q1/q2_streaming's)
    filters on the max event time carried through the partials. This is
    window-correct under ANY micro-batch split — the r01 caveat
    (per-batch FINAL aggregation breaks windows spanning batches) does
    not apply because nothing final happens per batch; see
    tests/test_streaming.py::test_single_pass_pipeline_multi_batch.

    Scale: per-batch partials are post-aggregate (O(active windows x
    cells), never raw trips), written distributed — the driver holds no
    rows; the compaction is one small batch job. The trade vs in-plan
    window state: partials storage instead of a state store, one merge
    job instead of per-batch state lookups — the classic
    partial-aggregate + compaction pipeline.
    """
    from ..schemas import scratch_dir

    src_opts: dict[str, str] = {}
    if max_files_per_trigger == "auto":
        max_files_per_trigger = half_source_files(spark, sf_dir)
    if max_files_per_trigger is not None:
        src_opts["maxFilesPerTrigger"] = str(max_files_per_trigger)
    trips = stream_clean_trips(spark, sf_dir, **src_opts)
    pdir = partials_dir or scratch_dir("taxi_partials_")

    def body(batch_df: DataFrame, epoch_id: int) -> None:
        b = taxi.with_cell(batch_df).persist()
        try:
            # q1 partials double as the watermark carrier: these groups
            # cover every clean trip in the batch, so max(dropoff_ms)
            # over all q1 partials = the final watermark.
            # Partial outputs are O(active windows x cells); they write
            # at the aggregation's own partition width (a handful —
            # STREAM_STATE_PARTITIONS during bounded replays) so the
            # write is parallel. The former coalesce(1) serialized each
            # epoch's partial write through ONE task — at the sf10
            # composite (~1M partial rows/epoch) that single-threaded
            # funnel was measurable (r08 finding); a few files per epoch
            # still keeps the compaction scan shard count bounded.
            (
                taxi.by_window(b, "location")
                .agg(
                    F.count("*").alias("pickup_count"),
                    F.max("dropoff_ms").alias("max_ms"),
                )
                .write.mode("overwrite")
                .parquet(f"{pdir}/q1/epoch={int(epoch_id)}")
            )
            (
                taxi.duration_sums(taxi.with_duration(taxi.at_airport(b)))
                .write.mode("overwrite")
                .parquet(f"{pdir}/q2/epoch={int(epoch_id)}")
            )
        finally:
            b.unpersist()

    # run_bounded's state width also sizes the per-epoch partial
    # aggregates: they are small, so session-wide shuffle widths just add
    # scheduling floor per epoch.
    run_bounded(
        spark,
        [("taxi", trips.writeStream.foreachBatch(body).outputMode("append"))],
        checkpoint_dir,
    )

    q1p = spark.read.parquet(f"{pdir}/q1")
    wm = F.broadcast(q1p.agg(F.max("max_ms").alias("wm_ms")))

    def closed(result: DataFrame) -> DataFrame:
        # the emission rule: windows the final watermark closed
        return (
            result.crossJoin(wm)
            .filter(F.col("timestamp") < F.col("wm_ms"))
            .drop("wm_ms")
        )

    pickup = closed(
        taxi.q1_result(
            q1p.groupBy("window", "location").agg(
                F.sum("pickup_count").alias("pickup_count")
            )
        )
    )
    q2p = spark.read.parquet(f"{pdir}/q2")
    duration = closed(
        taxi.q2_result(
            q2p.groupBy("window", "location", "airport_code").agg(
                F.sum("sum_trip_duration").alias("sum_trip_duration"),
                F.sum("cnt").alias("cnt"),
            )
        )
    )
    return {
        "pickup_count": pickup,
        "trip_duration": duration,
        "partials_dir": pdir,
        "checkpoint_dir": checkpoint_dir,
    }


def q_taxi_pipeline_single_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable surface of the single-pass pipeline: its Q1
    result (same schema and emission rule as q1_streaming, so the same
    oracle applies); the adaptive multi-batch default (maxFilesPerTrigger
    = half the normalized source's file count, :func:`half_source_files`)
    means every driver check — at any SF — proves window merges across
    micro-batch splits."""
    return run_taxi_pipeline_single_pass(spark, sf_dir)["pickup_count"]


# ---------------------------------------------------------------------------
# Streaming count-min sketch (the incremental build of the batch
# heavy_hitters_cms sketch)
# ---------------------------------------------------------------------------


def heavy_hitters_stream_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running CMS cell counts over the event stream: each micro-batch's
    cell increments merge into the persistent (r, bkt) counters — the
    cell-addition mergeability the batch operator claims, exercised as
    an actual incremental computation. Streaming state is the sketch
    itself: CMS_D x CMS_W rows, BOUNDED regardless of stream length or
    key cardinality (the whole point of sketching the stream instead of
    keeping per-key counts)."""
    ev = stream_events(
        spark, sf_dir, maxFilesPerTrigger=half_source_files(spark, sf_dir)
    )
    return heavy_hitters_from_events(ev)


def heavy_hitters_from_events(ev: DataFrame) -> DataFrame:
    """The CMS cell aggregation over any raw events stream
    (source-agnostic)."""
    from ..operators.sketches import cms_salted

    return (
        cms_salted(ev.select("user_id"))
        .groupBy("r", "bkt")
        .agg(F.count("*").alias("cell_n"))
    )


def q_heavy_hitters_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay of the streaming CMS build (complete mode — the
    final sketch snapshot is the result), then the same broadcast-probe
    top-k report as the batch twin. End state over the bounded stream
    equals the batch sketch exactly, so the batch oracle applies
    verbatim; the multi-batch source split (maxFilesPerTrigger) means
    every driver check proves sketch merges across micro-batches."""
    from ..operators.sketches import cms_topk_report
    from ..schemas import load_table

    cells = _run_to_memory(
        heavy_hitters_stream_df(spark, sf_dir), output_mode="complete"
    )
    return cms_topk_report(cells, load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Streaming mergeable quantile histogram (events.value, cents-exact)
# ---------------------------------------------------------------------------

QH_EV_BIN_CENTS = 800  # histogram bin width over value in cents ($8)
QH_EV_PCTS = (50, 90, 99)


def quantile_stream_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running fixed-bin histogram of event value (quantized to exact
    cents) over the stream — the quantile counterpart of the streaming
    CMS: per-micro-batch bin increments merge into the persistent
    counters, and state is BOUNDED by the bin count regardless of
    stream length."""
    ev = stream_events(
        spark, sf_dir, maxFilesPerTrigger=half_source_files(spark, sf_dir)
    )
    return quantile_hist_from_events(ev)


def quantile_hist_from_events(ev: DataFrame) -> DataFrame:
    """The fixed-bin histogram aggregation over any raw events stream
    (source-agnostic)."""
    cents = F.expr(
        "CAST(floor(value * CAST(100.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))"
        " AS BIGINT)"
    )
    return (
        ev.select(cents.alias("cents"))
        .groupBy(F.expr(f"cents DIV {QH_EV_BIN_CENTS}").alias("bin"))
        .agg(F.count("*").alias("n"))
    )


def q_quantile_histogram_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global p50/p90/p99 of event value estimated from the
    STREAM-MERGED histogram snapshot (complete mode), exact value
    alongside from the batch table — same estimate/threshold integer
    rules as the batch quantile_histogram, same in-row error-bound
    invariant. The multi-batch source split means every driver check
    proves histogram merges across micro-batches."""
    from pyspark.sql import Window

    from ..schemas import load_table

    merged = _run_to_memory(
        quantile_stream_df(spark, sf_dir), output_mode="complete"
    )
    cum = merged.select(
        "bin",
        F.sum("n").over(
            Window.orderBy("bin").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ).alias("cum"),
    )
    total = merged.agg(F.sum("n").alias("total"))
    pcts = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in QH_EV_PCTS])).alias("pct")
    )
    thr = pcts.crossJoin(F.broadcast(total)).select(
        "pct",
        F.floor((F.col("total") * F.col("pct") + F.lit(99)) / F.lit(100))
        .cast("long")
        .alias("thr"),
    )
    est = (
        thr.join(F.broadcast(cum), F.col("cum") >= F.col("thr"))
        .groupBy("pct")
        .agg(F.min("thr").alias("thr"), F.min("bin").alias("bin"))
        .select(
            "pct",
            "thr",
            ((F.col("bin") + 1) * QH_EV_BIN_CENTS).alias("est_hi_cents"),
        )
    )
    vcum = (
        load_table(spark, sf_dir, "events")
        .select(
            F.expr(
                "CAST(floor(value * CAST(100.0 AS DOUBLE)"
                " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
            ).alias("cents")
        )
        .groupBy("cents")
        .agg(F.count("*").alias("n"))
        .select(
            "cents",
            F.sum("n").over(
                Window.orderBy("cents").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ).alias("cum"),
        )
    )
    return (
        est.join(F.broadcast(vcum), F.col("cum") >= F.col("thr"))
        .groupBy("pct")
        .agg(
            F.min("thr").alias("thr"),
            F.min("est_hi_cents").alias("est_hi_cents"),
            F.min("cents").alias("exact_cents"),
        )
        .select(
            "pct",
            "thr",
            "est_hi_cents",
            "exact_cents",
            (
                (F.col("est_hi_cents") - F.col("exact_cents") >= 0)
                & (
                    F.col("est_hi_cents") - F.col("exact_cents")
                    <= QH_EV_BIN_CENTS
                )
            ).alias("bound_ok"),
        )
    )


QUANTILE_HISTOGRAM_STREAMING_SQL = f"""
WITH cents_t AS (
  SELECT CAST(floor(value * CAST(100.0 AS DOUBLE)
    + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents FROM events),
merged AS (
  SELECT cents // {QH_EV_BIN_CENTS} AS bin, count(*) AS n
  FROM cents_t GROUP BY 1),
cum AS (
  SELECT bin, CAST(sum(n) OVER (ORDER BY bin
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM merged),
total AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM merged),
thr AS (
  SELECT pct, CAST(floor((total * pct + 99) / 100) AS BIGINT) AS thr
  FROM (SELECT unnest([{", ".join(str(p) for p in QH_EV_PCTS)}]) AS pct)
  CROSS JOIN total),
est AS (
  SELECT pct, min(thr) AS thr,
         (min(bin) + 1) * {QH_EV_BIN_CENTS} AS est_hi_cents
  FROM thr JOIN cum ON cum >= thr GROUP BY pct),
vcum AS (
  SELECT cents, CAST(sum(n) OVER (ORDER BY cents
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM (SELECT cents, count(*) AS n FROM cents_t GROUP BY cents)),
ex AS (
  SELECT pct, min(thr) AS thr, min(est_hi_cents) AS est_hi_cents,
         min(cents) AS exact_cents
  FROM est JOIN vcum ON cum >= thr GROUP BY pct)
SELECT pct, thr, est_hi_cents, CAST(exact_cents AS BIGINT) AS exact_cents,
       est_hi_cents - exact_cents >= 0
         AND est_hi_cents - exact_cents <= {QH_EV_BIN_CENTS} AS bound_ok
FROM ex
"""


# ---------------------------------------------------------------------------
# Streaming PQ ingest: the vector-side twin of corpus_ingest_streaming —
# codes computed AS VECTORS ARRIVE, landing in the same sidecar shape
# ann_pq's batch materializer produces (operators/similarity.py).
# ---------------------------------------------------------------------------

#: (sf_dir, embeddings stamp) -> multi-file split copy for replay
_EMB_SPLIT_CACHE: dict = {}


def _emb_split_path(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    """Stamp-keyed multi-file copy of the embeddings table — the local
    stand-in for a vector landing zone where shards arrive over time
    (the single-file testdata cannot exercise a multi-batch replay)."""
    import os

    from ..schemas import load_table, scratch_dir, table_stamp

    key = (sf_dir, table_stamp(f"{sf_dir}/embeddings.parquet"), n_files)
    path = _EMB_SPLIT_CACHE.get(key)
    if path is not None and os.path.isdir(path):
        return path
    out = scratch_dir("emb_split_")
    load_table(spark, sf_dir, "embeddings").repartition(n_files).write.mode(
        "overwrite"
    ).parquet(out)
    _EMB_SPLIT_CACHE[key] = out
    return out


def q_pq_ingest_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming build of ann_pq's codes sidecar: embeddings stream in
    (multi-batch file replay — two shards per trigger), each micro-batch
    is PQ-encoded by the same Arrow-batched coder the batch materializer
    uses, and the exactly-once parquet file sink appends to the sidecar.
    End state equals the batch sidecar exactly (per-row encode against a
    fixed codebook is batch-split-invariant), so the oracle is the
    shared codes CTE (operators/similarity.pq_codes_cte_sql) — the
    literal "codes are computed once, at ingest" design ann_pq's scale
    story rests on, exercised as an actual incremental pipeline.

    Codes are emitted '|'-joined (driver canonicalizer cannot hash
    array columns, same rule as dup_provenance)."""
    from ..operators.similarity import _pq_books_int, _pq_codes_udf

    split = _emb_split_path(spark, sf_dir)
    books_int = _pq_books_int(spark, sf_dir)  # bounded training sample
    schema = spark.read.parquet(split).schema
    pq_udf = _pq_codes_udf(books_int)
    # This entry oscillated 1.5s <-> 9s across sweeps on an untouched
    # plan (VERDICT r11-r13). Root cause (README r14, instrumented in
    # tools/probe_pq_ingest.py): the variance was entirely the first
    # micro-batch's addBatch on freshly-forked Python workers, and
    # inside it the first BIG numpy allocation — the old encoder's
    # n x S x K x D broadcast intermediate (~132 KB/row) first-touch
    # faulting against the bench VM's lazy memory backend (host steal
    # + guest system time, ~0 user CPU). Fixed at the source: the
    # encoder now uses the expanded exact-int64 distance form with
    # D(=8)x smaller intermediates (similarity._pq_codes_udf), which
    # bounds the fault exposure and is ~10x faster warm everywhere.
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(split)
    )
    coded = ev.select(
        "vec_id",
        pq_udf(F.col("embedding")).alias("codes"),
    )
    from ..schemas import scratch_dir

    out = scratch_dir("pq_sidecar_stream_")
    writer = coded.writeStream.format("parquet").option("path", out)
    run_bounded(spark, [("pq", writer.outputMode("append"))])
    return spark.read.parquet(out).select(
        "vec_id",
        F.array_join(
            F.transform(F.col("codes"), lambda c: c.cast("string")), "|"
        ).alias("codes_str"),
    )


# trains the codebook + runs a bounded stream during plan construction
q_pq_ingest_streaming.stateful_build = True


def _pq_ingest_streaming_sql() -> str:
    from ..operators.similarity import pq_codes_cte_sql

    return f"""
WITH {pq_codes_cte_sql()}
SELECT vec_id,
       array_to_string(list_transform(codes, c -> CAST(c AS VARCHAR)), '|')
         AS codes_str
FROM coded
"""


# ---------------------------------------------------------------------------
# Streaming per-source drift monitor (KL vs corpus)
# ---------------------------------------------------------------------------

def source_drift_stream_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-(source, md5-bucket) token counts over the arriving
    document stream — the state the online drift monitor maintains.
    State is BOUNDED at |sources| x FEAT_BUCKETS rows no matter how much
    corpus flows through (the same bounded-sketch argument as the
    streaming CMS/histogram twins); text never crosses the exchange —
    each micro-batch ships partially-combined (source, bucket, count)."""
    return drift_state_from_stream(stream_documents(spark, sf_dir))


def drift_state_from_stream(docs: DataFrame) -> DataFrame:
    """The drift-state aggregation over any documents stream (source-
    agnostic: file landing zone here, Kafka/Kinesis in production)."""
    from ..functions.portable import words_expr

    wb = docs.select(
        "source", F.explode(F.expr(words_expr("text", "spark"))).alias("w")
    ).select("source", F.substring(F.md5("w"), 1, 2).alias("b"))
    return wb.groupBy("source", "b").agg(F.count("*").alias("c_sb"))


def q_source_drift_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay of the streaming drift-state build (complete mode
    — the merged (source, bucket) counts are the snapshot), finished by
    the SAME exact-integer KL report as the batch twin
    (operators/selection.drift_report). End state over the bounded
    stream equals the batch aggregate exactly (count addition is
    associative), so the batch oracle applies verbatim; the monitor's
    online form would read the same snapshot each trigger."""
    from ..operators.selection import drift_report

    # localCheckpoint: drift_report self-joins the relation (grid x
    # probe); the memory-sink view resolves both branches to the same
    # attribute ids, so cut lineage exactly as the batch twin does
    per_src = _run_to_memory(
        source_drift_stream_df(spark, sf_dir), output_mode="complete"
    ).localCheckpoint(eager=False)
    return drift_report(per_src)


def q_quality_funnel_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the Gopher-gate quality funnel: the per-doc
    gate flags are STATELESS scan expressions, and the per-source
    survival counts are associative sums, so the running funnel is a
    complete-mode aggregation whose state is bounded at |sources| rows
    no matter how much corpus flows through — the curation dashboard's
    live view (where is the pipeline losing documents, per source,
    right now). Bounded replay's end state equals the batch aggregate
    exactly, so the batch oracle applies verbatim."""
    from ..operators.text import quality_funnel_from_docs

    return _run_to_memory(
        quality_funnel_from_docs(stream_documents(spark, sf_dir)),
        output_mode="complete",
    )


QUERIES = {
    "q1_kinesis_wire": q1_kinesis_wire,
    "pq_ingest_streaming": q_pq_ingest_streaming,
    "source_drift_streaming": q_source_drift_streaming,
    "quality_funnel_streaming": q_quality_funnel_streaming,
    "stream_static_join": q_stream_static_join,
    "stream_stream_join": q_stream_stream_join,
    "stream_stream_left_join": q_stream_stream_left_join,
    "streaming_dedup": q_streaming_dedup,
    "corpus_ingest_streaming": q_corpus_ingest_streaming,
    "winnow_fingerprints_streaming": q_winnow_fingerprints_streaming,
    "decontaminate_streaming": q_decontaminate_streaming,
    "stateful_sessionize": q_stateful_sessionize,
    "session_windows_streaming": q_session_windows_streaming,
    "taxi_pipeline_single_pass": q_taxi_pipeline_single_pass,
    "trending_cells_streaming": q_trending_cells_streaming,
    "heavy_hitters_streaming": q_heavy_hitters_streaming,
    "quantile_histogram_streaming": q_quantile_histogram_streaming,
}

if _tws_available():  # pragma: no cover - environment-dependent
    QUERIES["tws_user_totals"] = q_tws_user_totals


def _winnow_streaming_oracle() -> str:
    from ..operators.dedup import ORACLES as DEDUP_ORACLES

    return DEDUP_ORACLES["winnow_fingerprints"]


def _q1_streaming_oracle() -> str:
    from ..oracle import sqlgen

    return sqlgen.q1_streaming_sql()


def _trending_cells_streaming_oracle() -> str:
    from ..oracle import sqlgen

    return sqlgen.trending_cells_streaming_sql()


ORACLES = {
    # Q1 via the single-pass partial-merge pipeline: same result
    # contract and emission rule as q1_streaming -> same oracle.
    "taxi_pipeline_single_pass": _q1_streaming_oracle(),
    # Q1 through the Kinesis swap points over the wire fake: the
    # transport must be value-invisible, so q1_streaming's oracle
    # applies verbatim — any serialization/routing defect breaks it.
    "q1_kinesis_wire": _q1_streaming_oracle(),
    "trending_cells_streaming": _trending_cells_streaming_oracle(),
    "stream_static_join": STREAM_STATIC_JOIN_SQL,
    "stream_stream_join": STREAM_STREAM_JOIN_SQL,
    "stream_stream_left_join": STREAM_STREAM_LEFT_JOIN_SQL,
    "streaming_dedup": STREAMING_DEDUP_SQL,
    "corpus_ingest_streaming": _corpus_ingest_sql(),
    # stateless append over a bounded replay == the batch extraction,
    # so the batch winnowing oracle applies verbatim
    "winnow_fingerprints_streaming": _winnow_streaming_oracle(),
    "decontaminate_streaming": _decontaminate_streaming_sql(),
    "stateful_sessionize": STATEFUL_SESSIONIZE_SQL,
    # built-in session_window closes sessions by the identical watermark
    # rule the custom operator implements -> same oracle
    "session_windows_streaming": STATEFUL_SESSIONIZE_SQL,
}


def _heavy_hitters_streaming_oracle() -> str:
    # The bounded stream's final sketch equals the batch sketch (cell
    # addition is associative), so the batch CMS oracle applies verbatim.
    from ..operators.sketches import _heavy_hitters_cms_sql

    return _heavy_hitters_cms_sql()


ORACLES["heavy_hitters_streaming"] = _heavy_hitters_streaming_oracle()
# The bounded stream's final histogram equals the batch histogram (bin
# addition is associative), so one epoch-independent SQL is the oracle.
ORACLES["quantile_histogram_streaming"] = QUANTILE_HISTOGRAM_STREAMING_SQL
ORACLES["pq_ingest_streaming"] = _pq_ingest_streaming_sql()


def _source_drift_streaming_oracle() -> str:
    # The merged complete-mode snapshot equals the batch (source,
    # bucket) aggregate (count addition is associative), so the batch
    # drift oracle applies verbatim.
    from ..operators.selection import ORACLES as SEL_ORACLES

    return SEL_ORACLES["source_drift"]


ORACLES["source_drift_streaming"] = _source_drift_streaming_oracle()


def _quality_funnel_streaming_oracle() -> str:
    # Complete-mode end state == the batch funnel (associative sums of
    # stateless per-doc gate flags), so the batch oracle applies
    # verbatim.
    from ..operators.text import ORACLES as TEXT_ORACLES

    return TEXT_ORACLES["quality_funnel"]


ORACLES["quality_funnel_streaming"] = _quality_funnel_streaming_oracle()

if _tws_available():  # pragma: no cover - environment-dependent
    ORACLES["tws_user_totals"] = TWS_USER_TOTALS_SQL


def run_taxi_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str | None = None,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    source_format: str = "parquet",
    auto_decompress: bool = False,
    collect_results: bool = True,
    endpoint: str | None = None,
    stream_name: str = "taxi-trips",
) -> dict[str, "DataFrame | str"]:
    """The full consumer job (ProcessTaxiStream.main equivalent): Q1 + Q2
    as TWO streaming queries over the same trip-stream definition, each
    with its windowed aggregation INSIDE the streaming plan — the state
    store carries windows across micro-batches and append mode emits each
    window exactly once when the watermark closes it. ``foreachBatch`` is
    sink fan-out ONLY: it receives finalized result deltas (tiny,
    post-HAVING) and relays them to the ES bulk sink.

    This is window-correct under ANY micro-batch split (multiple files,
    ``max_files_per_trigger`` throttling, restarts from ``checkpoint_dir``);
    the previous design aggregated per micro-batch inside foreachBatch and
    was correct only for single-batch availableNow runs. Flink fans one
    DAG out to both aggregates (ProcessTaxiStream.java:87,96,109); Spark's
    equivalent of shared cross-batch agg state is one query per aggregate —
    the second source scan is the idiomatic price of correct state
    ownership, and at 100 TB the scan is the cheap part next to the agg.

    Emission semantics match q1_streaming/q2_streaming (and Flink's
    in-band watermark): windows closed by the final watermark = max event
    time emit; the trailing open window stays in state (and would emit on
    the next run from the same checkpoint).

    Result rows never pass through the driver: ``foreachBatch`` issues an
    executor-side ``write.text`` of the serialized bulk payload (r07 —
    previously the relay collected docs to a driver-side buffer, the one
    driver funnel on a result path flagged by the r06 verdict). With
    ``collect_results=True`` the returned DataFrames are a distributed
    read-back of the sink files (``read_bulk_docs``); ``False`` skips even
    that (the CLI path): results then live only in the sink files.
    Without ``checkpoint_dir`` the run checkpoints in a throwaway
    directory (:func:`run_bounded`) and cannot be resumed.
    """
    from ..schemas import PICKUP_COUNT_SCHEMA, TRIP_DURATION_SCHEMA
    from .sinks import EsBulkFileSink, read_bulk_docs, write_batch_to_es

    out_dir = out_dir or tempfile.mkdtemp(prefix="es_sink_")
    src_opts: dict[str, str] = {}
    if max_files_per_trigger is not None:
        src_opts["maxFilesPerTrigger"] = str(max_files_per_trigger)
    if source_format == "parquet":
        trips = stream_clean_trips(spark, sf_dir, **src_opts)
    elif source_format == "wire":
        trips = stream_trips_from_wire(
            spark, sf_dir, auto_decompress=auto_decompress, **src_opts
        )
    elif source_format == "kinesis":
        # the reference's own topology: consume the Kinesis record
        # stream (ProcessTaxiStream.java:73-87) — sf_dir is ignored,
        # ``endpoint`` selects the transport (file:// = the local wire
        # fake, sources/kinesis_fake.py; a real endpoint = the
        # connector)
        from ..sources.kinesis import kinesis_reader, parse_wire_bytes

        reader = kinesis_reader(spark, stream_name, "local", endpoint=endpoint)
        trips = wire_trips(parse_wire_bytes(reader.options(**src_opts).load()))
    else:
        raise ValueError(f"unknown source_format: {source_format!r}")

    def relay(sink: EsBulkFileSink, doc_type: str):
        def body(batch_df: DataFrame, epoch_id: int) -> None:
            # epoch-addressed bulk dirs: epoch redelivery on recovery
            # overwrites, never duplicates (exactly-once to the transport);
            # the write runs in every task — nothing is collected here
            write_batch_to_es(batch_df, sink, doc_type, epoch_id=epoch_id)

        return body

    # A generator, so Q2's plan is built while Q1 already runs and Q1's
    # documents are not held back by it (building both first cost the
    # paced dashboard ~4-17% on p50 freshness). Both run concurrently,
    # each checkpointing in <checkpoint_dir>/<doc_type>.
    run_bounded(
        spark,
        (
            (
                doc_type,
                query(trips)
                .writeStream.foreachBatch(
                    relay(EsBulkFileSink(f"{out_dir}/{doc_type}"), doc_type)
                )
                .outputMode("append"),
            )
            for query, doc_type in (
                (taxi.q1, "pickup_count"),
                (taxi.q2, "trip_duration"),
            )
        ),
        checkpoint_dir,
    )

    # 'pickup_count'/'trip_duration' keys are ALWAYS present (the
    # pre-r07 contract callers may rely on); collect_results=False keeps
    # the read-back lazy by pointing both at the sink paths instead of
    # DataFrames over them (results live only in the sink files).
    out: dict[str, DataFrame | str | None] = {
        "out_dir": out_dir,
        "checkpoint_dir": checkpoint_dir,
    }
    if collect_results:
        # distributed read-back of what the executors wrote — results are
        # DataFrames over the sink files, not a driver-side buffer
        out["pickup_count"] = read_bulk_docs(
            spark, f"{out_dir}/pickup_count", PICKUP_COUNT_SCHEMA
        )
        out["trip_duration"] = read_bulk_docs(
            spark, f"{out_dir}/trip_duration", TRIP_DURATION_SCHEMA
        )
    else:
        out["pickup_count"] = f"{out_dir}/pickup_count"
        out["trip_duration"] = f"{out_dir}/trip_duration"
    return out
