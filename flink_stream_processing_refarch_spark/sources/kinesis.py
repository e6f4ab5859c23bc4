"""Kinesis source/sink bindings — the production swap points for the
local file-based streams (SURVEY.md §2.1 S1/S7).

The reference consumes with FlinkKinesisConsumer
(flink-taxi-stream-processor/.../ProcessTaxiStream.java:73-84: stream
name + region, SHARD_GETRECORDS_MAX=10000 per 2000 ms) and produces with
the KPL (kinesis-taxi-stream-producer/.../StreamPopulator.java:62-66).

Spark has no in-core Kinesis connector; the public option is the
spark-sql-kinesis connector family (source format name ``aws-kinesis``),
shipped as a separate package on the classpath. This module builds the
reader/writer configs so the rest of the engine is connector-agnostic:
every streaming job takes a DataFrame, so swapping the file source for
``kinesis_reader(...)`` is a one-line change at the call site. Import of
the connector is resolved lazily at ``.load()`` — in this container the
package is absent, so construction succeeds and ``start`` raises a clear
error (gated per the build contract).

A ``file://`` endpoint routes both sides through the local wire fake
(``kinesis_fake``): a directory-backed transport speaking the
connector's record contract, so the full producer->service->consumer
loop (``kinesis_writer`` -> records -> ``kinesis_reader`` ->
``parse_wire_bytes``) runs end-to-end with the jar absent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ProcessTaxiStream.java:76-77 — fetch tuning constants carried over.
DEFAULT_MAX_FETCH_RECORDS = 10_000
DEFAULT_FETCH_INTERVAL_MS = 2_000

KINESIS_FORMAT = "aws-kinesis"  # spark-sql-kinesis connector format name


def kinesis_reader(
    spark: SparkSession,
    stream_name: str,
    region: str,
    *,
    endpoint: str | None = None,
    starting_position: str = "TRIM_HORIZON",
    max_fetch_records: int = DEFAULT_MAX_FETCH_RECORDS,
    fetch_interval_ms: int = DEFAULT_FETCH_INTERVAL_MS,
):
    """Configured readStream for the trip-event wire stream (S1).

    Returns the DataStreamReader (call ``.load()`` where the connector
    jar is on the classpath). The payload lands in a binary ``data``
    column; pipe through ``parse_wire_bytes`` for the typed trip frame.
    A ``file://`` endpoint reads the local wire fake instead (same
    ``data``-column contract, no jar needed).
    """
    if endpoint and endpoint.startswith("file://"):
        from .kinesis_fake import fake_reader

        return fake_reader(spark, endpoint[len("file://"):], stream_name)
    reader = (
        spark.readStream.format(KINESIS_FORMAT)
        .option("streamName", stream_name)
        .option("region", region)
        .option("startingPosition", starting_position)
        .option("maxFetchRecordsPerShard", str(max_fetch_records))
        .option("minFetchPeriodMillis", str(fetch_interval_ms))
    )
    if endpoint:
        reader = reader.option("endpointUrl", endpoint)
    return reader


def parse_wire_bytes(raw: DataFrame) -> DataFrame:
    """bytes -> typed events: the S2 deserialization chain
    (from_json on the union schema, malformed rows dropped — S5)."""
    from ..schemas import EVENT_SCHEMA

    return (
        raw.select(
            F.from_json(F.col("data").cast("string"), EVENT_SCHEMA).alias("e")
        )
        .filter(F.col("e").isNotNull() & F.col("e.type").isNotNull())
        .select("e.*")
    )


def wire_frame(df: DataFrame) -> DataFrame:
    """Wire frame for the Kinesis sink: payload bytes + the producer's
    payload-hash partition-key routing (F9,
    kinesis-taxi-stream-producer/.../Event.java:38-40). Deterministic —
    identical payloads land on the same shard; connector-independent, so
    the routing rule is testable without the jar."""
    return df.select(
        F.col("value").cast("binary").alias("data"),
        F.hash("value").cast("string").alias("partitionKey"),
    )


def kinesis_writer(
    df: DataFrame,
    stream_name: str,
    region: str,
    *,
    endpoint: str | None = None,
):
    """Configured writeStream for replaying wire JSON to Kinesis (S7). The
    caller starts it and supplies its checkpoint (``jobs.run_bounded``).

    Partition key mirrors the producer's payload-hash routing
    (kinesis-taxi-stream-producer/.../Event.java:38-40): a ``partitionKey``
    column of hash(payload). A ``file://`` endpoint writes the local
    wire fake's epoch-addressed record dirs instead (idempotent
    PutRecords stand-in, no jar needed).
    """
    out = wire_frame(df)
    if endpoint and endpoint.startswith("file://"):
        from .kinesis_fake import recover_wire_stream, write_wire_batch

        root = endpoint[len("file://"):]
        # pump startup: restore any epoch a prior pump crash left
        # mid-swap before writing anything new (r11, ADVICE r10)
        recover_wire_stream(root, stream_name)
        return out.writeStream.foreachBatch(
            lambda batch, eid: write_wire_batch(batch, eid, root, stream_name)
        )
    return (
        out.writeStream.format(KINESIS_FORMAT)
        .option("streamName", stream_name)
        .option("region", region)
    )
