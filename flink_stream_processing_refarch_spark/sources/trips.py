"""Deterministic taxi-trip derivation from the synthetic ``events`` table.

The driver's testdata (TESTDATA.md) has no taxi table, so the
reference-faithful queries (SURVEY.md §0 Q1/Q2) run over trips *derived*
from ``events`` with pure arithmetic that is bit-identical in Spark SQL and
DuckDB — every trip column is a deterministic function of ``event_id`` and
``ts``. That makes even the geohash-heavy taxi queries fully
oracle-checkable.

Domain coverage mirrors FIXTURES.md §1: pickups inside NYC cells, inside
the ``dr72`` hole (excluded), outside NYC, and invalid; dropoffs inside
JFK/LGA cells, inside the ``dr5x0z`` hole, in the not-in-set ``dr5ryz``
cell, elsewhere, and invalid; a slice of negative-duration trips
(pickup after dropoff — the reference does NOT filter those,
ProcessTaxiStream.java:112); ``watermark``-type control rows (filtered by
P1, ProcessTaxiStream.java:90).

Event time is compressed 100x (a month of ``ts`` -> ~7 h) so that 10-minute
tumbling windows hold multi-trip groups on both sides of the HAVING
thresholds at every scale factor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import geo
from ..functions.geo import dlit, geohash_center_py

# Dialect tokens. ``ts_ms``: epoch-ms of the events.ts column — on the
# Spark side :func:`trips_from_events` materializes it ONCE as a real column
# in the narrow pre-spread projection (load_table/normalize_event_ts
# presents ``ts`` as BIGINT epoch-nanos whatever the parquet's physical
# layout), so the big trip projection references a plain attribute
# instead of inlining the epoch conversion at every use — that keeps the
# Catalyst tree small (measured ~0.2 s/query analysis time at local[32]
# when the conversion was inlined). DuckDB reads either layout as naive
# TIMESTAMP, so its token stays an expression. ``idiv``: truncating int
# division.
DIALECTS = {
    "spark": {"ts_ms": "ts_ms", "idiv": "DIV"},
    "duckdb": {"ts_ms": "epoch_ms(ts)", "idiv": "//"},
}


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet with ``ts`` normalized to BIGINT epoch-nanos.

    The nanos flag is a session conf — set it here (not only at session
    build) because the driver supplies its own SparkSession; the
    load_table shim then covers either physical timestamp layout
    (NANOS-as-long or MICROS NTZ) the testdata generator produced.
    """
    from ..schemas import load_table

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return load_table(spark, sf_dir, "events")

# 2024-01-01T00:00:00Z — testdata events start here; anchor for compression.
TS_BASE_MS = 1704067200000
TIME_COMPRESSION = 100

# --- pickup anchors (cycle on event_id % 13) -------------------------------
_P = geohash_center_py
PICKUP_ANCHORS: list[tuple[float, float]] = [
    _P("dr5ru7"),        # 0 Manhattan (Times Sq cell) — NYC
    _P("dr5ru6"),        # 1 Manhattan — NYC
    _P("dr5rue"),        # 2 Manhattan — NYC
    _P("dr5x1n"),        # 3 JFK terminal cell (valid NYC pickup)
    _P("dr5rsj"),        # 4 Brooklyn-ish — NYC
    _P("dr72") ,         # 5 center of the dr72 HOLE — excluded by P4
    (35.0, -100.0),      # 6 outside NYC — excluded
    (95.0, -73.9),       # 7 invalid latitude — excluded by P3
    _P("dr5ru7"),        # 8 duplicate of 0 (boosts per-cell counts)
    _P("dr5ru6"),        # 9 duplicate of 1
    _P("dr5rv2"),        # 10 upper Manhattan — NYC
    _P("dr5rth"),        # 11 NYC
    (40.7, 200.0),       # 12 invalid longitude — excluded by P3
]

# --- dropoff anchors (cycle on (event_id DIV 13) % 11) ---------------------
DROPOFF_ANCHORS: list[tuple[float, float]] = [
    _P("dr5x1n"),        # 0 JFK
    _P("dr5x0w"),        # 1 JFK
    _P("dr5x0z"),        # 2 JFK HOLE — NYC but not airport
    _P("dr5ryy"),        # 3 LGA (geohash-6 cell)
    _P("dr5rzjq"),       # 4 LGA (geohash-7 ring cell)
    _P("dr5ryz"),        # 5 NOT in LGA set (terminal cell, GeoUtils.java:30-34)
    _P("dr5ru7"),        # 6 Manhattan — NYC, no airport
    (36.0, -98.0),       # 7 outside NYC — trip excluded
    (40.7, 200.0),       # 8 invalid longitude — excluded
    _P("dr72"),          # 9 dr72 hole — excluded
    _P("dr5x1p"),        # 10 JFK
]


def _pick(idx_expr: str, values: list[float], dialect: str) -> str:
    """Select values[idx] (0-based) from a constant list.

    Array indexing keeps the generated plan small (a CASE chain here gets
    inlined at every column reference and bloats codegen past the JVM's
    64 KB method limit). Spark: element_at(array(...), i+1); DuckDB:
    list_extract([...], i+1) — both 1-based.
    """
    lits = ", ".join(dlit(v) for v in values)
    if dialect == "spark":
        return f"element_at(array({lits}), CAST(({idx_expr}) + 1 AS INT))"
    return f"list_extract([{lits}], ({idx_expr}) + 1)"


def trip_exprs(dialect: str) -> list[tuple[str, str]]:
    """(column_name, sql_expr) pairs deriving trip columns from
    ``events(event_id, ts)``. Identical semantics in both dialects."""
    d = DIALECTS[dialect]
    ts_ms, idiv = d["ts_ms"], d["idiv"]
    p_idx = "(event_id % 13)"
    d_idx = f"((event_id {idiv} 13) % 11)"
    # month -> ~7h compression keeps 10-min windows multi-trip at all SFs
    dropoff_ms = (
        f"({TS_BASE_MS} + (({ts_ms} - {TS_BASE_MS}) {idiv} {TIME_COMPRESSION}))"
    )
    # negative duration for event_id % 37 == 0 (reference keeps them)
    off_s = (
        "(CASE WHEN event_id % 37 = 0 THEN -90 "
        "ELSE (event_id % 45) * 60 + (event_id % 7) * 11 END)"
    )
    return [
        ("trip_id", "event_id"),
        ("type", "(CASE WHEN event_id % 50 = 0 THEN 'watermark' ELSE 'trip' END)"),
        (
            "pickup_lat",
            f"({_pick(p_idx, [a[0] for a in PICKUP_ANCHORS], dialect)}"
            f" + (event_id % 97) * {dlit(1e-05)})",
        ),
        (
            "pickup_lon",
            f"({_pick(p_idx, [a[1] for a in PICKUP_ANCHORS], dialect)}"
            f" + (event_id % 89) * {dlit(1e-05)})",
        ),
        (
            "dropoff_lat",
            f"({_pick(d_idx, [a[0] for a in DROPOFF_ANCHORS], dialect)}"
            f" + (event_id % 83) * {dlit(1e-06)})",
        ),
        (
            "dropoff_lon",
            f"({_pick(d_idx, [a[1] for a in DROPOFF_ANCHORS], dialect)}"
            f" + (event_id % 79) * {dlit(1e-06)})",
        ),
        ("dropoff_ms", dropoff_ms),
        ("pickup_ms", f"({dropoff_ms} - {off_s} * 1000)"),
        ("total_amount", f"((event_id % 1000) * {dlit(0.05)} + {dlit(3.0)})"),
    ]


def trips_cte_sql() -> str:
    """DuckDB SELECT deriving the trips relation from the ``events`` view."""
    cols = ",\n  ".join(f"{expr} AS {name}" for name, expr in trip_exprs("duckdb"))
    return f"SELECT\n  {cols}\nFROM events"


def trips_from_events(ev: DataFrame) -> DataFrame:
    """The trip projection (same arithmetic as :func:`trips_cte_sql`)
    over any events relation with (event_id, ts BIGINT epoch-nanos),
    batch or streaming. ``ts_ms`` is materialized once before the wide
    projection (see :data:`DIALECTS`)."""
    return ev.select(
        "event_id", F.expr("ts DIV 1000000").alias("ts_ms")
    ).select(*[F.expr(expr).alias(name) for name, expr in trip_exprs("spark")])


def derive_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-side trips derivation over the events table.

    Deliberately NO starved-scan repartition here (unlike the documents
    loaders): the trip projection is cheap enough per row that at the
    local single-task-scan sizes the extra exchange + AQE stage costs
    more wall (+0.2-0.4 s/query measured) than the serialization it
    removes; at cluster scale the scan has >= cores splits anyway."""
    return trips_from_events(load_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# Cleaned trip stream: the reference's P1-P4 filter chain
# (ProcessTaxiStream.java:90-93), shared between Q1/Q2 and the oracle.
# ---------------------------------------------------------------------------

def clean_trip_filter_sql() -> str:
    """type/validity/NYC-containment predicate (both endpoints in region)."""
    return (
        "type = 'trip'"
        f" AND {geo.valid_coords_sql('pickup_lat', 'pickup_lon')}"
        f" AND {geo.valid_coords_sql('dropoff_lat', 'dropoff_lon')}"
        f" AND {geo.in_nyc_sql('pickup_lat', 'pickup_lon')}"
        f" AND {geo.in_nyc_sql('dropoff_lat', 'dropoff_lon')}"
    )


def with_event_time(trips: DataFrame, watermark_delay: str = "0 seconds") -> DataFrame:
    """Attach the event-time column ``dropoff_ts`` (from ``dropoff_ms``)
    and its watermark. Every Q1/Q2 window is taken over ``dropoff_ts``;
    on a batch relation the watermark is a no-op that the analyzer
    drops."""
    return trips.withColumn(
        "dropoff_ts", F.timestamp_millis(F.col("dropoff_ms"))
    ).withWatermark("dropoff_ts", watermark_delay)


def clean_trips_from_events(ev: DataFrame) -> DataFrame:
    """Trip projection + P1-P4 filter chain + event time over any events
    relation, batch or streaming — the one derivation both
    :func:`clean_trips` and the streaming sources run. The watermark is
    attached AFTER filtering, so it tracks the cleaned stream (where the
    reference assigns timestamps)."""
    return with_event_time(
        trips_from_events(ev).filter(F.expr(clean_trip_filter_sql()))
    )


def clean_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived trips with the reference's filter chain applied.

    All predicates are range comparisons on scan columns — Catalyst pushes
    them into the parquet scan; at cluster scale this is a full-scan filter
    with no shuffle.
    """
    return clean_trips_from_events(load_events(spark, sf_dir))
