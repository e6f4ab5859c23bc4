"""The reference's two continuous queries (SURVEY.md §0), defined ONCE as
plain DataFrame -> DataFrame rules that run unchanged over a batch trips
relation (the ``q1_pickup_count``-style entries below) and over a
streaming one (``streaming/jobs.py``): the Structured Streaming premise
that one query runs both as a batch job and incrementally.

Q1 — "areas with high pickup rates" (ProcessTaxiStream.java:96-106):
  trips per (pickup geohash6, 10-min tumbling event-time window), emit
  groups with count >= MIN_PICKUP_COUNT (= 2, ProcessTaxiStream.java:57),
  timestamped window.maxTimestamp() = end - 1 ms.

Q2 — "average trip duration to JFK/LGA" (ProcessTaxiStream.java:109-136):
  for trips dropping off near JFK or LGA (JFK checked first — else-if
  precedence, :114-117), sum and average of the whole-minute trip duration
  per (pickup geohash6, airport code, 10-min window); emit only groups with
  count > 1 (:123).

Every rule expects the cleaned trips of ``sources.trips`` (P1-P4 applied,
``dropoff_ts`` event-time column attached). Windows are Spark's
``window()`` over ``dropoff_ts`` on both paths. On the batch path this
replaced a modular window end on epoch-ms; measured on a 150k-event
table at local[3] (noop writes, 20 alternating pairs) the median Q1+Q2
round moved 1.582 -> 1.619 s (+2.3%), inside the old form's own IQR
(1.54-1.64 s), with identical rows; perfbench ``batch_backfill`` on 4
cores read records/s -5.5% (median of 6 alternating pairs).

Scale posture: the filter chain is all range predicates (pushed to scan);
the single shuffle per query is the hash exchange of groupBy on
(window, location[, airport]) — the same exchange Flink's keyBy does
(ProcessTaxiStream.java:98,120). Geohash encode is pure bitwise built-ins
inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.group import GroupedData

from ..functions import geo
from ..functions.timeutils import duration_min_sql
from ..sources.trips import clean_trips

MIN_PICKUP_COUNT = 2  # ProcessTaxiStream.java:57
TREND_TOP = 5  # trending cells kept per window


# ---------------------------------------------------------------------------
# The Q1/Q2 rules — batch or streaming input alike.
# ---------------------------------------------------------------------------

def with_cell(trips: DataFrame) -> DataFrame:
    """M1: the pickup geohash6 cell as ``location``."""
    return geo.with_geohash(trips, "location", "pickup_lat", "pickup_lon", 6)


def at_airport(trips: DataFrame) -> DataFrame:
    """M2 classification: ``airport_code`` JFK (checked first) or LGA for
    the dropoff; every other trip is dropped."""
    return trips.withColumn(
        "airport_code",
        F.when(geo.near_jfk("dropoff_lat", "dropoff_lon"), F.lit("JFK")).when(
            geo.near_lga("dropoff_lat", "dropoff_lon"), F.lit("LGA")
        ),
    ).filter(F.col("airport_code").isNotNull())


def with_duration(trips: DataFrame) -> DataFrame:
    """M2 duration: whole standard minutes, negatives kept."""
    return trips.withColumn(
        "duration_min", F.expr(duration_min_sql("dropoff_ms", "pickup_ms", "spark"))
    )


def by_window(trips: DataFrame, *keys: str) -> GroupedData:
    """Group by the 10-minute tumbling event-time window plus ``keys``."""
    return trips.groupBy(F.window("dropoff_ts", "10 minutes"), *keys)


def pickup_counts(cells: DataFrame) -> DataFrame:
    """Trips per (window, location), no HAVING floor."""
    return by_window(cells, "location").agg(F.count("*").alias("pickup_count"))


def duration_sums(legs: DataFrame) -> DataFrame:
    """Duration sum and trip count per (window, location, airport_code)."""
    return by_window(legs, "location", "airport_code").agg(
        F.sum("duration_min").alias("sum_trip_duration"),
        F.count("*").alias("cnt"),
    )


def q1_having(counts: DataFrame) -> DataFrame:
    return counts.filter(F.col("pickup_count") >= MIN_PICKUP_COUNT)


def q2_having(sums: DataFrame) -> DataFrame:
    return sums.filter(F.col("cnt") > 1)  # ProcessTaxiStream.java:123


def with_timestamp(agg: DataFrame) -> DataFrame:
    """Result ``timestamp`` = window.maxTimestamp() = end - 1 ms."""
    return agg.withColumn("timestamp", F.unix_millis("window.end") - 1)


def q1_result(counts: DataFrame) -> DataFrame:
    """Q1 emission over per-(window, location) counts."""
    return with_timestamp(q1_having(counts)).select(
        "location", "pickup_count", "timestamp"
    )


def q2_result(sums: DataFrame) -> DataFrame:
    """Q2 emission over per-(window, location, airport) duration sums."""
    return with_timestamp(q2_having(sums)).select(
        "location",
        "airport_code",
        "sum_trip_duration",
        (F.col("sum_trip_duration").cast("double") / F.col("cnt")).alias(
            "avg_trip_duration"
        ),
        "timestamp",
    )


def q1(trips: DataFrame) -> DataFrame:
    return q1_result(pickup_counts(with_cell(trips)))


def q2(trips: DataFrame) -> DataFrame:
    return q2_result(duration_sums(with_duration(with_cell(at_airport(trips)))))


def rank_trending(counts: DataFrame) -> DataFrame:
    """Top TREND_TOP cells per window over (timestamp, location,
    pickup_count) rows; ties break to the lexicographically first cell.
    Ranking needs a window's complete counts, so a streaming caller ranks
    the finalized windows its sink holds (where the reference ranked them:
    the Kibana dashboard over the ES sink)."""
    rn = F.row_number().over(
        Window.partitionBy("timestamp").orderBy(
            F.desc("pickup_count"), F.asc("location")
        )
    )
    return (
        counts.withColumn("rank", rn)
        .filter(F.col("rank") <= TREND_TOP)
        .select("timestamp", "location", "pickup_count", "rank")
    )


# ---------------------------------------------------------------------------
# Batch entries over the derived trips table (batch = final streaming
# answer).
# ---------------------------------------------------------------------------

def q1_pickup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return q1(clean_trips(spark, sf_dir))


def airport_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 flatMap equivalent (ProcessTaxiStream.java:110-119): airport
    trips with their floored-minute duration and pickup geohash6."""
    return with_duration(with_cell(at_airport(clean_trips(spark, sf_dir)))).select(
        "trip_id", "location", "airport_code", "duration_min", "dropoff_ms"
    )


def q2_trip_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    return q2(clean_trips(spark, sf_dir))


def q_trending_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per 10-minute window, the TREND_TOP pickup cells by trip count
    with their rank — the "trending locations" leaderboard the
    reference's Kibana dashboard renders from Q1's output
    (elasticsearch/kibana-visualizations-and-dashboard.json), computed
    engine-side as a first-class query. Q1's counts without the HAVING
    floor: quiet windows still report their top cells."""
    counts = with_timestamp(pickup_counts(with_cell(clean_trips(spark, sf_dir))))
    return rank_trending(counts)


def q_trips_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The P1-P4 filter chain + geohash projection (M1) as its own query —
    the shared prefix both reference queries consume."""
    return with_cell(clean_trips(spark, sf_dir)).select(
        "trip_id", "location", "dropoff_ms", "total_amount"
    )


def q_airport_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    return airport_trips(spark, sf_dir).select(
        "trip_id", "location", "airport_code", "duration_min"
    )
