"""Expected answers, computed in DuckDB from the generated inputs with
the SQL the repository's own oracle uses, and the comparisons against
what the program produced.

Taxi: ``oracle.sqlgen.q1_streaming_sql`` / ``q2_streaming_sql`` (the
batch Q1/Q2 restricted by the streaming emission rule), with their trips
relation swapped from the events derivation to the generated wire rows,
and ``q1_sql`` / ``q2_sql`` over the generated ``events`` table. Corpus:
the entries' registered DuckDB oracles (``dedup.ORACLES``,
``incremental.ORACLES``).

Batch and corpus results are checked through a row-multiset fingerprint
collected in the same execution as the timed write (``Dataset.observe``),
so the check neither re-runs the plan nor adds an action the timing
could include.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import duckdb
import pandas as pd

WIRE_COLS = ("type", "trip_id", "pickup_lat", "pickup_lon", "dropoff_lat", "dropoff_lon",
             "pickup_ms", "dropoff_ms", "total_amount")


def _con():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def wire_expected(trips: dict) -> dict:
    """Expected docs of the taxi pipeline over the given wire rows:
    key -> value, where keys are
    ``("pickup_count", location, timestamp)`` and
    ``("trip_duration", location, airport, timestamp)``."""
    from flink_stream_processing_refarch_spark.oracle import sqlgen
    from flink_stream_processing_refarch_spark.sources.trips import trips_cte_sql

    con = _con()
    con.register("wire_rows", pd.DataFrame({c: trips[c] for c in WIRE_COLS}))
    swap = lambda sql: sql.replace(trips_cte_sql(), "SELECT * FROM wire_rows")  # noqa: E731
    docs = {}
    for loc, cnt, ts in con.execute(swap(sqlgen.q1_streaming_sql())).fetchall():
        docs[("pickup_count", loc, ts)] = (cnt,)
    for loc, ap, s, avg, ts in con.execute(swap(sqlgen.q2_streaming_sql())).fetchall():
        docs[("trip_duration", loc, ap, ts)] = (s, avg)
    return docs


def clean_max_dropoff_by_chunk(trips: dict) -> list[int]:
    """Running maximum clean-trip event time after each chunk: the
    watermark the pipeline has once it has read chunks 0..i."""
    from flink_stream_processing_refarch_spark.sources.trips import clean_trip_filter_sql

    con = _con()
    con.register("wire_rows", pd.DataFrame({c: trips[c] for c in WIRE_COLS + ("chunk",)}))
    rows = con.execute(
        f"SELECT chunk, max(dropoff_ms) FROM wire_rows WHERE {clean_trip_filter_sql()}"
        " GROUP BY chunk ORDER BY chunk"
    ).fetchall()
    out, best = [], -1
    per = dict(rows)
    for i in range(int(trips["chunk"].max()) + 1):
        best = max(best, per.get(i, -1))
        out.append(best)
    return out


def doc_key(line: str):
    """Parse one sink source line into (key, value)."""
    d = json.loads(line)
    if "airport_code" in d:
        return ("trip_duration", d["location"], d["airport_code"], d["timestamp"]), (
            d["sum_trip_duration"], d["avg_trip_duration"])
    return ("pickup_count", d["location"], d["timestamp"]), (d["pickup_count"],)


def compare_docs(expected: dict, seen: dict) -> dict[str, int]:
    """Counts of missing, wrong-valued, unexpected and duplicated docs;
    ``seen`` maps key -> (first_seen, value, times_seen)."""
    out = {"missing": 0, "wrong": 0, "unexpected": 0, "duplicate": 0}
    for k, v in expected.items():
        if k not in seen:
            out["missing"] += 1
        elif seen[k][1] != v:
            out["wrong"] += 1
    for k, (_, _, n) in seen.items():
        out["unexpected"] += k not in expected
        out["duplicate"] += n > 1
    return out


# --- row-multiset fingerprint (batch and corpus results) ------------------

def _canon_py(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return str(math.floor(v * 1e6))
    return str(v)


def fingerprint_rows(rows) -> tuple[int, int]:
    """(row count, sum over rows of the first 32 bits of md5 of the row's
    canonical text); doubles enter as floor(x * 1e6)."""
    total = 0
    n = 0
    for r in rows:
        text = "|".join(_canon_py(v) for v in r)
        total += int(hashlib.md5(text.encode()).hexdigest()[:8], 16)
        n += 1
    return n, total


def fingerprint_exprs(df):
    """The same fingerprint as Spark aggregate columns, for ``observe``."""
    from pyspark.sql import functions as F

    parts = []
    for name, dtype in df.dtypes:
        c = F.col(name)
        if dtype in ("double", "float"):
            c = F.floor(c * F.lit(1e6))
        parts.append(F.coalesce(c.cast("string"), F.lit("\\N")))
    h = F.conv(F.substring(F.md5(F.concat_ws("|", *parts)), 1, 8), 16, 10).cast("bigint")
    return F.count(F.lit(1)).alias("n"), F.sum(h).alias("fp")


def batch_expected(events_dir: str) -> dict[str, tuple[int, int]]:
    from flink_stream_processing_refarch_spark.oracle import sqlgen

    con = _con()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_dir}/*.parquet')")
    return {
        "q1_pickup_count": fingerprint_rows(con.execute(sqlgen.q1_sql()).fetchall()),
        "q2_trip_duration": fingerprint_rows(con.execute(sqlgen.q2_sql()).fetchall()),
    }


def corpus_expected(docs_path: str) -> dict[str, tuple[int, int]]:
    from flink_stream_processing_refarch_spark.operators import dedup, incremental

    con = _con()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
    return {
        "dedup_minhash_lsh": fingerprint_rows(con.execute(dedup.ORACLES["dedup_minhash_lsh"]).fetchall()),
        "dedup_incremental": fingerprint_rows(
            con.execute(incremental.ORACLES["dedup_incremental"]).fetchall()),
    }


def sink_lines(out_dir: str, seen_files: set, done_dirs: set):
    """New committed bulk part files under ``out_dir`` (both doc types)
    and the source lines they hold. An epoch directory whose write job
    has committed (``_SUCCESS``) and been read is never listed again."""
    for dt in ("pickup_count", "trip_duration"):
        base = os.path.join(out_dir, dt)
        if not os.path.isdir(base):
            continue
        for epoch in sorted(os.listdir(base)):
            d = os.path.join(base, epoch)
            if d in done_dirs or not epoch.startswith("bulk-e") or not os.path.isdir(d):
                continue
            names = os.listdir(d)
            for name in names:
                p = os.path.join(d, name)
                if not name.startswith("part-") or name.endswith(".crc") or p in seen_files:
                    continue
                seen_files.add(p)
                with open(p) as f:
                    for line in f:
                        if line.strip() and not line.startswith('{"index"'):
                            yield line
            if "_SUCCESS" in names:
                done_dirs.add(d)
