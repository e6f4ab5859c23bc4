"""Seeded input generators for the four workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical inputs. The program under test only ever sees the files
written here; the generators also return the rows they wrote so the
expected answers (``expect.py``) are computed from the very same values.

Taxi events follow the reference's JSON wire format (snake_case keys,
ISO-8601 UTC datetimes, a ``type`` discriminator) that
``streaming.jobs.stream_trips_from_wire`` parses. Coordinates are
written with six decimals and amounts with two, so the JSON text and the
doubles handed to DuckDB are the same numbers.

Run as a script (``python3 perfbench/gen.py paced ...``) this module is
the open-loop generator process of ``paced_dashboard``: it contains no
Spark and writes one chunk per interval on a fixed schedule.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"
T0_MS = 1704067200000  # 2024-01-01T00:00:00Z
WINDOW_MS = 600_000  # the taxi queries' 10-minute tumbling window

# Shares of generated rows the P1-P4 clean filter must drop.
P_WATERMARK = 0.03  # control rows (P1)
P_INVALID = 0.02  # |lat| > 90 or |lon| > 180 (P3)
P_OUTSIDE = 0.04  # a valid point outside the NYC region (P4)
P_HOLE = 0.01  # inside the dr72 hole of the NYC region (P4)
P_AIRPORT = 0.25  # share of clean dropoffs at JFK or LGA
P_NEGATIVE = 0.01  # pickup after dropoff (the reference keeps these)


# The geohash helpers below duplicate functions/geo.py's *_py helpers on
# purpose: inputs must be a function of the seed alone, so a change to the
# program can never change what the benchmark feeds it, and the paced
# generator process starts without importing the program or Spark.

def _bbox(gh: str) -> tuple[float, float, float, float]:
    lat = [-90.0, 90.0]
    lon = [-180.0, 180.0]
    even = True
    for ch in gh:
        v = BASE32.index(ch)
        for shift in range(4, -1, -1):
            rng = lon if even else lat
            mid = (rng[0] + rng[1]) / 2
            rng[0 if (v >> shift) & 1 else 1] = mid
            even = not even
    return lat[0], lat[1], lon[0], lon[1]


def _neighbors(gh: str) -> list[str]:
    """The 8 cells around ``gh`` at its precision (the reference's
    ``getAdjacent``), found by encoding offset centers."""
    la0, la1, lo0, lo1 = _bbox(gh)
    out = []
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            if dx or dy:
                lat = (la0 + la1) / 2 + dy * (la1 - la0)
                lon = (lo0 + lo1) / 2 + dx * (lo1 - lo0)
                out.append(_encode(lat, lon, len(gh)))
    return sorted(out)


def _encode(lat: float, lon: float, precision: int) -> str:
    la = [-90.0, 90.0]
    lo = [-180.0, 180.0]
    bits, even, out = 0, True, []
    for i in range(precision * 5):
        rng, x = (lo, lon) if even else (la, lat)
        mid = (rng[0] + rng[1]) / 2
        bit = x >= mid
        rng[0 if bit else 1] = mid
        bits = bits * 2 + bit
        even = not even
        if i % 5 == 4:
            out.append(BASE32[bits])
            bits = 0
    return "".join(out)


# NYC = the 8 geohash-4 neighbours of dr72; its geohash-6 cells.
NYC_G6 = [g4 + a + b for g4 in _neighbors("dr72") for a in BASE32 for b in BASE32]
NYC_G6_BOXES = np.array([_bbox(c) for c in NYC_G6])
AIRPORT_BOXES = [_bbox(c) for c in _neighbors("dr5x0z")] + [
    _bbox("dr5ryy"),
    _bbox("dr5rzn"),
] + [_bbox(c) for c in _neighbors("dr5rzjx")]
HOLE_BOX = _bbox("dr72")


def _points_in_boxes(rng, boxes, idx) -> tuple[np.ndarray, np.ndarray]:
    """One uniform point inside ``boxes[i]`` for every i in ``idx``, kept
    a little off the box edges so rounding never moves it across."""
    b = np.asarray(boxes)[idx]
    u, v = rng.uniform(0.05, 0.95, (2, len(idx)))
    lat = np.round(b[:, 0] + u * (b[:, 1] - b[:, 0]), 6)
    lon = np.round(b[:, 2] + v * (b[:, 3] - b[:, 2]), 6)
    return lat, lon


def trips(
    rng,
    n: int,
    t_lo_ms: int,
    t_hi_ms: int,
    first_id: int,
    cell_p: np.ndarray | None = None,
) -> dict[str, np.ndarray]:
    """``n`` wire events with dropoff times uniform in [t_lo_ms, t_hi_ms),
    in random order. Pickup cells are drawn from ``NYC_G6`` with
    probabilities ``cell_p`` (uniform when None); the P_* shares of rows
    are made to fail one of the clean-filter predicates."""
    cells = rng.choice(len(NYC_G6), size=n, p=cell_p)
    plat, plon = _points_in_boxes(rng, NYC_G6_BOXES, cells)
    airport = rng.random(n) < P_AIRPORT
    dcell = rng.integers(0, len(NYC_G6), n)
    dlat, dlon = _points_in_boxes(rng, NYC_G6_BOXES, dcell)
    alat, alon = _points_in_boxes(rng, AIRPORT_BOXES, rng.integers(0, len(AIRPORT_BOXES), n))
    dlat = np.where(airport, alat, dlat)
    dlon = np.where(airport, alon, dlon)

    kind = rng.random(n)
    cut = np.cumsum([P_WATERMARK, P_INVALID, P_OUTSIDE, P_HOLE])
    invalid = (kind >= cut[0]) & (kind < cut[1])
    outside = (kind >= cut[1]) & (kind < cut[2])
    hole = (kind >= cut[2]) & (kind < cut[3])
    on_pickup = rng.random(n) < 0.5
    plat = np.where(invalid & on_pickup, 95.5, plat)
    dlon = np.where(invalid & ~on_pickup, 200.25, dlon)
    plat = np.where(outside & on_pickup, 36.5, plat)
    plon = np.where(outside & on_pickup, -98.25, plon)
    dlat = np.where(outside & ~on_pickup, 35.75, dlat)
    hlat, hlon = _points_in_boxes(rng, [HOLE_BOX], np.zeros(n, dtype=int))
    plat = np.where(hole, hlat, plat)
    plon = np.where(hole, hlon, plon)

    dropoff = rng.integers(t_lo_ms, t_hi_ms, n)
    dur = rng.integers(60_000, 3_600_000, n)
    dur = np.where(rng.random(n) < P_NEGATIVE, -rng.integers(1_000, 300_000, n), dur)
    return {
        "type": np.where(kind < cut[0], "watermark", "trip"),
        "trip_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "pickup_ms": dropoff - dur,
        "dropoff_ms": dropoff,
        "pickup_lat": plat,
        "pickup_lon": plon,
        "dropoff_lat": dlat,
        "dropoff_lon": dlon,
        "total_amount": np.round(rng.uniform(3.0, 120.0, n), 2),
    }


def _iso(ms: np.ndarray) -> list[str]:
    return [t + "Z" for t in np.datetime_as_string(ms.astype("datetime64[ms]"), unit="ms")]


def wire_lines(t: dict[str, np.ndarray]) -> str:
    """The rows as newline-delimited wire JSON (key order and float
    formatting as ``json.dumps`` would write them)."""
    pick, drop = _iso(t["pickup_ms"]), _iso(t["dropoff_ms"])
    cols = [t[c].tolist() for c in ("trip_id", "pickup_lat", "pickup_lon", "dropoff_lat",
                                    "dropoff_lon", "total_amount")]
    out = []
    for i, (kind, tid, plat, plon, dlat, dlon, amt) in enumerate(zip(t["type"], *cols)):
        if kind == "watermark":
            out.append(f'{{"type": "watermark", "watermark": "{drop[i]}"}}')
        else:
            out.append(
                f'{{"type": "trip", "trip_id": {tid}, "pickup_datetime": "{pick[i]}", '
                f'"dropoff_datetime": "{drop[i]}", "pickup_lat": {plat!r}, "pickup_lon": {plon!r}, '
                f'"dropoff_lat": {dlat!r}, "dropoff_lon": {dlon!r}, "total_amount": {amt!r}}}'
            )
    return "\n".join(out) + "\n"


def write_atomic(path: str, text: str) -> None:
    """Write under a hidden name, then rename in: the file source never
    lists a half-written chunk (it skips names starting with '.')."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, path)


def concat(chunks: list[dict[str, np.ndarray]]) -> dict[str, np.ndarray]:
    return {k: np.concatenate([c[k] for c in chunks]) for k in chunks[0]}


def backlog(seed: int, out_dir: str, n_files: int, per_file: int, file_ms: int):
    """The ``replay_catchup`` input: ``n_files`` chunk files in event-time
    order, each covering ``file_ms`` of event time, rows shuffled inside
    each chunk, pickups uniform over every NYC geohash-6 cell."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    chunks = []
    for i in range(n_files):
        t = trips(rng, per_file, T0_MS + i * file_ms, T0_MS + (i + 1) * file_ms, i * per_file)
        write_atomic(os.path.join(out_dir, f"chunk-{i:05d}.json"), wire_lines(t))
        chunks.append(t)
    return concat(chunks)


def zipf_cells(seed: int, n_cells: int, s: float = 1.1) -> np.ndarray:
    """Pickup-cell probabilities for ``paced_dashboard``: ``n_cells``
    seeded NYC cells with Zipf(s) weights, zero elsewhere."""
    rng = np.random.default_rng([seed, 2])
    pick = rng.choice(len(NYC_G6), size=n_cells, replace=False)
    w = 1.0 / np.arange(1, n_cells + 1) ** s
    p = np.zeros(len(NYC_G6))
    p[pick] = w / w.sum()
    return p


def paced_chunk(seed: int, i: int, per_chunk: int, chunk_ms: int, cell_p) -> dict:
    """Chunk ``i`` of the paced stream (deterministic per (seed, i))."""
    rng = np.random.default_rng([seed, 3, i])
    return trips(rng, per_chunk, T0_MS + i * chunk_ms, T0_MS + (i + 1) * chunk_ms, i * per_chunk, cell_p)


def run_paced(
    seed: int,
    out_dir: str,
    log_path: str,
    first: int,
    n_chunks: int,
    per_chunk: int,
    interval_s: float,
    speedup: int,
    n_cells: int,
    start_at: float,
) -> None:
    """Open-loop producer of chunks ``first .. first + n_chunks - 1``:
    chunk ``first + j`` is due at ``start_at + j * interval_s`` (wall
    clock, ``time.time()``) and is written as soon as possible after
    that, never waiting for the consumer. Each line of ``log_path``
    records a chunk's due time, when it landed, and how late it was."""
    cell_p = zipf_cells(seed, n_cells)
    chunk_ms = int(interval_s * 1000 * speedup)
    # build every chunk before the clock starts, so the schedule only
    # pays for writing
    idx = range(first, first + n_chunks)
    texts = [wire_lines(paced_chunk(seed, i, per_chunk, chunk_ms, cell_p)) for i in idx]
    with open(log_path, "w") as log:
        for j, (i, text) in enumerate(zip(idx, texts)):
            due = start_at + j * interval_s
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            write_atomic(os.path.join(out_dir, f"chunk-{i:05d}.json"), text)
            landed = time.time()
            log.write(json.dumps({"chunk": i, "due": due, "landed": landed,
                                  "lag_ms": (landed - due) * 1000}) + "\n")
            log.flush()


def events_table(seed: int, out_dir: str, n_rows: int, n_files: int) -> str:
    """The ``batch_backfill`` input: ``events.parquet`` as a directory of
    ``n_files`` parts, ``n_rows`` events over January 2024. Trips derive
    from (event_id, ts) alone (``sources/trips.py``); event ids are a
    seeded sample of a wide range so every derivation branch occurs.
    ``props`` carries a session id, as real event payloads do, which
    makes the table larger than the program's starved-scan threshold
    (``schemas._scan_splits_estimate``), so it is read in place."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 4])
    ids = rng.choice(50 * n_rows, size=n_rows, replace=False).astype(np.int64)
    month_us = 31 * 86_400_000_000
    ts = T0_MS * 1000 + rng.integers(0, month_us, n_rows)
    kinds = np.array(["view", "click", "purchase", "error", "signup"])
    session = rng.bytes(16 * n_rows).hex()
    path = os.path.join(out_dir, "events.parquet")
    os.makedirs(path, exist_ok=True)
    per = -(-n_rows // n_files)
    for f in range(n_files):
        lo, hi = f * per, min(n_rows, (f + 1) * per)
        m = hi - lo
        props = [f'{{"k": {k}, "session": "{session[32 * i:32 * i + 32]}"}}'
                 for i, k in zip(range(lo, hi), rng.integers(0, 100_000, m))]
        table = pa.table(
            {
                "event_id": pa.array(ids[lo:hi]),
                "ts": pa.array(ts[lo:hi], type=pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, 100_000, m)),
                "event_type": pa.array(kinds[rng.integers(0, len(kinds), m)]),
                "value": pa.array(np.round(rng.uniform(0, 500, m), 2)),
                "props": pa.array(props),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))
    return path


def documents_table(seed: int, out_dir: str, n_docs: int, vocab: int = 4000) -> str:
    """The ``corpus_dedup`` input: ``documents.parquet`` of ``n_docs``
    documents of 20-120 words drawn from a Zipf(1.1) vocabulary, plus
    planted near-duplicates (one word changed) of 5% of the documents,
    so the MinHash/LSH pass has real candidates on top of the dedup
    corpus's own injected copies."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 5])
    words = np.array([f"w{i}" for i in range(vocab)])
    p = 1.0 / np.arange(1, vocab + 1) ** 1.1
    p /= p.sum()
    lens = rng.integers(20, 121, n_docs)
    toks = rng.choice(vocab, size=int(lens.sum()), p=p)
    texts = [" ".join(words[t]) for t in np.split(toks, np.cumsum(lens)[:-1])]
    for i in rng.choice(n_docs, size=n_docs // 20, replace=False):
        j = int(rng.integers(0, n_docs))
        w = texts[j].split(" ")
        w[int(rng.integers(0, len(w)))] = str(words[rng.integers(0, vocab)])
        texts[i] = " ".join(w)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, n_docs)]),
            "source": pa.array([f"src{i % 8}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path)
    return path


if __name__ == "__main__":
    if len(sys.argv) != 12 or sys.argv[1] != "paced":
        sys.exit("usage: gen.py paced SEED OUT_DIR LOG FIRST N_CHUNKS PER_CHUNK INTERVAL_S"
                 " SPEEDUP N_CELLS START_AT")
    a = sys.argv[2:]
    run_paced(int(a[0]), a[1], a[2], int(a[3]), int(a[4]), int(a[5]), float(a[6]), int(a[7]),
              int(a[8]), float(a[9]))
