"""Seeded ride-event inputs and the DuckDB reference answer.

Events use the reference producer's wire format: one JSON object per
line with trip_id, driver_id, customer_id, pickup/dropoff ISO strings,
pickup/dropoff location structs of string lat/lon, fare_amount,
tip_amount, city and event_timestamp (epoch seconds, double).

Event times count from a fixed synthetic epoch, so windows and day
partitions are the same in every run. Fares are whole cents, and event
times sit half a millisecond off the millisecond grid, so no event
lies on a window boundary and the exact-cents average is the same in
every engine.
"""

from __future__ import annotations

import os

import numpy as np

# 2024-03-04 00:00:00 UTC: a Monday, so 3 days of backlog stay inside
# one month and the live run (a few minutes from 06:00) never crosses
# midnight.
EPOCH = 1_709_510_400
DAY_S = 86_400

CITIES = (
    "New York",
    "Los Angeles",
    "Chicago",
    "Houston",
    "Phoenix",
    "Philadelphia",
    "San Antonio",
    "San Diego",
    "Dallas",
    "San Jose",
)

_LINE = (
    '{"trip_id": "%s-%d", "driver_id": "d-%d", "customer_id": "c-%d", '
    '"pickup_datetime": "%s", "dropoff_datetime": "%s", '
    '"pickup_location": %s, "dropoff_location": %s, '
    '"fare_amount": %s, "tip_amount": %s, "city": "%s", '
    '"event_timestamp": %r}'
)


def event_times(rng: np.random.Generator, base_s: float, span_s: float, n: int,
                max_disorder_s: float) -> np.ndarray:
    """``n`` event times spread evenly over ``span_s`` seconds from
    ``base_s``, each moved back by up to ``max_disorder_s``: the input
    order is event-time order with bounded disorder. Times are whole
    milliseconds plus 0.5 ms, never on a window boundary."""
    due = base_s + np.arange(n) * (span_s / n)
    lag = rng.uniform(0.0, max_disorder_s, n)
    return np.floor((due - lag) * 1000.0) / 1000.0 + 0.0005


def render(rng: np.random.Generator, tag: str, times: np.ndarray) -> list[str]:
    """One JSON line per event time, in the producer's wire format."""
    n = len(times)
    secs = times.astype(np.int64)
    pickup = _iso(secs - rng.integers(300, 3_601, n))
    dropoff = _iso(secs)
    # whole-cent amounts and locations come from small pools of
    # preformatted strings: formatting dominates generation time
    cents = [repr(c / 100) for c in range(15_001)]
    places = [
        '{"latitude": "%.6f", "longitude": "%.6f"}' % tuple(p)
        for p in rng.uniform((-90.0, -180.0), (90.0, 180.0), (4_096, 2))
    ]
    cols = zip(
        rng.integers(0, 5_000, n).tolist(),
        rng.integers(0, 50_000, n).tolist(),
        pickup,
        dropoff,
        rng.integers(0, len(places), (n, 2)).tolist(),
        rng.integers(500, 15_001, n).tolist(),
        rng.integers(0, 5_001, n).tolist(),
        rng.integers(0, len(CITIES), n).tolist(),
        times.tolist(),
    )
    return [
        _LINE % (tag, i, d, c, pu, do, places[p0], places[p1], cents[f], cents[t], CITIES[k], ts)
        for i, (d, c, pu, do, (p0, p1), f, t, k, ts) in enumerate(cols)
    ]


def _iso(epoch_s: np.ndarray) -> list[str]:
    return np.datetime_as_string(epoch_s.astype("datetime64[s]")).tolist()


def write_files(directory: str, chunks: list[list[str]]) -> list[str]:
    """Write one JSON-lines file per chunk, in order, with strictly
    increasing modification times (the file source orders new files by
    them). Returns the file paths."""
    os.makedirs(directory, exist_ok=True)
    paths = []
    for k, lines in enumerate(chunks):
        path = os.path.join(directory, f"part-{k:05d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.utime(path, ns=(0, (EPOCH + k) * 1_000_000_000))
        paths.append(path)
    return paths


def reference_rows(paths: list[str]) -> dict[tuple[str, int], tuple[int, int, int]]:
    """The expected ``city_metrics`` rows over the given JSON files,
    computed by DuckDB: (city, window_start epoch s) -> (last_updated
    epoch s, total_trips, average_fare in cents rounded half up)."""
    import duckdb

    if not paths:
        return {}
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        rows = con.execute(
            """
            SELECT city,
                   CAST(floor(event_timestamp / 60) * 60 AS BIGINT) AS ws,
                   count(trip_id) AS n,
                   sum(CAST(round(fare_amount * 100) AS BIGINT)) AS cents,
                   count(fare_amount) AS nf
            FROM read_json(?, format = 'newline_delimited',
                           columns = {'trip_id': 'VARCHAR', 'city': 'VARCHAR',
                                      'fare_amount': 'DOUBLE',
                                      'event_timestamp': 'DOUBLE'})
            GROUP BY ALL
            """,
            [list(paths)],
        ).fetchall()
    finally:
        con.close()
    return {
        (city, ws): (ws + 60, n, (2 * cents + nf) // (2 * nf))
        for city, ws, n, cents, nf in rows
    }


def table_rows(rows) -> dict[tuple[str, int], tuple[int, int, int]]:
    """Spark ``city_metrics`` rows in the reference's shape. Timestamps
    are compared as epoch seconds, so the Python time zone plays no
    part."""
    out = {}
    for r in rows:
        key = (r["city"], int(r["window_start"].timestamp()))
        out[key] = (
            int(r["last_updated"].timestamp()),
            int(r["total_trips"]),
            int(round(r["average_fare"] * 100)),
        )
    return out


def diff(expected: dict, actual: dict) -> list[str]:
    """The first few mismatches between two row maps (empty = equal)."""
    out = []
    for key in sorted(set(expected) | set(actual)):
        if expected.get(key) != actual.get(key):
            out.append(f"{key}: expected {expected.get(key)} got {actual.get(key)}")
            if len(out) == 3:
                break
    return out
