"""Seeded input generators for the benchmark.

Events mirror the schema, parquet encoding and value domains of the
`events` table the program is written against, so the program sees the
shapes it is tested on. The same seed always gives the same bytes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_USERS = 1500
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VALUE_MAX = 560.21
JAN_2024_US = 1704067200 * 10**6  # 2024-01-01T00:00:00Z in microseconds
DAY_US = 86400 * 10**6
ROW_GROUP = 131072  # several row groups per file, so scans split across cores


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=ROW_GROUP)


def event_columns(rng, n, first_id, ts_us):
    """Events with the given timestamps: 1500 users, 5 types, value an
    exponential(50) clipped to [0, 560.21] at 2 decimals, props {"k": n}."""
    value = np.minimum(np.round(rng.exponential(50.0, n), 2), VALUE_MAX)
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array(['{"k": %d}' % x for x in k]),
    })


def events(rng, n):
    """n events over Jan 1-30 2024, event_id in timestamp order."""
    ts = np.sort(rng.integers(JAN_2024_US, JAN_2024_US + 30 * DAY_US, n))
    return event_columns(rng, n, 0, ts)


def refresh_slice(rng, n, first_id, index):
    """An incoming slice: half late rows stamped in December 2023 (older than
    every base row, so they must lose), half fresh rows stamped on day
    `index` of February 2024 (newer than the base and every earlier slice,
    so they must win)."""
    late = n // 2
    feb = JAN_2024_US + 31 * DAY_US + index * DAY_US
    ts = np.concatenate([
        rng.integers(JAN_2024_US - 31 * DAY_US, JAN_2024_US, late),
        feb + rng.integers(0, DAY_US, n - late)])
    return event_columns(rng, n, first_id, ts)


RANGE_DAYS = [1, 3, 7, 10, 14, 21, 28, 31]
TYPE_COUNTS = [0, 0, 1, 1, 2, 2, 3, 3]


def dashboard_requests(rng, n):
    """Dashboard filter requests: a date range inside January 2024, 0-3
    event types, minValue 0-199. Every block of 8 consecutive requests
    holds each range length in RANGE_DAYS, each type count in TYPE_COUNTS
    and one minValue from each eighth of 0-199, in seeded order, so a short
    window sees the same mix of work under every seed. One request per
    line: from, to, types (comma-separated, may be empty), minValue."""
    out = []
    while len(out) < n:
        block = zip(rng.permutation(RANGE_DAYS), rng.permutation(TYPE_COUNTS),
                    rng.permutation(8))
        for days, n_types, eighth in block:
            start = int(rng.integers(1, 33 - days))
            types = sorted(rng.choice(EVENT_TYPES, n_types, replace=False))
            out.append("2024-01-%02d\t2024-01-%02d\t%s\t%d" % (
                start, start + days - 1, ",".join(types),
                eighth * 25 + rng.integers(0, 25)))
    return out[:n]


def etl_inputs(out_dir, seed, n_base, n_slices, slice_rows):
    """The base events file and the refresh slices (each an events table of
    its own directory); returns the slice files in merge order."""
    rng = np.random.default_rng(seed)
    write(events(rng, n_base), os.path.join(out_dir, "base", "events.parquet"))
    paths = []
    for i in range(n_slices):
        p = os.path.join(out_dir, "slices", "%03d" % i, "events.parquet")
        write(refresh_slice(rng, slice_rows, n_base + i * slice_rows, i), p)
        paths.append(p)
    return paths

