"""Seeded `events` table for the benchmark.

The program reads a directory of parquet tables (`<dir>/events.parquet`,
the layout of the project's testdata). The benchmark cannot rely on any
file outside its checkout, so it writes its own `events` table from the
run's seed, with the testdata's schema and column distributions:

- `event_id` 0..n-1, in timestamp order;
- `ts` uniform over 30 days from 2024-01-01, stored as the testdata
  stores it: zoneless TIMESTAMP(NANOS), here with whole microseconds.
  A session from `get_spark` reads it as nanosecond longs, which
  `load_table` converts; the run checks that it does;
- `user_id` uniform over `n // 66` users (~66.7 events per user);
- `event_type` uniform over the five testdata types;
- `value` exponential with mean 50, rounded to cents;
- `props` the JSON payload `{"k": <0..99>}` the threat queries parse.

The same seed gives byte-identical rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EVENTS_PER_USER = 66
START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
SPAN_US = 30 * 86_400 * 1_000_000
NS_PER_US = 1_000

SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("ns")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


def write_events(out_dir: str, seed: int, n_events: int) -> dict[str, int]:
    """Write `<out_dir>/events.parquet`; return its row and user counts."""
    rng = np.random.default_rng(seed)
    n_users = max(1, n_events // EVENTS_PER_USER)
    ts = np.sort(rng.integers(0, SPAN_US, n_events)) + START_US
    users = rng.integers(0, n_users, n_events)
    types = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES),
                                               n_events)]
    value = np.round(rng.exponential(50.0, n_events), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
    table = pa.table([
        pa.array(np.arange(n_events, dtype=np.int64)),
        pa.array(ts * NS_PER_US, type=pa.timestamp("ns")),
        pa.array(users.astype(np.int64)),
        pa.array(types.tolist(), type=pa.string()),
        pa.array(value),
        pa.array(props, type=pa.string()),
    ], schema=SCHEMA)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
    return {"events": n_events, "users": int(np.unique(users).size)}
