"""Seeded corpora for the served-path benchmark.

``write_sf01_events`` writes an events table shaped like the driver's
sf0.1 ``events.parquet``: 100,000 rows, 1,500 users, five uniformly
drawn event types, a time-sorted January 2024 span, an exponential
``value`` (mean 50, cents) and ``{"k": 0..99}`` props. The numbers
come from NumPy's PCG64 seeded with the workload seed, so the same
seed writes the same bytes and the program under test sees only the
file.

The ``explore_large`` corpus is not made here: the server process
builds it with the program's own ``events_gen.generate_events``
(see ``server_proc.py``), because that generator is part of the
engine being measured.
"""

from __future__ import annotations

import datetime as dt
import os

SF01_ROWS = 100_000
SF01_USERS = 1_500
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
JAN_START = dt.datetime(2024, 1, 1)
JAN_SECONDS = 30 * 86_400


def write_sf01_events(path: str, seed: int) -> int:
    """Write ``path`` (a parquet file) unless it exists; returns rows."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.exists(path):
        return pq.ParquetFile(path).metadata.num_rows
    rng = np.random.default_rng([seed, 101])
    offs_us = np.sort(rng.integers(0, JAN_SECONDS * 1_000_000, SF01_ROWS))
    ts = np.datetime64(JAN_START, "us") + offs_us.astype("timedelta64[us]")
    table = pa.table({
        "event_id": pa.array(np.arange(SF01_ROWS, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, SF01_USERS, SF01_ROWS)),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), SF01_ROWS)]),
        "value": pa.array(np.round(rng.exponential(50.0, SF01_ROWS), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, SF01_ROWS)]),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return SF01_ROWS
