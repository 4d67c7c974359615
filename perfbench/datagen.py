"""The benchmark's inputs: the engine's own testdata, moved in time by
the seed.

``data/`` holds byte-identical copies of testdata tables (TESTDATA.md,
generator seed 42): ``sf0.1/events.parquet`` and every ``sf0.01`` table.
The benchmark reads nothing outside its checkout, so it carries them.
``--seed`` picks whole-day shifts of event time (and, for the forecast,
which week of the month it reads); a shift by whole days keeps every
hourly window's contents, so each seed loads the layers alike.

``packet_rows`` maps ``events`` onto the capture writer's packet columns
with the canonical flow mapping: one flow (5-tuple) per ``user_id``
(1,500 at sf0.1), slice ``user_id % 3`` as in ``operators.kpi``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
DAY_US = 86_400_000_000
MONTH_DAYS = 30  # the testdata's events span 2024-01-01 .. 2024-01-30
SLICES = np.array(["eMBB", "URLLC", "mMTC"])


def events(sf: str = "sf0.1") -> pa.Table:
    """The testdata ``events`` table at ``sf``, in time order."""
    t = pq.read_table(os.path.join(DATA, sf, "events.parquet"))
    return t.sort_by("ts")


def shift_days(rng: np.random.Generator) -> int:
    """A seeded whole-day shift, up to a year."""
    return int(rng.integers(1, 366))


def shifted(t: pa.Table, days: int) -> pa.Table:
    """``t`` with event time moved by ``days`` whole days."""
    ts = pc.add(t.column("ts").cast(pa.int64()), days * DAY_US)
    return t.set_column(t.schema.get_field_index("ts"), "ts", ts.cast(t.schema.field("ts").type))


def week(t: pa.Table, rng: np.random.Generator) -> pa.Table:
    """A seeded week of the month ``t`` spans."""
    day0 = int(rng.integers(0, MONTH_DAYS - 7 + 1))
    ts = t.column("ts").cast(pa.int64())
    lo = pc.min(ts).as_py() // DAY_US * DAY_US + day0 * DAY_US
    keep = pc.and_(pc.greater_equal(ts, lo), pc.less(ts, lo + 7 * DAY_US))
    return t.filter(keep)


def write_events(root: str, t: pa.Table) -> None:
    os.makedirs(root, exist_ok=True)
    pq.write_table(t, os.path.join(root, "events.parquet"))


def write_corpus(root: str, rng: np.random.Generator) -> None:
    """Every sf0.01 table under ``root``, ``events`` day-shifted."""
    os.makedirs(root, exist_ok=True)
    for name in os.listdir(os.path.join(DATA, "sf0.01")):
        if name != "events.parquet":
            shutil.copyfile(os.path.join(DATA, "sf0.01", name), os.path.join(root, name))
    write_events(root, shifted(events("sf0.01"), shift_days(rng)))


def packet_rows(events: pa.Table) -> pa.Table:
    """``events`` → the capture writer's packet columns (one flow per
    user, at the events' timestamps to the millisecond)."""
    user = events.column("user_id").to_numpy()
    ts_us = events.column("ts").cast(pa.int64()).to_numpy()
    event_id = events.column("event_id").to_numpy()
    proto = np.where(user % 4 < 2, "TCP", np.where(user % 4 == 2, "UDP", "ICMP"))
    return pa.table(
        {
            "slice_type": pa.array(SLICES[user % 3]),
            "timestamp_ms": pa.array(ts_us // 1000),
            "packet_len": pa.array(
                (40 + np.floor(events.column("value").to_numpy())).astype(np.int32)
            ),
            "protocol": pa.array(proto),
            "src_ip": pa.array([f"10.{u // 250 % 250}.{u % 250}.1" for u in user]),
            "dst_ip": pa.array([f"10.200.{u % 100}.2" for u in user]),
            "src_port": pa.array((1024 + user % 60000).astype(np.int32)),
            "dst_port": pa.array((80 + user % 1000).astype(np.int32)),
            "tcp_flags": pa.array(((user * 7 + event_id) % 32).astype(np.int32)),
            "window_size": pa.array(((user * 13) % 1000).astype(np.int32)),
            "seq_number": pa.array(event_id * 1000),
        }
    )
