"""Seeded CDC feed: ts-sorted parquet segments appended to a feed
directory, the shape sources/sep_events replays (sorted-filename order
is (ts, event_id) order).

Each segment covers SEGMENT_SPAN of event time and SEGMENT_EVENTS
distinct events: Zipf-skewed user_id, a fixed five-type mix, and a
known share of adjacent exact copies — at-least-once redelivery that
the subscription's dropDuplicatesWithinWatermark must remove. The
same (seed, index) always yields byte-identical segment files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENT_EVENTS = 5_000
DUP_SHARE = 0.05
# Two hours per segment against the subscription's one-hour watermark:
# each catch-up evicts the previous segment's dedup state, so the state
# store stays one segment deep however long the run.
SEGMENT_SPAN_US = 2 * 3600 * 10**6
USERS = 10_000
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
TYPE_MIX = (0.45, 0.30, 0.10, 0.10, 0.05)
_T0_US = int((dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds()) * 10**6

SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def segment(seed: int, index: int) -> tuple[pa.Table, int]:
    """Segment `index` of the feed for `seed`, and how many duplicate
    rows it carries."""
    rng = np.random.default_rng([seed, index])
    n = SEGMENT_EVENTS
    ids = index * n + np.arange(n, dtype=np.int64)
    ts = _T0_US + index * SEGMENT_SPAN_US + np.sort(rng.integers(0, SEGMENT_SPAN_US, n))
    cols = {
        "event_id": ids,
        "ts": ts,
        "user_id": (rng.zipf(1.3, n) - 1) % USERS,
        "event_type": np.array(EVENT_TYPES)[rng.choice(len(EVENT_TYPES), n, p=TYPE_MIX)],
        "value": rng.integers(1, 50_000, n) / 100.0,
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }
    # Redelivery: a copy of the row directly after the original.
    reps = np.where(rng.random(n) < DUP_SHARE, 2, 1)
    cols = {k: np.repeat(v, reps) for k, v in cols.items()}
    cols["ts"] = pa.array(cols["ts"], pa.timestamp("us"))
    return pa.table(cols, schema=SCHEMA), int(reps.sum() - n)


def append(feed_dir: str, seed: int, index: int) -> tuple[int, int]:
    """Land segment `index` in `feed_dir` atomically (write, then
    rename into the sorted name). Returns (rows, duplicate rows)."""
    tbl, dups = segment(seed, index)
    path = os.path.join(feed_dir, f"seg-{index:06d}.parquet")
    tmp = os.path.join(feed_dir, f".seg-{index:06d}.tmp")
    pq.write_table(tbl, tmp)
    os.rename(tmp, path)
    return tbl.num_rows, dups
