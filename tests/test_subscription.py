"""SepSubscription tests. Durability (the replication-position
contract): a named subscription resumes from its checkpoint — stop +
restart delivers nothing twice and nothing is skipped; unsubscribe
drops the cursor and the next start replays from the beginning.
Both feed shapes run on Spark's file source: a segment directory read
in place (the live tail, the delivery-order checks at start()) and a
single file cut into durable slices (refused once the file changes).
Both refuse an old row cursor, and both deliver the rows the feed-edge
rule's arrow reference (`tests.conftest.reference_rows`) produces over
every hostile events class.
"""

from __future__ import annotations

import datetime as dt
import os
import tempfile
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from hbase_sep_spark.streaming.subscription import SepSubscription
from tests.conftest import (
    SF_UNIT,
    land_segment,
    normalized_events,
    reference_rows,
    write_segments,
)


def _drain(q):
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_subscription_resumes_from_checkpoint(spark):
    delivered: list[int] = []

    def listener(batch_df, epoch_id):
        delivered.append(batch_df.count())

    sub = SepSubscription(
        spark,
        name="pytest-sub",
        feed_path=f"{SF_UNIT}/events.parquet",
        root=tempfile.mkdtemp(prefix="sep_subs_"),
        batch_size=400,
    )

    # First run: the whole feed arrives in batches.
    _drain(sub.start(listener))
    total_first = sum(delivered)
    assert total_first == 1000  # sf0.001 events rows
    assert len(delivered) >= 2  # actually batched

    # Resume: durable cursor ⇒ nothing is redelivered.
    delivered.clear()
    _drain(sub.start(listener))
    assert sum(delivered) == 0

    # Unsubscribe drops the cursor ⇒ full replay.
    sub.unsubscribe()
    delivered.clear()
    _drain(sub.start(listener))
    assert sum(delivered) == 1000


def _events():
    return pq.read_table(f"{SF_UNIT}/events.parquet")


def _ids(sink: list):
    """A listener appending each batch's event_ids to `sink`."""

    def listener(batch_df, epoch_id):
        sink.extend(r["event_id"] for r in batch_df.select("event_id").collect())

    return listener


def test_directory_subscription_delivers_live_appends(spark, tmp_path):
    """One subscription stays running while three segments land: it
    delivers every feed row exactly once, without a restart."""
    events = _events()
    feed = str(tmp_path / "feed")
    land_segment(events.slice(0, 250), feed, 0)
    delivered: list[int] = []
    sub = SepSubscription(spark, "live", feed, root=str(tmp_path / "subs"))
    q = sub.start(_ids(delivered))
    try:
        q.processAllAvailable()
        for i in (1, 2, 3):
            land_segment(events.slice(250 * i, 250), feed, i)
            q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(delivered) == sorted(events.column("event_id").to_pylist())


def test_directory_subscription_reads_through_the_file_source(spark, tmp_path):
    """A directory subscription runs on Spark's file source, not the
    Python source runner."""
    feed = write_segments(_events(), tmp_path / "feed", 2)
    q = SepSubscription(spark, "guard", feed, root=str(tmp_path / "subs")).start(_ids([]))
    _drain(q)
    assert "FileStreamSource" in q.lastProgress["sources"][0]["description"]


def test_directory_subscription_refuses_a_row_cursor(spark, tmp_path):
    """A checkpoint whose offsets log holds a `sep_events` row offset
    (written by the retired Python source) fails at start() with an
    error naming the subscription and unsubscribe(), for a segment
    directory and a single-file feed alike; after unsubscribe() the
    feed replays in full."""
    events = _events()
    file_feed = str(tmp_path / "events.parquet")
    pq.write_table(events, file_feed)
    for feed in (write_segments(events, tmp_path / "feed", 2), file_feed):
        sub = SepSubscription(spark, "old-cursor", feed, root=str(tmp_path / "subs"))
        os.makedirs(os.path.join(sub.checkpoint_dir, "offsets"))
        with open(os.path.join(sub.checkpoint_dir, "offsets", "0"), "w") as f:
            f.write('v1\n{"batchWatermarkMs":0,"batchTimestampMs":0}\n{"row":400}\n')
        with pytest.raises(ValueError, match=r"'old-cursor'.*unsubscribe\(\)"):
            sub.start(_ids([]))
        sub.unsubscribe()
        delivered: list[int] = []
        _drain(sub.start(_ids(delivered)))
        assert len(delivered) == 1000
        sub.unsubscribe()


def test_file_subscription_refuses_a_changed_feed(spark, tmp_path):
    """A single-file subscription's slices are cut once; a feed file
    rewritten after the cut fails the next start() loudly, naming
    unsubscribe(), which drops cursor and slices so the next start()
    replays the file as it is now."""
    events = _events()
    feed = str(tmp_path / "events.parquet")
    pq.write_table(events.slice(0, 600), feed)
    sub = SepSubscription(spark, "changed", feed, root=str(tmp_path / "subs"), batch_size=400)
    first: list[int] = []
    _drain(sub.start(_ids(first)))
    assert len(first) == 600
    pq.write_table(events, feed)
    with pytest.raises(ValueError, match=r"'changed'.*unsubscribe\(\)"):
        sub.start(_ids([]))
    sub.unsubscribe()
    assert not os.path.exists(sub.slices_dir)
    again: list[int] = []
    _drain(sub.start(_ids(again)))
    assert sorted(again) == sorted(events.column("event_id").to_pylist())


def test_file_subscription_resumes_normalized_slices(spark, tmp_path):
    """A single-file subscription whose slices dir holds slices cut
    already normalized (EVENT_SCHEMA types, as earlier versions cut
    them), with a matching `_cut` record, resumes on the scan schema of
    its slices, not of the feed: over an int64-ms feed with DECIMAL
    values it delivers the same rows, batch for batch, as a fresh cut
    of raw feed rows."""
    import json

    from pyspark.sql import functions as F

    from hbase_sep_spark.io import listing
    from tests.mutations import int_epoch_events

    events = int_epoch_events(_events(), "ms")
    value = pc.round(events["value"], 2).cast(pa.decimal128(12, 2))
    events = events.set_column(events.schema.get_field_index("value"), "value", value)
    feed = str(tmp_path / "events.parquet")
    pq.write_table(events, feed)

    def deliver(sub) -> dict:
        got: dict = {}

        def listener(batch_df, epoch_id):
            cols = [F.unix_micros("ts").alias("ts") if c == "ts" else c for c in batch_df.columns]
            got[epoch_id] = sorted(map(_canon, batch_df.select(cols).collect()))

        _drain(sub.start(listener))
        return got

    resumed = SepSubscription(spark, "normalized", feed, root=str(tmp_path / "subs"), batch_size=400)
    os.makedirs(resumed.slices_dir)
    for i, lo in enumerate(range(0, 1000, 400)):
        tbl = normalized_events(feed, lo, min(lo + 400, 1000))
        pq.write_table(tbl, os.path.join(resumed.slices_dir, f"slice-{i:09d}.parquet"))
    with open(os.path.join(resumed.slices_dir, "_cut"), "w") as f:
        f.write(json.dumps([listing(feed)[1], 400]))
    fresh = SepSubscription(spark, "raw", feed, root=str(tmp_path / "subs"), batch_size=400)
    want = deliver(fresh)
    assert pq.read_schema(os.path.join(fresh.slices_dir, "slice-000000000.parquet")).field(
        "ts"
    ).type == pa.int64()
    assert len(want) == 3
    assert deliver(resumed) == want


def test_directory_subscription_fails_on_segments_out_of_ts_order(spark, tmp_path):
    """Segment names must sort in ts order (the footer check)."""
    feed = write_segments(_events(), tmp_path / "feed", 3)
    first, last = (os.path.join(feed, f"seg-{i:03d}.parquet") for i in (0, 2))
    os.rename(first, first + ".x")
    os.rename(last, first)
    os.rename(first + ".x", last)
    for name in os.listdir(feed):  # equal mtimes: only the ts order is wrong
        os.utime(os.path.join(feed, name), ns=(10**18, 10**18))
    sub = SepSubscription(spark, "ts-order", feed, root=str(tmp_path / "subs"))
    with pytest.raises(ValueError, match="out of order"):
        sub.start(_ids([]))


def test_directory_subscription_fails_on_segments_out_of_landing_order(spark, tmp_path):
    """The file source delivers segments by modification time, so a
    segment modified before the one its name follows fails loudly."""
    feed = write_segments(_events(), tmp_path / "feed", 3)
    second = os.path.join(feed, "seg-001.parquet")
    st = os.stat(os.path.join(feed, "seg-000.parquet"))
    os.utime(second, ns=(st.st_atime_ns, st.st_mtime_ns - 10**9))
    sub = SepSubscription(spark, "landing-order", feed, root=str(tmp_path / "subs"))
    with pytest.raises(ValueError, match="landing order"):
        sub.start(_ids([]))


# The tests/mutations.py classes whose events table differs from the
# source fixture's (pinned by the completeness test below).
EVENTS_CLASSES = (
    "bigid", "collapse", "degenerate", "dupkey", "empty_feed", "empty_match", "era",
    "extreme", "intts", "intts_int64_s", "intts_int64_us", "intts_uint64_ms",
    "intts_uint32_s", "intts_int32_s", "jsonhostile", "kitchen_sink", "negid",
    "nonfinite", "null", "nullts", "nullkeys", "tie", "uninames", "unsigned",
    "zerorow", "zerorow_events",
)
def test_directory_subscription_follows_a_rewritten_first_segment(spark, tmp_path):
    """The scan schema comes from the first segment, memoized on that
    file's listing: after the feed is rewritten at the same path with
    an int64 epoch-ms ts (the Debezium wire shape), the next start
    reads it with the new schema and delivers the same instants."""
    from pyspark.sql import functions as F

    events = _events().slice(0, 500)
    us = events.column("ts").cast(pa.timestamp("us")).cast(pa.int64())
    ms = pa.array([v // 1000 for v in us.to_pylist()], pa.int64())
    feed = str(tmp_path / "feed")
    for i, tbl in enumerate((events, events.set_column(1, "ts", ms).slice(0, 400))):
        land_segment(tbl, feed, 0)
        want = dict(zip(tbl.column("event_id").to_pylist(), ms.to_pylist()))
        got: dict = {}

        def listener(batch_df, epoch_id):
            got.update(tuple(r) for r in batch_df.select("event_id", F.unix_millis("ts")).collect())

        _drain(SepSubscription(spark, f"rewrite{i}", feed, root=str(tmp_path / "subs")).start(listener))
        assert got == want, i


_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _canon(row):
    """(event_id, ts as epoch micros, user_id, event_type, value repr,
    props): NaN compares equal to itself, -0.0 stays apart from 0.0."""
    eid, ts, uid, etype, value, props = row
    if isinstance(ts, dt.datetime):
        ts = (ts - _EPOCH) // dt.timedelta(microseconds=1)
    return eid, ts, uid, etype, repr(value), props


def test_events_classes_are_every_class_that_rewrites_events(mutated):
    from tests.mutations import MUTATIONS

    base = _events()
    rewrites = [c for c in MUTATIONS if not pq.read_table(f"{mutated(c)}/events.parquet").equals(base)]
    assert tuple(rewrites) == EVENTS_CLASSES


def _recast(name: str, fn):
    """The sf0.001 events with column `name` rewritten by `fn`."""
    tbl = _events()
    col = fn(tbl.column(name))
    return tbl.set_column(tbl.schema.get_field_index(name), pa.field(name, col.type), col)


# Encodings no class applies to events: DECIMAL(12,2) money, and the
# TIMESTAMP(NANOS) ts of the rounds-1-3 fixtures.
_ENCODINGS = {
    "decimal_value": lambda: _recast("value", lambda c: pc.round(c, 2).cast(pa.decimal128(12, 2))),
    "nanos_ts": lambda: _recast("ts", lambda c: c.cast(pa.timestamp("ns"))),
}


@pytest.mark.parametrize("cls", [*EVENTS_CLASSES, *_ENCODINGS])
def test_segment_transport_matches_python_reader(spark, mutated, tmp_path, cls):
    """Each hostile events class, in both feed shapes, delivers exactly
    the multiset the arrow reference of the feed-edge rule produces
    (`reference_rows`): split into three ts-ordered segments and
    drained by a directory subscription, and as one file drained by a
    single-file subscription through its raw slices — both through
    io.events_stream."""
    from pyspark.sql import functions as F

    if cls in _ENCODINGS:
        tbl = _ENCODINGS[cls]()
    else:
        tbl = pq.read_table(f"{mutated(cls)}/events.parquet")
    tbl = tbl.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    file_feed = str(tmp_path / "events.parquet")
    pq.write_table(tbl, file_feed)
    for shape, feed in (("dir", write_segments(tbl, tmp_path / "feed", 3)), ("file", file_feed)):
        want = Counter(map(_canon, reference_rows(feed)))
        got: Counter = Counter()

        def listener(batch_df, epoch_id):
            cols = [F.unix_micros("ts").alias("ts") if c == "ts" else c for c in batch_df.columns]
            got.update(_canon(tuple(r)) for r in batch_df.select(cols).collect())

        sub = SepSubscription(spark, f"parity-{cls}-{shape}", feed, root=str(tmp_path / "subs"))
        _drain(sub.start(listener))
        assert got == want, shape
