"""Classes ``nullts`` and ``nullkeys`` of tests/mutations.py: NULL event times
and NULL keys, plus the transport's dead-letter checks."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import SF_UNIT, stream_rows
from tests.mutations import compare


test_nullts_fixture_matches_oracle = compare("nullts")
test_nullkeys_fixture_matches_oracle = compare("nullkeys")


def test_transport_drops_null_ts(spark, mutated):
    """The SEP stream dead-letters NULL-ts records (a record with no
    event time has no replay position)."""
    path = f"{mutated('nullts')}/events.parquet"
    total = pq.ParquetFile(path).metadata.num_rows
    rows = stream_rows(spark, path)
    n_null = pq.read_table(path, columns=["ts"]).column("ts").null_count
    assert n_null > 0  # the mutation actually landed
    assert len(rows) == total - n_null
    assert all(r[1] is not None for r in rows)


def test_transport_drops_null_event_id(spark, tmp_path):
    """A record without an idempotency key cannot be safely
    REDELIVERED — the transport dead-letters NULL event_ids like NULL
    event-times. Batch queries keep NULL primary ids out of contract
    (test_fixture_assumptions.py::test_events_event_id_non_null)."""
    src = pq.read_table(f"{SF_UNIT}/events.parquet")
    ids = src.column("event_id").to_pylist()
    mutated_ids = [None if (i is not None and i % 11 == 1) else i for i in ids]
    i = src.schema.get_field_index("event_id")
    path = str(tmp_path / "events.parquet")
    pq.write_table(src.set_column(i, "event_id", pa.array(mutated_ids, pa.int64())), path)
    rows = stream_rows(spark, path)
    n_null = mutated_ids.count(None)
    assert n_null > 0
    assert len(rows) == len(ids) - n_null
    assert all(r[0] is not None for r in rows)


def test_transport_survives_null_keys(spark, mutated):
    """NULL user_id/event_type flow through the stream as None, and
    ids stay ints (the stream never routes a nullable int column
    through float)."""
    path = f"{mutated('nullkeys')}/events.parquet"
    total = pq.ParquetFile(path).metadata.num_rows
    rows = stream_rows(spark, path)
    assert len(rows) == total  # no ts mutation here — nothing dropped
    uids = [r[2] for r in rows]  # EVENT_SCHEMA order: event_id, ts, user_id, ...
    assert any(u is None for u in uids)
    assert all(u is None or isinstance(u, int) for u in uids)
