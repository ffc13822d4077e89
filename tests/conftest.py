from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.harness import DEFAULT_SF, duck_connection  # noqa: E402

# Unit/smoke tests use sf0.001 for speed; the oracle gate runs sf0.01
# (override with HARNESS_SF_DIR).
SF_UNIT = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("HARNESS_SF_DIR", DEFAULT_SF)


@pytest.fixture(scope="session")
def spark():
    from hbase_sep_spark.session import get_spark

    s = get_spark("pytest", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duck_connection(SF_ORACLE)
    yield con
    con.close()


@pytest.fixture(scope="session")
def mutated(tmp_path_factory):
    """cls -> directory of that tests/mutations.py class built from
    sf0.001, once per session."""
    from tests.mutations import MUTATIONS, materialize

    built = {}

    def get(cls: str) -> str:
        if cls not in built:
            built[cls] = materialize(MUTATIONS[cls], SF_UNIT, str(tmp_path_factory.mktemp(cls)))
        return built[cls]

    return get


def land_segment(tbl, feed_dir, index: int) -> str:
    """Land `tbl` as segment `index` of a feed directory atomically:
    write a hidden temp file, then rename it into its sorted name."""
    import pyarrow.parquet as pq

    os.makedirs(feed_dir, exist_ok=True)
    path = os.path.join(feed_dir, f"seg-{index:03d}.parquet")
    tmp = os.path.join(feed_dir, f".seg-{index:03d}.tmp")
    pq.write_table(tbl, tmp)
    os.rename(tmp, path)
    return path


def write_segments(tbl, feed_dir, n: int) -> str:
    """A feed in (ts, event_id) order as `n` contiguous segments, landed
    in name order. Returns the feed directory."""
    cuts = [round(i * tbl.num_rows / n) for i in range(n + 1)]
    for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        land_segment(tbl.slice(lo, hi - lo), feed_dir, i)
    return str(feed_dir)


def normalized_events(path: str, lo: int, hi: int, step: int = 1):
    """Feed rows [lo, hi) of the feed at `path` (every `step`-th by raw
    position) with the feed-edge rule applied in arrow — the
    independent reference the stream tests hold `io.events_stream` to,
    and the form a replay slice had when slices were cut normalized.
    None for a range past the feed's end.

    - DECIMAL values to the nearest float64 through the exact decimal
      text (arrow's direct decimal→float64 cast is not correctly
      rounded: 37.66 → 37.660000000000004); decimal(20,0) to int64.
    - An integer-epoch ts rebuilt as a timestamp in its classified
      unit (`io.int_ts_unit`), then floored to µs.
    - NULL ts / event_id rows dropped.
    - The EVENT_SCHEMA types, ts as timestamp[us, UTC] (a naive wall
      time is UTC, unshifted); integer widenings are safe casts, so
      genuine overflow stays loud."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from hbase_sep_spark.io import int_ts_unit
    from hbase_sep_spark.sources.sep_events import _read_table

    tbl = _read_table(path, lo, hi, step)
    if tbl is None:
        return None
    for i, f in enumerate(tbl.schema):
        if pa.types.is_decimal(f.type):
            col = tbl.column(i)
            if (f.type.precision, f.type.scale) == (20, 0):
                col = col.cast(pa.int64())
            else:
                col = col.cast(pa.string()).cast(pa.float64())
            tbl = tbl.set_column(i, pa.field(f.name, col.type, f.nullable), col)
    ts_i = tbl.schema.get_field_index("ts")
    if pa.types.is_integer(tbl.schema.field(ts_i).type):
        unit = int_ts_unit(path)
        col = tbl.column("ts").cast(pa.int64()).cast(pa.timestamp(unit))
        tbl = tbl.set_column(ts_i, pa.field("ts", pa.timestamp(unit), True), col)
    tbl = tbl.filter(
        pc.and_kleene(pc.is_valid(tbl.column("ts")), pc.is_valid(tbl.column("event_id")))
    )
    target = pa.schema(
        [
            pa.field("event_id", pa.int64()),
            pa.field("ts", pa.timestamp("us", "UTC")),
            pa.field("user_id", pa.int64()),
            pa.field("event_type", pa.string()),
            pa.field("value", pa.float64()),
            pa.field("props", pa.string()),
        ]
    )
    cols = []
    for f in target:
        col = tbl.column(f.name)
        if col.type != f.type:
            col = col.cast(f.type, safe=False) if f.name == "ts" else col.cast(f.type)
        cols.append(col)
    return pa.Table.from_arrays(cols, schema=target).combine_chunks()


def reference_rows(path: str) -> list[tuple]:
    """The whole feed at `path` as `normalized_events` rows (EVENT_SCHEMA
    order, tz-aware UTC datetimes)."""
    from hbase_sep_spark.sources.sep_events import feed_total

    tbl = normalized_events(path, 0, feed_total(path))
    return [] if tbl is None else [tuple(r.values()) for r in tbl.to_pylist()]


def stream_rows(spark, path: str, **options) -> list[tuple]:
    """The rows the replay of the feed at `path` delivers
    (`sep_events.read_stream` with `options`), drained to a memory
    sink, in EVENT_SCHEMA order."""
    from hbase_sep_spark.sources.sep_events import read_stream
    from hbase_sep_spark.streaming.queries import _run_to_memory

    return [tuple(r) for r in _run_to_memory(read_stream(spark, path, **options)).collect()]
