"""Classes ``intts`` and ``intts_*`` of tests/mutations.py: integer-epoch event
times in every wire shape, plus the unit classifier's checks."""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import SF_UNIT
from tests.harness import check_query, duck_connection
from tests.mutations import REGISTRY, compare, int_epoch_events


test_intts_ms_fixture_matches_oracle = compare("intts")
# One case per wire shape, each checking all of that class's pins.
test_intts_other_units_match_oracle = compare(
    "intts_int64_s", "intts_int64_us", "intts_uint64_ms", "intts_uint32_s", "intts_int32_s",
    ids=["int64-s", "int64-us", "uint64-ms", "uint32-s", "int32-s"],
)


def test_classify_epoch_unit_bands():
    """The four bands, their 1000×-apart boundaries, and the
    negative-epoch (pre-1970) |value| rule."""
    from hbase_sep_spark.io import classify_epoch_unit

    e2024 = 1_700_000_000
    assert classify_epoch_unit(e2024) == "s"
    assert classify_epoch_unit(e2024 * 10**3) == "ms"
    assert classify_epoch_unit(e2024 * 10**6) == "us"
    assert classify_epoch_unit(e2024 * 10**9) == "ns"
    e1920 = -1_600_000_000
    assert classify_epoch_unit(abs(e1920)) == "s"
    assert classify_epoch_unit(abs(e1920 * 10**3)) == "ms"


def test_annotated_nanos_still_dispatches_ns(spark, tmp_path):
    """The rounds-1-3 shape: an ANNOTATED TIMESTAMP(NANOS) file also
    scans as bigint under nanosAsLong, but pyarrow reads its footer
    stats as datetimes — int_ts_unit must short-circuit to 'ns' on
    the arrow schema, never touch those stats, and the full compare
    must still pass (DuckDB reads TIMESTAMP_NS natively)."""
    from hbase_sep_spark.io import int_ts_unit

    dst = str(tmp_path)
    for name in "region nation customer supplier part orders lineitem documents embeddings".split():
        shutil.copyfile(f"{SF_UNIT}/{name}.parquet", f"{dst}/{name}.parquet")
    tbl = pq.read_table(f"{SF_UNIT}/events.parquet")
    i = tbl.schema.get_field_index("ts")
    tbl = tbl.set_column(i, pa.field("ts", pa.timestamp("ns"), True), tbl.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(tbl, f"{dst}/events.parquet", store_schema=False)
    assert int_ts_unit(f"{dst}/events.parquet") == "ns"
    con = duck_connection(dst)
    try:
        for name in ("scan_events_feed", "events_latest_per_key"):
            res = check_query(name, REGISTRY[name], spark, con, dst)
            assert res["status"] in ("ok", "ok-rows-only"), f"{name}: {res['status']}: {res['detail']}"
    finally:
        con.close()


def test_int_ts_unit_reads_footer_only(tmp_path):
    """Unit classification must come from row-group statistics, not a
    data read, and re-classify after a same-path rewrite (the cache
    keys on the listing signature)."""
    from hbase_sep_spark.io import int_ts_unit

    src = pq.read_table(f"{SF_UNIT}/events.parquet")
    p = str(tmp_path / "events.parquet")
    pq.write_table(int_epoch_events(src, "ms"), p)
    assert int_ts_unit(p) == "ms"
    time.sleep(0.01)
    pq.write_table(int_epoch_events(src, "s"), p)
    os.utime(p)
    assert int_ts_unit(p) == "s"
