"""Class ``layout`` of tests/mutations.py: multi-part table directories, plus
the segmented-feed transport checks."""

from __future__ import annotations

import glob

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_UNIT
from tests.mutations import collect_rows, compare


test_layout_fixture_matches_oracle = compare("layout")


def test_segmented_feed_equals_single_file(mutated):
    """Transport equivalence: reading the segmented feed in arbitrary
    global-row slices yields exactly the single-file feed's rows, in
    feed order (the replay-offset contract)."""
    from hbase_sep_spark.sources.sep_events import _read_table, feed_total

    single, seg = f"{SF_UNIT}/events.parquet", f"{mutated('layout')}/events.parquet"
    assert feed_total(seg) == feed_total(single)
    n = feed_total(seg)
    # Slice boundaries chosen to straddle segment and row-group edges.
    cuts = [0, 1, n // 5 - 1, n // 5 + 2, n // 2, n - 1, n]
    got, want = [], []
    for lo, hi in zip(cuts, cuts[1:]):
        got.extend(_read_table(seg, lo, hi).to_pylist())
        want.extend(_read_table(single, lo, hi).to_pylist())
    assert got == want
    assert _read_table(seg, 0, n).to_pylist() == got


def test_empty_segment_is_transparent(tmp_path):
    """A zero-row segment file (a rotation that caught no events) must
    not shift offsets or break the range reader."""
    from hbase_sep_spark.sources.sep_events import _read_table, feed_total

    single = f"{SF_UNIT}/events.parquet"
    seg_dir = tmp_path / "events.parquet"
    seg_dir.mkdir()
    tbl = pq.read_table(single)
    n = tbl.num_rows
    pq.write_table(tbl.slice(0, n // 2), str(seg_dir / "part-000.parquet"))
    pq.write_table(tbl.slice(0, 0), str(seg_dir / "part-001.parquet"))
    pq.write_table(tbl.slice(n // 2), str(seg_dir / "part-002.parquet"))
    assert feed_total(str(seg_dir)) == n
    assert _read_table(str(seg_dir), 0, n).equals(_read_table(single, 0, n))
    # A range that starts exactly at the empty segment's base.
    assert _read_table(str(seg_dir), n // 2, n).equals(_read_table(single, n // 2, n))


def test_out_of_order_segments_fail_loudly(tmp_path):
    """The feed contract — sorted-filename order IS ts order — is
    CHECKED from row-group ts statistics: a feed named data_9/data_10
    sorts 10-before-9 lexically and would silently corrupt every
    replay slice. The transport must raise, not serve wrong offsets."""
    from hbase_sep_spark.sources.sep_events import feed_total

    tbl = pq.read_table(f"{SF_UNIT}/events.parquet")
    n = tbl.num_rows
    seg_dir = tmp_path / "events.parquet"
    seg_dir.mkdir()
    pq.write_table(tbl.slice(n // 2), str(seg_dir / "data_10.parquet"))
    pq.write_table(tbl.slice(0, n // 2), str(seg_dir / "data_9.parquet"))
    with pytest.raises(ValueError, match="out of order"):
        feed_total(str(seg_dir))
    # Zero-padded rotation names order correctly and pass the check.
    ok_dir = tmp_path / "ok.parquet"
    ok_dir.mkdir()
    pq.write_table(tbl.slice(0, n // 2), str(ok_dir / "data_09.parquet"))
    pq.write_table(tbl.slice(n // 2), str(ok_dir / "data_10.parquet"))
    assert feed_total(str(ok_dir)) == n


def test_mixed_tz_segments_skip_order_check(tmp_path):
    """A feed mixing ntz and tz-annotated segments is out of contract
    (cross-segment reads fail loudly with ArrowInvalid), but the
    footer-only order check must not trip over it first: naive and
    aware datetime stats share a Python type yet don't order against
    each other, so the check compares tzinfo-ness and skips."""
    from hbase_sep_spark.sources.sep_events import feed_total

    tbl = pq.read_table(f"{SF_UNIT}/events.parquet")
    n = tbl.num_rows
    first, second = tbl.slice(0, n // 2), tbl.slice(n // 2)
    tz_ts = pc.assume_timezone(second.column("ts").combine_chunks().cast(pa.timestamp("us")), "UTC")
    second = second.set_column(second.schema.get_field_index("ts"), pa.field("ts", tz_ts.type), tz_ts)
    seg_dir = tmp_path / "events.parquet"
    seg_dir.mkdir()
    pq.write_table(first, str(seg_dir / "data_00.parquet"))
    pq.write_table(second, str(seg_dir / "data_01.parquet"))
    assert feed_total(str(seg_dir)) == n


def test_segment_memo_detects_same_path_rewrite(tmp_path):
    """A feed regenerated AT THE SAME PATH inside a live process must
    not be served stale (file, base, n) offsets: the memo keys on the
    listing's (name, size, mtime_ns) signature, so a rewrite misses
    and re-reads footers."""
    from hbase_sep_spark.sources.sep_events import feed_total

    tbl = pq.read_table(f"{SF_UNIT}/events.parquet")
    n = tbl.num_rows
    feed = tmp_path / "events.parquet"
    pq.write_table(tbl.slice(0, n // 2), str(feed))
    assert feed_total(str(feed)) == n // 2
    pq.write_table(tbl, str(feed))  # same path, different content/size
    assert feed_total(str(feed)) == n
    # Directory feeds too: adding a rotation segment must be seen.
    seg_dir = tmp_path / "seg_feed.parquet"
    seg_dir.mkdir()
    pq.write_table(tbl.slice(0, n // 2), str(seg_dir / "part-000.parquet"))
    assert feed_total(str(seg_dir)) == n // 2
    pq.write_table(tbl.slice(n // 2), str(seg_dir / "part-001.parquet"))
    assert feed_total(str(seg_dir)) == n


def test_rowgroup_audit_covers_all_parts(spark, mutated):
    """The audit must report every part file's row groups (global
    index, no duplicates), not just the first file's."""
    sf = mutated("layout")
    rows = collect_rows("scan_rowgroup_stats_audit", spark, sf)
    files = sorted(glob.glob(f"{sf}/lineitem.parquet/*.parquet"))
    expected_groups = sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
    assert len(files) == 3
    assert len(rows) == expected_groups
    assert sorted(r["row_group"] for r in rows) == list(range(expected_groups))
    assert sum(r["n_rows"] for r in rows) == pq.read_table(f"{SF_UNIT}/lineitem.parquet").num_rows
