"""The benchmark's own checks: seeded inputs are reproducible, and bad
fixtures fail loudly. Run with `python3 -m pytest perfbench`."""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import feed, run  # noqa: E402


def _segment_bytes(tmp_path, name: str, seed: int, index: int) -> bytes:
    d = tmp_path / name
    d.mkdir(exist_ok=True)
    feed.append(str(d), seed, index)
    return (d / f"seg-{index:06d}.parquet").read_bytes()


def test_same_seed_gives_byte_identical_segments(tmp_path):
    for index in (0, 7):
        assert _segment_bytes(tmp_path, "a", 3, index) == _segment_bytes(tmp_path, "b", 3, index)


def test_other_seed_or_index_gives_other_segment(tmp_path):
    base = _segment_bytes(tmp_path, "a", 3, 0)
    assert _segment_bytes(tmp_path, "b", 4, 0) != base
    assert _segment_bytes(tmp_path, "c", 3, 1) != base


def test_segment_shape(tmp_path):
    tbl, dups = feed.segment(5, 2)
    assert tbl.num_rows == feed.SEGMENT_EVENTS + dups
    ids = tbl.column("event_id").to_pylist()
    assert len(set(ids)) == feed.SEGMENT_EVENTS
    # Duplicates are adjacent copies and the segment is (ts, event_id)-sorted.
    rows = list(zip(tbl.column("ts").to_pylist(), ids))
    assert rows == sorted(rows)
    assert 0.03 < dups / feed.SEGMENT_EVENTS < 0.07
    # Segments follow each other in event time.
    nxt, _ = feed.segment(5, 3)
    assert max(tbl.column("ts").to_pylist()) < min(nxt.column("ts").to_pylist())


def test_fixture_is_complete():
    run.validate(run.SF_DIR)


def test_validate_rejects_missing_dir_and_tables(tmp_path):
    with pytest.raises(SystemExit, match="not found"):
        run.validate(str(tmp_path / "nope"))
    region = pq.read_table(os.path.join(run.SF_DIR, "region.parquet"))
    pq.write_table(region, tmp_path / "region.parquet")
    pq.write_table(region.slice(0, 0), tmp_path / "nation.parquet")
    with pytest.raises(SystemExit, match="nation: no rows; .*lineitem: missing"):
        run.validate(str(tmp_path))


RUN_PY = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def test_benchmark_json_lists_what_run_prints():
    import json

    with open(os.path.join(os.path.dirname(os.path.dirname(RUN_PY)), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def _cli(cwd, *extra):
    return subprocess.run(
        [sys.executable, RUN_PY, "--seed", "1", "--seconds", "1", *extra],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=60,
    )


def test_cli_fails_without_the_package(tmp_path):
    p = _cli(tmp_path, "--workload", "cdc_catchup")
    assert p.returncode != 0 and p.stdout == ""
