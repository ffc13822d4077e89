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
