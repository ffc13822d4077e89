"""bench.py shuffle-partition derivation guards (VERDICT-r13 items
4/7 + ADVICE-r13): the derived count must be computed from the
REGISTRY'S tables only — a regeneration that ships extra parquet
under the fixture root (scratch, landing dirs, decoys) must not
silently inflate it — and the $SPARK_GRAFT_CPUS parse must tolerate
the non-integer values session.py accepts for the master URL.

No Spark session needed: these are pure-filesystem helpers.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _table_bytes  # noqa: E402
from hbase_sep_spark.session import cpus  # noqa: E402

SF_UNIT = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def test_table_bytes_ignores_decoy_parquet(tmp_path):
    """A non-table parquet anywhere under the fixture root (including
    a subdir) must not change the derived input size."""
    import shutil

    fixture = tmp_path / "sfX"
    fixture.mkdir()
    for name in ("orders", "lineitem"):
        shutil.copy(
            os.path.join(SF_UNIT, f"{name}.parquet"), fixture / f"{name}.parquet"
        )
    before = _table_bytes(str(fixture))
    assert before > 0

    # Decoys: a stray top-level parquet and a scratch subdir.
    (fixture / "decoy.parquet").write_bytes(b"x" * 4096)
    scratch = fixture / "scratch"
    scratch.mkdir()
    (scratch / "intermediate.parquet").write_bytes(b"y" * (64 << 20))

    assert _table_bytes(str(fixture)) == before


def test_table_bytes_counts_directory_tables(tmp_path):
    """The round-9 physical-layout class: a table may ship as a
    DIRECTORY of part files — its bytes must still be counted."""
    import shutil

    fixture = tmp_path / "sfY"
    fixture.mkdir()
    src = os.path.join(SF_UNIT, "orders.parquet")
    d = fixture / "orders.parquet"
    d.mkdir()
    shutil.copy(src, d / "part-000.parquet")
    shutil.copy(src, d / "part-001.parquet")
    assert _table_bytes(str(fixture)) == 2 * os.path.getsize(src)


def test_table_bytes_raises_on_a_fixture_without_tables(tmp_path):
    """A wrong $SPARK_GRAFT_SF_DIR (no registry tables under it) must
    fail loudly, naming the path, instead of deriving the floor."""
    import re

    import pytest

    (tmp_path / "decoy.parquet").write_bytes(b"x" * 4096)
    with pytest.raises(FileNotFoundError, match=re.escape(str(tmp_path))):
        _table_bytes(str(tmp_path))


def test_cpus_for_derivation_tolerates_star(monkeypatch):
    """ADVICE-r13: SPARK_GRAFT_CPUS="*" builds `local[*]` fine but
    crashed the derivation with ValueError. session.cpus() is the one
    parse both the session and bench use; unset or non-integer means
    every core of the host, never a literal count."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")
    assert cpus() == os.cpu_count()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "16")
    assert cpus() == 16
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert cpus() == os.cpu_count()
