"""The package worker daemon (hbase_sep_spark/worker_daemon.py): a task
no longer re-reads unchanged zip archives, a changed archive is still
re-read, and importing the module changes nothing."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
from pyspark.sql.functions import pandas_udf

from hbase_sep_spark import worker_daemon


def test_task_keeps_zip_tables_across_invalidate_caches(spark):
    """In a get_spark() worker, `importlib.invalidate_caches()` (which
    pyspark.worker calls before every task) replaces no zipimporter's
    file table. pyspark's own daemon replaces every one of them."""

    @pandas_udf("string")
    def replaced(x: pd.Series) -> pd.Series:
        import importlib
        import sys
        import zipimport

        zips = [z for z in list(sys.path_importer_cache.values()) if isinstance(z, zipimport.zipimporter)]
        before = [id(z.__dict__.get("_files")) for z in zips]
        importlib.invalidate_caches()
        after = [id(z.__dict__.get("_files")) for z in zips]
        n = sum(b != a for b, a in zip(before, after))
        return pd.Series([f"{n}/{len(zips)}"] * len(x))

    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == worker_daemon.__name__
    [row] = spark.range(1, numPartitions=1).select(replaced("id").alias("r")).collect()
    n, total = map(int, row.r.split("/"))
    assert total > 0
    assert n == 0


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_rewritten_zip_is_reread(tmp_path, monkeypatch):
    """With the patch installed, an unchanged archive keeps its table
    and a rewritten one is read again, so its new module imports."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    worker_daemon.install()
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"sep_zip_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("sep_zip_a").X == 1
        importer = sys.path_importer_cache[archive]
        importlib.invalidate_caches()
        table = importer._files
        importlib.invalidate_caches()
        assert importer._files is table

        _write_zip(archive, {"sep_zip_a": "X = 1\n", "sep_zip_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importer._files is not table
        assert importlib.import_module("sep_zip_b").Y == 2
    finally:
        for name in ("sep_zip_a", "sep_zip_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_importing_the_daemon_module_leaves_zipimport_untouched():
    """Only running the module as __main__ installs the patch: a driver
    that imports it keeps CPython's zipimporter."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import zipimport\n"
        "before = zipimport.zipimporter.invalidate_caches\n"
        "import hbase_sep_spark.worker_daemon\n"
        "print(zipimport.zipimporter.invalidate_caches is before)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True, text=True, timeout=60, check=True
    )
    assert out.stdout.strip() == "True"
