"""Python worker daemon: pyspark's own, minus the per-task zip re-read.

Before every task, `pyspark.worker` calls `importlib.invalidate_caches()`
(`worker_util.setup_spark_files`). On CPython 3.11 and 3.12,
`zipimporter.invalidate_caches()` eagerly re-reads the whole archive
directory; 3.13 only drops the cache entry. A worker holds about
sixteen zipimporters (pyspark.zip, py4j's zip, the spark-core jar), so
each task paid 0.28-0.40 s re-reading archives that had not changed.

Run as `python -m hbase_sep_spark.worker_daemon` (what
`session.get_spark` sets as `spark.python.daemon.module`), this module
patches `zipimporter.invalidate_caches` and then runs
`pyspark.daemon.manager()` unchanged. The patched method re-reads an
archive only when its listing signature — `(size, mtime_ns)`, the rule
`io.memo` keys on — differs from the one of the last read in this
process, so a changed or newly added archive (an `addPyFile` zip) is
still re-read. Importing the module installs nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _signature(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def install() -> None:
    """Patch `zipimporter.invalidate_caches` in this process. A no-op
    from CPython 3.13 on, whose method no longer reads the archive."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    # archive path -> (signature, file table) of its last read
    last_read: dict[str, tuple[tuple[int, int] | None, dict]] = {}

    def invalidate_caches(self) -> None:
        # Signed before the read, so a write racing it forces another.
        sig = _signature(self.archive)
        last = last_read.get(self.archive)
        if sig is not None and last is not None and last[0] == sig:
            self._files = last[1]
            zipimport._zip_directory_cache[self.archive] = last[1]
            return
        reread(self)
        last_read[self.archive] = (sig, self._files)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    import importlib

    install()
    from pyspark import daemon

    # Read each archive once here, so the forked workers inherit the
    # signed tables instead of each re-reading them on its first task.
    importlib.invalidate_caches()
    daemon.manager()
