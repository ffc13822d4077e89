"""SparkSession factory with scale-aware defaults.

Local testing runs on local[N]; the configs below are chosen so the
same logical plans survive a 1000-executor / 100 TB deployment:
AQE handles skew + partition coalescing at runtime, shuffle partition
count is a starting hint that AQE re-plans, and the session timezone
is pinned to UTC so date semantics are deterministic across engines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cpus() -> int:
    """Worker cores: $SPARK_GRAFT_CPUS, or every core of this host when
    it is unset or not an integer (e.g. "*", which `local[*]` accepts)."""
    try:
        return int(os.environ["SPARK_GRAFT_CPUS"])
    except (KeyError, ValueError):
        return os.cpu_count() or 1


def get_spark(app_name: str = "hbase-sep-spark", shuffle_partitions: int | None = None) -> SparkSession:
    n = cpus()
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", n))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's SMJ→SHJ rewrite stays off (Spark's default, 0b): at 64m it OOMed the
        # sf10 suite twice (OPTIMIZATION_r13.md C6, OPTIMIZATION_r14.md C2).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bigger Arrow batches amortize the Python-worker transfer:
        # the round-10 sweep on Spark 4.1.2 measured the pandas-UDF
        # specimen at 0.209 s (default 10k rows/batch) vs 0.160 s
        # (200k) at sf0.1 — and a 100k-row batch of a few numeric
        # columns is ~MBs, trivially inside executor memory at any
        # deployment size. Value semantics are batch-size-invariant.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # pyspark's daemon, minus the zip re-read every task paid on
        # CPython 3.11/3.12 (worker_daemon's docstring). The package's
        # parent goes on the workers' PYTHONPATH, so the daemon starts
        # from any working directory. Plans and answers are unchanged;
        # a plain session keeps pyspark's daemon.
        .config("spark.python.daemon.module", "hbase_sep_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    return builder.getOrCreate()
