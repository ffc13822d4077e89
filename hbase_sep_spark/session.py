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
        # AQE SMJ→SHJ rewrite threshold — measured rounds 13 AND 14,
        # left OFF (the Spark default, 0). Solo A/B at sf10 it cut
        # the fact⋈fact join 40%+ (BENCH_local_r13_shj_ab.json,
        # fingerprint-identical), but the full-suite 64m session
        # OOMed in round 13, and round 14 RE-TESTED it per
        # VERDICT-r13 item 2 after scoping graph_pagerank's edge
        # persist: it still dies — "Can't acquire 67108864 bytes
        # memory to build hash relation, got 50459422" in warm-up —
        # so the hazard is NOT the storage pool but raw build
        # concurrency: the qualifying partitions are ~50 MB maps and
        # 32 simultaneous no-spill builds exceed the execution pool
        # on an 8 GB local[32] heap regardless of caches. Thresholds
        # ≤32m never fire on the target join (its per-partition map
        # is ~50 MB — round-14 scan), so there is no safe-and-useful
        # default on this profile. A deployment with per-task memory
        # to spare can opt in via $SPARK_GRAFT_SHJ_THRESHOLD; a
        # sort-merge join spills and never fails this way, which is
        # worth more at 100 TB than 40% on one join.
        # (OPTIMIZATION_r13.md C6; OPTIMIZATION_r14.md C2.)
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "0"),
        )
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
