#!/usr/bin/env python3
"""spark-sep benchmark.

    python3 perfbench/run.py --workload analytics_warm|cdc_catchup \
        --seed N --seconds S --trace 0|1

Run from the repository root. One process drives one workload on
local[nproc], times only calls into the package's public entry points,
checks every output, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics read
from Spark's own instruments (--trace 1). The line before it is a
`{"perfbench": {...}}` report with run conditions and sample counts.
Workloads, metrics and protocol: perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time
from collections import Counter

ROOT = os.getcwd()
WORKLOADS = ("analytics_warm", "cdc_catchup")
# The analytics fixture: a byte-identical copy of the repo's sf0.01
# test tables (seed 42; FIXTURES.md), kept here so a run reads only
# files inside its checkout.
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.01")

# The 27 analytics queries, frozen here so edits to bench.py's
# HEADLINE cannot change the workload: one per operator family.
QUERIES = (
    "agg_groupby_basic",
    "agg_cube",
    "agg_median_percentile",
    "select_distinct",
    "filter_range_between",
    "join_inner_shuffle",
    "join_shuffle_hash_hint",
    "join_multiway_star",
    "join_asof_latest_event",
    "join_bloom_prefilter",
    "events_latest_per_key",
    "win_running_sum",
    "topk_per_group",
    "limit_topn",
    "text_tokenize_wordcount",
    "dedup_exact_docs",
    "dedup_minhash_near",
    "simsearch_cosine_topk",
    "udf_pandas_vectorized",
    "simsearch_lsh_bucketed",
    "vec_pca_project",
    "pipeline_training_prep",
    "graph_pagerank",
    "ts_daily_gapfill_ffill",
    "agg_cms_freq_sketch",
    "tpch_q21_waiting_suppliers",
    "graph_bfs_levels",
)
# Expected row counts of the queries without a DuckDB oracle, on SF_DIR.
ROWS_ONLY = {"dedup_minhash_near": 106, "simsearch_lsh_bucketed": 100, "vec_pca_project": 500}
# Untimed passes after the correctness pass, before measuring: with one,
# passes still got faster through much of the window (1.8 s down to
# 1.3 s on 4 cores) and runs spread wider.
WARM_PASSES = 3

END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
}
_QUERY_LAYER = (
    ("task_s", "s"),
    ("task_cpu_s", "s"),
    ("gc_s", "s"),
    ("stage_span_s", "s"),
    ("driver_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("shuffle_write_bytes", "bytes"),
    ("shuffle_read_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("result_bytes", "bytes"),
)
PER_LAYER = {
    "session.start_s": "s",
    "registry.build_s": "s",
    "registry.memo_hits": "count",
    "io.scan_s": "s",
    "io.input_bytes": "bytes",
    **{f"queries.{k}": u for k, u in _QUERY_LAYER},
    **{f"queries.{q}_s": "s" for q in QUERIES},
    **{f"queries.{q}_first_s": "s" for q in QUERIES},
    "functions.python_s": "s",
    "functions.python_bytes": "bytes",
    "sources.feed_total_s": "s",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "sources.rows": "count",
    "streaming.batches": "count",
    "streaming.planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_commit_ms": "ms",
    "streaming.dedup_ratio": "ratio",
    "subscription.start_s": "s",
    "subscription.stop_s": "s",
    "subscription.listener_s": "s",
    "trace.round_s": "s",
    "trace.self_s": "s",
    "trace.unattributed_s": "s",
}


# -- host and process tree ---------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, stack = _children_map(), [], [pid]
    while stack:
        for c in kids.get(stack.pop(), ()):
            out.append(c)
            stack.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def peak_rss_bytes() -> int:
    """Peak resident memory (VmHWM) of this process and of each live
    descendant (the JVM and its Python workers), summed: an upper bound
    on the tree's peak that needs no sampling thread during timing."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) * 1024
        except (OSError, StopIteration, ValueError):
            pass
    return total


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def conditions(seed: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_1m_start": os.getloadavg()[0],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "seed": seed,
    }


def validate(sf_dir: str) -> None:
    """Fail loudly on a fixture the queries cannot run against: a
    missing directory, or any registry table missing or empty."""
    import pyarrow.parquet as pq

    from hbase_sep_spark.io import TABLES

    if not os.path.isdir(sf_dir):
        raise SystemExit(f"perfbench: fixture directory not found: {sf_dir}")
    problems = []
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.isfile(path):
            problems.append(f"{name}: missing")
        elif pq.ParquetFile(path).metadata.num_rows == 0:
            problems.append(f"{name}: no rows")
    if problems:
        raise SystemExit(f"perfbench: unusable fixture {sf_dir}: " + "; ".join(problems))


# -- statistics ---------------------------------------------------------


def tail(samples: list[float]) -> tuple[float, float] | None:
    """(percentile, value): p90 when at least ten samples lie beyond
    it, else the highest percentile that has ten beyond it; None when
    there are fewer than twenty samples."""
    import numpy as np

    n = len(samples)
    if n < 20:
        return None
    p = 0.9 if n * 0.1 >= 10 else 1 - 10 / n
    return p, float(np.quantile(samples, p))


# -- workloads ----------------------------------------------------------


class Run:
    """State shared by a workload run: the session, counts of attempted
    and failed operations, correctness, and the metrics it reports."""

    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.e2e: dict[str, float] = {}
        self.layers: Counter = Counter()
        self.report: dict = {"workload": args.workload, **conditions(args.seed)}
        self.steal0 = cpu_steal()
        self.t_start = time.perf_counter()
        from hbase_sep_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{args.workload}")
        self.layers["session.start_s"] = time.perf_counter() - self.t_start

    def fail(self, what: str, err: BaseException | str) -> None:
        self.failed += 1
        self.correct = False
        self.report.setdefault("errors", []).append(f"{what}: {err}"[:500])
        print(f"perfbench: {what}: {err}", file=sys.stderr)


def analytics_warm(run: Run, sf_dir: str) -> None:
    from hbase_sep_spark.registry import load_all
    from tests.harness import check_query, duck_connection

    args, spark = run.args, run.spark
    registry = load_all()
    missing = [q for q in QUERIES if q not in registry]
    if missing:
        raise SystemExit(f"perfbench: queries not in the registry: {missing}")
    tracer = None
    if args.trace:
        from perfbench.trace import QueryTracer

        tracer = QueryTracer(spark)

    # Warm-up: the first run of each query builds and memoizes its plan
    # (registry.build_s) and pays codegen, eager sub-jobs and Python
    # worker start-up. Fixed order, so set-up does not depend on the seed.
    memo, rows = {}, {}
    for q in QUERIES:
        run.attempted += 1
        try:
            t0 = time.perf_counter()
            df = registry[q].fn(spark, sf_dir)
            t1 = time.perf_counter()
            rows[q] = df.toArrow().num_rows
            t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
            run.fail(q, e)
            continue
        memo[q] = df
        run.layers["registry.build_s"] += t1 - t0
        run.layers[f"queries.{q}_first_s"] = t2 - t0
    names = list(memo)

    def execute(q: str):
        """One timed run of query q: (DataFrame, seconds), or None if it
        raised. Row counts must match the first run."""
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            df = registry[q].fn(spark, sf_dir)
            n = df.toArrow().num_rows
        except Exception as e:  # noqa: BLE001
            run.fail(q, e)
            return None
        dt_ = time.perf_counter() - t0
        if n != rows[q]:
            run.fail(q, f"{n} rows, first run gave {rows[q]}")
        return df, dt_

    # Correctness, outside every timed region: each result against its
    # DuckDB oracle, rows-only queries by row count.
    t0 = time.perf_counter()
    con = duck_connection(sf_dir)
    checks = {}
    for q in memo:
        run.attempted += 1
        res = check_query(q, registry[q], spark, con, sf_dir)
        checks[q] = res["status"]
        ok = res["status"] == "ok" or (
            res["status"] == "ok-rows-only" and q in ROWS_ONLY and rows[q] == ROWS_ONLY[q]
        )
        if not ok:
            run.fail(f"check {q}", f"{res['status']} {res['detail']} rows={rows[q]}")
    con.close()
    check_s = time.perf_counter() - t0
    run.report["check_s"] = check_s
    run.report["checks"] = checks

    # The check pass and these finish warm-up.
    for _ in range(WARM_PASSES):
        for q in names:
            execute(q)
    run.e2e["setup_s"] = time.perf_counter() - run.t_start - check_s

    # Measured window: whole passes over the suite, each in a seeded
    # order, until --seconds have elapsed.
    order_rng = random.Random(args.seed)
    lat: dict[str, list[float]] = {q: [] for q in names}
    passes: list[float] = []
    t_end = time.perf_counter() + args.seconds
    t_window = time.perf_counter()
    while not passes or time.perf_counter() < t_end:
        pass_s = 0.0
        for q in order_rng.sample(names, len(names)):
            group = tracer.begin(q) if tracer else None
            w0 = time.time()
            res = execute(q)
            w1 = time.time()
            if res is None:
                continue
            df, dt_ = res
            lat[q].append(dt_)
            pass_s += dt_
            run.layers["registry.memo_hits"] += df is memo[q]
            if tracer:
                c = tracer.end(group, df, w0, w1)
                for k, _ in _QUERY_LAYER:
                    run.layers[f"queries.{k}"] += c[k]
                run.layers["io.scan_s"] += c["scan_s"]
                run.layers["io.input_bytes"] += c["input_bytes"]
                run.layers["functions.python_s"] += c["python_s"]
                run.layers["functions.python_bytes"] += c["python_bytes"]
                run.layers["trace.unattributed_s"] += c["unattributed_s"]
        # The sum of the pass's query latencies, so a traced pass leaves
        # out the tracer's reads between queries.
        passes.append(pass_s)
    window = time.perf_counter() - t_window

    samples = [x for v in lat.values() for x in v]
    query_p50 = {q: statistics.median(v) for q, v in lat.items() if v}
    # A pass with every query at its median latency: one slow run of a
    # query moves its median, not the whole pass it fell in.
    run.e2e["round_s"] = sum(query_p50.values())
    run.report.update(
        throughput_per_s=len(samples) / window,
        pass_s=passes,
        op_samples=len(samples),
        op_p50_s=statistics.median(samples),
        op_tail=tail(samples),
        rows=rows,
        query_p50_s=query_p50,
    )
    # Per-layer values are per pass (counters) or per-query medians.
    for k in list(run.layers):
        if k.startswith(("queries.", "io.", "functions.", "registry.memo", "trace.")) and not k.endswith("_first_s"):
            run.layers[k] /= len(passes)
    for q, v in query_p50.items():
        run.layers[f"queries.{q}_s"] = v
    if tracer:
        run.layers["trace.round_s"] = run.e2e["round_s"]
        run.layers["trace.self_s"] = tracer.self_s / len(samples)


def cdc_catchup(run: Run) -> None:
    import duckdb

    from hbase_sep_spark.sources.sep_events import feed_total
    from hbase_sep_spark.streaming.subscription import SepSubscription
    from perfbench import feed

    args, spark = run.args, run.spark
    feed_dir = os.path.join(run.work, "feed")
    sink_dir = os.path.join(run.work, "sink")
    os.makedirs(feed_dir)
    # A backlog of four segments for the first resume, which is set-up:
    # it warms the streaming path. After a one-segment first resume the
    # next catch-ups took 5-8 s instead of ~3.3 s.
    injected = 0
    index = 0
    for index in range(4):
        injected += feed.append(feed_dir, args.seed, index)[1]

    sub = SepSubscription(spark, "perfbench", feed_dir, root=os.path.join(run.work, "subscriptions"))
    epochs: set[int] = set()
    listener_s = [0.0]

    def listener(batch_df, epoch: int) -> None:
        # Idempotent epoch-keyed sink: a replayed epoch overwrites itself.
        t0 = time.perf_counter()
        batch_df.write.mode("overwrite").parquet(os.path.join(sink_dir, f"epoch={epoch:08d}"))
        epochs.add(epoch)
        listener_s[0] += time.perf_counter() - t0

    def dedup(df):
        return df.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["event_id"])

    from perfbench.trace import progress_counters

    def resume() -> dict:
        """Start the subscription, drain the feed, stop it."""
        listener_s[0] = 0.0
        t0 = time.perf_counter()
        q = sub.start(listener, dedup)
        try:
            t1 = time.perf_counter()
            q.processAllAvailable()
            prog = progress_counters(q) if args.trace else Counter()
        finally:
            t2 = time.perf_counter()
            q.stop()
            t3 = time.perf_counter()
        return {"start_s": t1 - t0, "stop_s": t3 - t2, "listener_s": listener_s[0], "progress": prog}

    run.attempted += 1
    try:
        resume()
    except Exception as e:  # noqa: BLE001
        run.fail("first resume", e)
    run.e2e["setup_s"] = time.perf_counter() - run.t_start

    catchups, cycles, delivered, per = [], [], 0, []
    t_end = time.perf_counter() + args.seconds
    while not catchups or time.perf_counter() < t_end:
        index += 1
        t_cycle = time.perf_counter()
        rows, dups = feed.append(feed_dir, args.seed, index)
        t_land = time.perf_counter()
        injected += dups
        run.attempted += 1
        try:
            r = resume()
        except Exception as e:  # noqa: BLE001
            run.fail(f"resume {index}", e)
            continue
        t_done = time.perf_counter()
        catchups.append(t_done - t_land)
        cycles.append(t_done - t_cycle)
        delivered += rows - dups
        if args.trace:
            t0 = time.perf_counter()
            feed_total(feed_dir)
            r["feed_total_s"] = time.perf_counter() - t0
        per.append(r)

    # Audit the sink: exactly the feed's distinct events per type, no
    # duplicates, no missing epoch.
    run.attempted += 1
    con = duckdb.connect()
    fsrc = f"read_parquet('{feed_dir}/*.parquet')"
    ssrc = f"read_parquet('{sink_dir}/*/*.parquet')"
    want = dict(con.execute(f"SELECT event_type, count(DISTINCT event_id) FROM {fsrc} GROUP BY 1").fetchall())
    got = dict(con.execute(f"SELECT event_type, count(*) FROM {ssrc} GROUP BY 1").fetchall())
    sink_rows, sink_ids = con.execute(f"SELECT count(*), count(DISTINCT event_id) FROM {ssrc}").fetchone()
    con.close()
    total = feed_total(feed_dir)
    dedup_ratio = (total - sink_rows) / injected if injected else 1.0
    problems = []
    if got != want:
        problems.append(f"per-type counts {got} != feed distinct {want}")
    if sink_rows != sink_ids:
        problems.append(f"{sink_rows - sink_ids} duplicate rows delivered")
    if sorted(epochs) != list(range(len(epochs))):
        problems.append(f"epochs not contiguous: {sorted(epochs)}")
    if dedup_ratio != 1.0:
        problems.append(f"dedup ratio {dedup_ratio}")
    if problems:
        run.fail("sink audit", "; ".join(problems))

    if not catchups:
        raise SystemExit("perfbench: no catch-up completed")
    run.e2e["round_s"] = statistics.median(cycles)
    run.report.update(
        throughput_per_s=delivered / sum(catchups),
        catchup_s=catchups,
        op_samples=len(catchups),
        op_p50_s=statistics.median(catchups),
        op_tail=tail(catchups),
        feed_rows=total,
        injected_duplicates=injected,
        epochs=len(epochs),
    )
    if args.trace:
        def med(f):
            return statistics.median(f(r) for r in per)

        pc = lambda key: med(lambda r: r["progress"][key])  # noqa: E731
        run.layers.update(
            {
                "sources.feed_total_s": med(lambda r: r["feed_total_s"]),
                "sources.latest_offset_ms": pc("latestOffset_ms"),
                "sources.get_batch_ms": pc("getBatch_ms"),
                "sources.rows": pc("rows"),
                "streaming.batches": pc("batches"),
                "streaming.planning_ms": pc("queryPlanning_ms"),
                "streaming.add_batch_ms": pc("addBatch_ms"),
                "streaming.wal_commit_ms": pc("walCommit_ms"),
                "streaming.commit_offsets_ms": pc("commitOffsets_ms"),
                "streaming.state_rows": pc("state_rows"),
                "streaming.state_bytes": pc("state_bytes"),
                "streaming.state_commit_ms": pc("state_commit_ms"),
                "streaming.dedup_ratio": dedup_ratio,
                "subscription.start_s": med(lambda r: r["start_s"]),
                "subscription.stop_s": med(lambda r: r["stop_s"]),
                "subscription.listener_s": med(lambda r: r["listener_s"]),
                "trace.round_s": run.e2e["round_s"],
            }
        )


# -- process set-up and shutdown -----------------------------------------


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and run on
    local[nproc] unless SPARK_GRAFT_CPUS says otherwise."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM, and wait for every process this run
    started to end."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while any(_alive(p) for p in tree) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in tree:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "hbase_sep_spark", "__init__.py")):
        print("perfbench: run from the repository root (hbase_sep_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "analytics_warm":
        validate(SF_DIR)

    work = os.path.join(ROOT, ".bench_build", "perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)
    run = None
    try:
        run = Run(args, work)
        if args.workload == "analytics_warm":
            run.report["sf_dir"] = os.path.relpath(SF_DIR, ROOT)
            analytics_warm(run, SF_DIR)
        else:
            cdc_catchup(run)
        run.report["peak_rss_mb"] = peak_rss_bytes() / 2**20
    finally:
        if run is not None:
            _shutdown(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    run.report["loadavg_1m_end"] = os.getloadavg()[0]
    steal, total = cpu_steal()
    # Share of this machine's CPU time the hypervisor gave to other
    # guests during the run: contention the run cannot see otherwise.
    run.report["steal_share"] = (steal - run.steal0[0]) / max(1, total - run.steal0[1])

    chosen = PER_LAYER if args.trace else END_TO_END
    values = run.layers if args.trace else run.e2e
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in chosen.items()}
    print(json.dumps({"perfbench": run.report}, default=str))
    print(
        json.dumps(
            {"correct": run.correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
