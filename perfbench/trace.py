"""Per-layer readers over Spark's own instruments, used only by traced
runs: job groups + the status store for stage metrics, the executed
plan for SQL metrics, and StreamingQuery progress for micro-batches.

Everything here reads public or py4j-reachable JVM state from outside
the package; nothing inside hbase_sep_spark is patched.
"""

from __future__ import annotations

import json
import time
from collections import Counter

from py4j.protocol import Py4JJavaError

# SQL metric names folded into layers (summed over plan nodes): scan
# time, and Python worker boot + init + evaluation time and bytes.
_SCAN_TIME = {"scanTime"}
_PY_TIME = {"pythonBootTime", "pythonInitTime", "pythonTotalTime"}
_PY_BYTES = {"pythonDataSent", "pythonDataReceived"}


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class QueryTracer:
    """Tags each query with its own job group and, after it finishes,
    reads the stage metrics of that group's jobs and the non-zero SQL
    metrics of its executed plan. `self_s` is the time spent in these
    reads — the tracer's own cost."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._tracker = self.sc.statusTracker()
        self._n = 0
        self.self_s = 0.0

    def begin(self, label: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(group, label)
        return group

    def end(self, group: str, df, wall0: float, wall1: float) -> Counter:
        """Layer counters for the finished run of `df` tagged `group`.
        wall0/wall1 are time.time() stamps around it, so stage times
        (epoch ms) line up with them."""
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty(10_000)
        c = Counter()
        spans = []
        for jid in self._tracker.getJobIdsForGroup(group):
            c["jobs"] += 1
            info = self._tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                c["tasks"] += st.numTasks()
                c["task_s"] += st.executorRunTime() / 1e3
                c["task_cpu_s"] += st.executorCpuTime() / 1e9
                c["gc_s"] += st.jvmGcTime() / 1e3
                c["input_bytes"] += st.inputBytes()
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                c["result_bytes"] += st.resultSize()
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        span = _union_length(spans, wall0, wall1)
        c["stage_span_s"] += span
        # Stage time outside the query's own wall window: ~0 when job
        # groups and clocks attribute stages correctly.
        c["unattributed_s"] += _union_length(spans, float("-inf"), float("inf")) - span
        c["driver_s"] += max(0.0, (wall1 - wall0) - span)
        c["wall_s"] += wall1 - wall0
        for name, kind, value in plan_metrics(df):
            secs = value / 1e3 if kind == "timing" else value / 1e9 if kind == "nsTiming" else None
            if name in _SCAN_TIME and secs is not None:
                c["scan_s"] += secs
            elif name in _PY_TIME and secs is not None:
                c["python_s"] += secs
            elif name in _PY_BYTES:
                c["python_bytes"] += value
        self.self_s += time.perf_counter() - t0
        return c


def _union_length(spans, lo: float, hi: float) -> float:
    """Length of the union of [start, end] intervals clipped to
    [lo, hi]: the wall time during which at least one stage ran."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def plan_metrics(df) -> list[tuple[str, str, int]]:
    """(metric name, metric type, value) for every non-zero SQL metric
    of the plan nodes that the DataFrame's last run executed.

    Once a memoized DataFrame has run, the shuffle and broadcast stages
    of its adaptive plan are materialized: later runs skip them, and
    their nodes keep the metrics of the run that built them. So the
    walk stops at materialized query stages and reused exchanges. The
    nodes it reaches run again each time, and the metrics read here
    (scan time, Python worker time and bytes) hold that run's values,
    not a running total. Not valid for a DataFrame's first run."""
    out = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        stage = cls.endswith("QueryStageExec")
        if cls.startswith("ReusedExchange") or (stage and node.isMaterialized()):
            continue
        for kv in _scala_iter(node.metrics()):
            m = kv._2()
            if m.value():
                out.append((kv._1(), m.metricType(), m.value()))
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif stage:
            stack.append(node.plan())
        stack.extend(_scala_iter(node.children()))
        stack.extend(_scala_iter(node.subqueries()))
    return out


def progress_counters(query) -> Counter:
    """Fold a StreamingQuery's recentProgress (read before stop()) into
    per-batch sums: trigger phase durations, rows read, state store
    size and commit time."""
    c = Counter()
    for p in query.recentProgress:
        d = json.loads(p.json) if hasattr(p, "json") else p
        c["batches"] += 1
        dur = d.get("durationMs", {})
        for key in ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets"):
            c[key + "_ms"] += dur.get(key, 0)
        c["rows"] += d.get("numInputRows", 0)
        for op in d.get("stateOperators", []):
            c["state_rows"] = op.get("numRowsTotal", 0)
            c["state_bytes"] = op.get("memoryUsedBytes", 0)
            c["state_commit_ms"] += op.get("commitTimeMs", 0)
    return c
