#!/usr/bin/env python
"""Plan audit: capture `explain('formatted')` for every registered
BATCH query and summarize the plan shapes worth checking: Exchange
count, join strategy nodes, Python-boundary nodes (BatchEvalPython vs
ArrowEvalPython / MapInPandas / MapInArrow / FlatMapGroupsInPandas),
PushedFilters reaching the scan, and CartesianProduct /
BroadcastNestedLoopJoin appearances.

Usage:
  python scripts/audit_plans.py [--sf DIR] [--out DIR] [names...]

Writes one `<name>.txt` per query under --out (default
plans/, where the explains are git-ignored) plus an
`AUDIT_SUMMARY.tsv` with the per-query metrics. The committed
plans/AUDIT_SUMMARY.tsv (all batch queries at sf0.01) is the baseline
to diff a plan-changing commit against. Streaming `stream_*` queries
are SKIPPED: their registered fn replays the stream to completion and
returns a memory-sink batch frame, so its explain is a
LocalTableScan.

Plans are built from each query's UNMEMOIZED `raw` builder so the
capture shows the fresh pre-execution plan (`AdaptiveSparkPlan
isFinalPlan=false`), matching what tests/test_plans.py pins.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Nodes whose presence (or count) the guide flags.
JOIN_NODES = [
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "SortMergeJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
]
PY_NODES = [
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "PythonUDTF",
]


def explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def summarize(plan: str) -> dict:
    counts = {}
    # "Exchange" matches both the node list and the details section;
    # count only the numbered-operator lines ("(n) Exchange").
    counts["exchanges"] = len(re.findall(r"\(\d+\) Exchange", plan))
    for node in JOIN_NODES + PY_NODES:
        n = len(re.findall(rf"\(\d+\) {node}", plan))
        if n:
            counts[node] = n
    counts["pushed_filters"] = len(
        re.findall(r"PushedFilters: \[(?!\])", plan)
    )
    counts["scans"] = len(re.findall(r"\(\d+\) Scan parquet", plan))
    return counts


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--out", default="plans")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from hbase_sep_spark.registry import load_all
    from hbase_sep_spark.session import get_spark

    registry = load_all()
    names = args.names or [n for n in registry if not n.startswith("stream_")]
    os.makedirs(args.out, exist_ok=True)

    spark = get_spark("plan-audit")
    rows = []
    for name in names:
        q = registry[name]
        if q.raw is None:
            continue
        spark.sparkContext.setJobDescription(f"plan-audit: {name}")
        try:
            df = q.raw(spark, args.sf)
            plan = explain_str(df)
        except Exception as exc:  # pragma: no cover - audit tool
            plan = f"ERROR building plan: {exc!r}\n"
        with open(os.path.join(args.out, f"{name}.txt"), "w") as fh:
            fh.write(plan)
        s = summarize(plan)
        rows.append((name, s))
        print(f"{name}\t{s}")

    with open(os.path.join(args.out, "AUDIT_SUMMARY.tsv"), "w") as fh:
        fh.write("query\texchanges\tscans\tpushed_filter_scans\tjoins\tpython_nodes\n")
        for name, s in rows:
            joins = ",".join(f"{k}x{s[k]}" for k in JOIN_NODES if k in s) or "-"
            py = ",".join(f"{k}x{s[k]}" for k in PY_NODES if k in s) or "-"
            fh.write(
                f"{name}\t{s['exchanges']}\t{s['scans']}\t{s['pushed_filters']}\t{joins}\t{py}\n"
            )
    print(f"\nwrote {len(rows)} plans to {args.out}")


if __name__ == "__main__":
    main()
