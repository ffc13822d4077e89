#!/usr/bin/env python
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Protocol (BASELINE.md): one shared SparkSession; the WHOLE suite is
warmed twice up front (plan analysis, codegen, Arrow Python workers,
JIT), then each query gets 3 timed runs, median recorded; timing
covers full materialization (df.toArrow()); JVM/session startup
excluded.

  --duckdb   also time the DuckDB oracle per query (baseline capture)
  --runs N   timed runs per query (default 3)
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per operator family, all with bounded outputs so
# timing measures the plan, not result shipping.
HEADLINE = [
    "agg_groupby_basic",      # TPC-H Q1: scan + hash agg
    "agg_cube",               # grouping-set expansion
    "agg_median_percentile",  # exact percentile (sort-heavy)
    "select_distinct",        # distinct projection
    "filter_range_between",   # pushed-down scan predicate
    "join_inner_shuffle",     # fact⋈fact shuffle join + agg
    "join_shuffle_hash_hint", # same shape, hint-forced shuffled-hash
    "join_multiway_star",     # 5-way star join
    "join_asof_latest_event", # union+window as-of
    "join_bloom_prefilter",   # bloom-prefiltered semi-join + agg
    "events_latest_per_key",  # window top-1 per key
    "win_running_sum",        # cumulative window
    "topk_per_group",         # per-group top-k
    "limit_topn",             # global top-k
    "text_tokenize_wordcount",# explode + agg
    "dedup_exact_docs",       # digest groupBy
    "dedup_minhash_near",     # MinHash+LSH (no oracle timing)
    "simsearch_cosine_topk",  # vector dot-product scan
    "udf_pandas_vectorized",  # Arrow UDF path
    "simsearch_lsh_bucketed", # multi-table LSH ANN (no oracle timing)
    "vec_pca_project",        # partial-moment PCA (no oracle timing)
    "pipeline_training_prep", # end-to-end dedup+filter+shard pipeline
    "graph_pagerank",         # iterative graph (cached edges, 3 rounds)
    "ts_daily_gapfill_ffill", # calendar densify + forward-fill window
    "agg_cms_freq_sketch",    # declarative count-min sketch
    "tpch_q21_waiting_suppliers",  # EXISTS+NOT-EXISTS double decorrelation
    "graph_bfs_levels",       # iterative frontier BFS vs recursive CTE
]


def _table_bytes(sf_dir: str) -> int:
    """Parquet bytes of the REGISTRY'S tables only (VERDICT-r13 item
    7): the old recursive sf_dir walk summed every .parquet under the
    fixture root, so a regeneration that ships extra parquet (scratch,
    landing dirs, decoys) would silently inflate the derived shuffle
    count. Each table is either a single `<name>.parquet` file or a
    directory of part files (the round-9 physical-layout class).
    Raises when no table bytes are found, naming the path, so a wrong
    $SPARK_GRAFT_SF_DIR fails loudly instead of deriving the floor."""
    from hbase_sep_spark.io import TABLES

    total = 0
    for name in TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isfile(p):
            total += os.path.getsize(p)
        elif os.path.isdir(p):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(p)
                for f in files
                if f.endswith(".parquet")
            )
    if total == 0:
        raise FileNotFoundError(f"no registry table parquet under {sf_dir}")
    return total


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--duckdb", action="store_true")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--queries", nargs="*", default=None)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load_at_start = os.getloadavg()[0]
    from hbase_sep_spark.registry import load_all

    registry = load_all()
    names = args.queries or [n for n in HEADLINE if n in registry]

    times: dict[str, float] = {}
    duck_times: dict[str, float] = {}

    # DuckDB phase FIRST, before the JVM exists: a live local[32]
    # Spark session contends for cores and inflates the baseline up
    # to ~8x (measured) — the baseline must be uncontended.
    if args.duckdb:
        from tests.harness import duck_connection

        con = duck_connection(sf_dir)
        for name in names:
            sql = registry[name].oracle
            if sql is None:
                continue
            con.execute(sql).arrow()  # warm
            samples = []
            for _ in range(args.runs):
                t0 = time.perf_counter()
                con.execute(sql).arrow()
                samples.append(time.perf_counter() - t0)
            duck_times[name] = round(statistics.median(samples), 4)
        con.close()

    from hbase_sep_spark.session import cpus, get_spark

    # Shuffle partitions: $SPARK_GRAFT_SHUFFLE wins if set; otherwise
    # DERIVED from input size (round 13, guide §2.2) — one partition
    # per 32 MB of parquet input, floored at 8 and capped at the core
    # count. At sf0.1 (~30 MB) this evaluates to the same 8 every
    # prior capture used (shuffle blocks stay ~MB, task-scheduling
    # overhead stays off the measurement — the driver's bench is
    # bit-comparable), while 100× inputs get the cores they can use:
    # the fixed 8 was a local-mode constant that halved sf10 throughput
    # board-wide (A/B in BENCH_local_r13_shj_ab.json / OPTIMIZATION_
    # r13.md). AQE still coalesces below the derived count at runtime.
    # At cluster scale this knob comes from the cluster conf.
    env_shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE")
    if env_shuffle is not None:
        shuffle = int(env_shuffle)
    else:
        shuffle = max(8, min(cpus(), _table_bytes(sf_dir) // (32 << 20)))
    spark = get_spark("bench", shuffle_partitions=shuffle)

    # Warm the whole suite twice before any timing: first pass pays
    # Catalyst analysis + Janino codegen + Arrow Python worker spawn,
    # second pass lets the JVM JIT the generated code. Interleaving
    # warm-up with timing (the old protocol) let late queries get
    # timed while the JVM was still compiling earlier ones.
    for _ in range(2):
        for name in names:
            registry[name].fn(spark, sf_dir).toArrow()

    for name in names:
        fn = registry[name].fn
        samples = []
        for _ in range(args.runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).toArrow()
            samples.append(time.perf_counter() - t0)
        times[name] = round(statistics.median(samples), 4)

    result = {
        "metric": "headline_median_total",
        "value": round(sum(times.values()), 4),
        "unit": "sec",
        "queries": times,
        "sf": _sf_from_dir(sf_dir),
        # 1-minute load average at capture start: both legs inflate
        # ~12% when a capture follows the verification sweeps without
        # an idle gap (BASELINE.md round-10 protocol note) — this
        # field makes band conditions visible in the artifact.
        "loadavg_1m_at_start": round(load_at_start, 2),
    }
    if duck_times:
        result["duckdb_queries"] = duck_times
        result["duckdb_total"] = round(sum(duck_times.values()), 4)
        # ratio_vs_duckdb is computed on the COMMON SET — queries with
        # oracles on both engines (protocol note 2 in BASELINE.md:
        # no-oracle queries are included in `value` but excluded from
        # the ratio, since they have no DuckDB counterpart to divide
        # by). `common_set` makes that numerator/denominator explicit
        # in the artifact so the ratio reproduces from this file alone
        # — dividing the full `value` by `duckdb_total` instead mixes
        # no-oracle Spark time into the numerator only (the round-11
        # VERDICT arithmetic divergence).
        common = [n for n in times if n in duck_times]
        common_spark = round(sum(times[n] for n in common), 4)
        result["common_set"] = {
            "n_queries": len(common),
            "spark_total": common_spark,
            "duckdb_total": result["duckdb_total"],
        }
        result["ratio_vs_duckdb"] = round(
            common_spark / max(result["duckdb_total"], 1e-9), 3
        )
    print(json.dumps(result))


if __name__ == "__main__":
    main()
