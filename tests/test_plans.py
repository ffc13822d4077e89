"""Physical-plan audits (the 100 TB posture, SURVEY §4).

Correctness says the operator computes the right rows; these tests
pin HOW: predicates/projections reach the parquet scan, small dims
broadcast instead of shuffling, top-k avoids global sorts, window
top-k gets the group-limit pushdown. A regression here is a silent
10-100× cliff at scale even though results stay correct.

Runs at sf0.001 (plan shape is SF-invariant).
"""

from __future__ import annotations

import pytest

from hbase_sep_spark.registry import load_all
from tests.conftest import SF_UNIT

REGISTRY = load_all()


def plan_of(spark, name: str) -> str:
    # Build from the RAW (un-memoized) fn: a memoized DataFrame that
    # another test already executed shows its FINAL AQE-adapted plan,
    # which breaks pre-execution shape assertions.
    q = REGISTRY[name]
    df = (q.raw or q.fn)(spark, SF_UNIT)
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_and_column_pruning(spark):
    plan = plan_of(spark, "filter_eq")
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)]" in plan
    # Projection pruned to the 3 selected columns at the scan.
    assert "c_acctbal" not in plan


def test_range_predicates_push_to_scan(spark):
    plan = plan_of(spark, "filter_range_between")
    assert "GreaterThanOrEqual(l_quantity,10.0)" in plan
    assert "LessThanOrEqual(l_quantity,20.0)" in plan


def test_dim_join_broadcasts(spark):
    plan = plan_of(spark, "join_inner_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_star_join_broadcasts_all_dims(spark):
    plan = plan_of(spark, "join_multiway_star")
    # All dims broadcast (at sf0.001 AQE broadcasts the fact joins
    # too); the invariant is: equi-joins only, never sort-merge of a
    # dim, never a nested loop.
    assert plan.count("BroadcastHashJoin") >= 3
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_theta_join_broadcasts_small_side(spark):
    plan = plan_of(spark, "join_theta_range")
    assert "BroadcastNestedLoopJoin" in plan


def test_global_topk_avoids_full_sort(spark):
    plan = plan_of(spark, "limit_topn")
    assert "TakeOrderedAndProject" in plan
    # No global Sort node (TakeOrdered keeps per-partition heaps).
    assert "Exchange rangepartitioning" not in plan


def test_group_topk_gets_window_group_limit(spark):
    plan = plan_of(spark, "topk_per_group")
    assert "WindowGroupLimit" in plan


def test_aggregate_is_partial_then_final(spark):
    plan = plan_of(spark, "agg_groupby_basic")
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "hashpartitioning(l_returnflag" in plan  # shuffle on group keys only


def test_semi_anti_joins_stay_joins(spark):
    assert "LeftSemi" in plan_of(spark, "join_left_semi")
    assert "LeftAnti" in plan_of(spark, "join_left_anti")


def test_no_cartesian_in_knn(spark):
    """kNN join must broadcast the probe side, never cartesian the
    corpus."""
    plan = plan_of(spark, "simsearch_knn_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_whole_stage_codegen_covers_scan_pipelines(spark):
    """The hot scan→project→filter path runs inside codegen."""
    plan = plan_of(spark, "project_alias")
    assert "codegen id" in plan  # formatted mode marks codegen spans per node


@pytest.mark.parametrize(
    "name",
    ["agg_groupby_basic", "join_multiway_star", "dedup_exact_docs", "text_tfidf"],
)
def test_no_driver_side_collect_in_plan(spark, name):
    """Operators must stay distributed: building the DataFrame never
    triggers a job (no .collect() in any query constructor)."""
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    REGISTRY[name].fn(spark, SF_UNIT)  # build plan only, no action
    after = tracker.getJobIdsForGroup(None)
    # File-index listing may run a tiny job per table scanned; a real
    # collect() leaks many more (one per shuffle stage).
    assert len(after) - len(before) <= 6


def test_bucketed_table_join_skips_shuffle(spark):
    """The bucketed write (bucketBy l_orderkey) must let the per-order
    aggregation read pre-partitioned buckets — no Exchange on
    l_orderkey below the aggregate."""
    plan = plan_of(spark, "sink_bucketed_join")
    assert "Bucketed: true" in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan


def test_partitioned_sink_read_prunes_partitions(spark):
    """The date-partitioned layout must prune at the source: the
    two-day read lists only the two matching event_date directories
    (PartitionFilters on the scan, not a post-scan Filter over all
    30 days)."""
    plan = plan_of(spark, "sink_partitioned_prune")
    assert "PartitionFilters" in plan
    assert "event_date" in plan.split("PartitionFilters", 1)[1][:400]


def test_range_binned_join_is_equi(spark):
    """The binned range join must plan as an equi join on the bin key
    (hash or sort-merge) — never a nested loop: that's the whole point
    of the binning."""
    plan = plan_of(spark, "join_range_binned")
    assert "NestedLoop" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)


def test_dpp_join_prunes_fact_partitions(spark):
    """The date-dim join must prune the partitioned fact at RUNTIME:
    Catalyst injects the filtered dim's keys as a dynamicpruning
    subquery in the fact scan's PartitionFilters. Without it the scan
    reads all 30 day-directories to answer a 3-day question."""
    plan = plan_of(spark, "join_dpp_partition_prune")
    assert "dynamicpruning" in plan
    seg = plan.split("PartitionFilters", 1)[1][:300]
    assert "dynamicpruning" in seg


def test_bootstrap_snapshot_pushes_seam_predicate(spark):
    """The late-joiner bootstrap snapshot must be a PREDICATE scan,
    not a global sort+limit: the seam boundary (ts, event_id) tuple
    reaches the parquet source as PushedFilters on the raw int64-ns
    column, and no global Sort/Limit feeds the snapshot side."""
    plan = plan_of(spark, "stream_bootstrap_then_tail")
    pushed = [seg[:400] for seg in plan.split("PushedFilters: ")[1:]]
    assert any("LessThan(ts," in seg and "LessThan(event_id," in seg for seg in pushed), pushed
    assert "TakeOrderedAndProject" not in plan
    assert "GlobalLimit" not in plan


def test_sessionize_is_single_shuffle(spark):
    """Batch sessionization: both windows and the final aggregate
    share the user_id partitioning — exactly ONE Exchange in the
    plan. A second shuffle here would double the cost of sessionizing
    a 100 TB event log."""
    import re

    plan = plan_of(spark, "win_sessionize_batch")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_asof_latest_single_exchange(spark):
    """Round-9 plan fix (VERDICT-r8 item 4): the as-of union+window
    resolves exact-ts click ties INSIDE the one window sort (event_id
    tiebreak) instead of a pre-dedup groupBy(user_id, ts), so the
    whole query is scan -> Union -> ONE Exchange(user_id) -> ONE Sort
    -> Window. A second exchange here was the structural floor that
    kept this query >2x DuckDB at 10x scale."""
    import re

    plan = plan_of(spark, "join_asof_latest_event")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "HashAggregate" not in plan, "click pre-dedup agg reappeared"


def test_training_prep_never_shuffles_text(spark):
    """The prep pipeline drops the text column before anything
    shuffles: every Exchange's input schema must be text-free (only
    the 32-byte digest and the small scored columns move)."""
    import re

    plan = plan_of(spark, "pipeline_training_prep")
    blocks = re.split(r"\(\d+\) ", plan)
    exchange_blocks = [b for b in blocks if b.startswith("Exchange")]
    assert exchange_blocks
    for b in exchange_blocks:
        assert "text#" not in b, b[:300]


def test_sequence_pack_is_single_shuffle(spark):
    """Packing shuffles exactly once (the per-shard window); token
    counting and pack arithmetic stay in the scan pipeline."""
    import re

    plan = plan_of(spark, "pipeline_sequence_pack")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_funnel_shares_sessionize_partitioning(spark):
    """Funnel = sessionize windows + stage aggregate on the same
    user_id partitioning + one tiny global rollup: exactly 2
    exchanges (user_id hash, then single-partition final agg)."""
    import re

    plan = plan_of(spark, "win_funnel_conversion")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2


def test_asof_tolerance_is_windowed_not_joined(spark):
    """The tolerance as-of must keep the union+window shape: no join
    operator at all, and only the dedup aggregate + window shuffles."""
    import re

    plan = plan_of(spark, "join_asof_tolerance")
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_contamination_broadcasts_benchmark_side(spark):
    """The benchmark shingle set must broadcast into the corpus scan —
    never a shuffled or nested-loop join against the corpus."""
    plan = plan_of(spark, "text_contamination_check")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_centroid_distance_broadcasts_centroids(spark):
    """The corpus side must take the centroid table as a BROADCAST
    (labels × dim is tiny); the embedding array itself never shuffles
    — the only exchanges belong to the centroid stats pass (explode +
    partial-combined avg) and its array fold."""
    plan = plan_of(spark, "vec_centroid_distance")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_streak_single_user_partitioning(spark):
    """Gaps-and-islands shares ONE user_id(-superset) exchange across
    the distinct, the window, and both aggregates: ≤2 exchanges total
    (the (user_id, day) distinct hash, then the user_id window; the
    island aggregates reuse the window partitioning)."""
    import re

    plan = plan_of(spark, "win_streak_longest")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_mixture_sample_is_scan_predicate(spark):
    """The keep decision is per-row arithmetic in the scan stage; the
    only exchange is the tiny per-lang report aggregate."""
    import re

    plan = plan_of(spark, "pipeline_mixture_sample")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Join" not in plan


def test_keep_best_single_digest_shuffle(spark):
    """Both windows (count + row_number) share the sha256-digest
    partitioning: exactly 1 exchange, and the text column is pruned
    away right after the digest projection (never shuffled)."""
    import re

    plan = plan_of(spark, "dedup_keep_best")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_pagerank_caches_edges_no_cartesian(spark):
    """The iteration chain must consume the PERSISTED weighted edge
    table (InMemoryTableScan), not re-derive the distinct+degree
    subtree per iteration (22 parquet scans, measured pre-fix); the
    only nested-loop joins are the broadcast 1-row graph-size scalar.
    Asserted on the PRE-checkpoint plan via _pagerank_iterate — the
    registered query eagerly checkpoints the result and releases the
    edges (VERDICT-r13 item 1), so its own plan is a checkpoint scan."""
    from hbase_sep_spark.queries.advanced_analytics import _pagerank_iterate

    final, ew = _pagerank_iterate(spark, SF_UNIT)
    try:
        jvm = spark.sparkContext._jvm
        plan = jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            final._jdf.queryExecution(), "formatted"
        )
        assert "InMemoryTableScan" in plan
        assert "CartesianProduct" not in plan
    finally:
        ew.unpersist()


def test_pagerank_releases_edges_and_checkpoints(spark):
    """VERDICT-r13 item 1: graph_pagerank must NOT leave its edge
    table pinned in executor storage for the rest of the session (at
    sf10 that persist was the direct cause of the SHJ hash-build OOM).
    The registered query returns an eagerly-checkpointed rank table
    (lineage truncated to a checkpoint scan) and the edge persist is
    released before returning — no InMemoryTableScan survives in the
    returned plan, and the session's CacheManager holds nothing new."""
    from hbase_sep_spark.registry import REGISTRY

    before_empty = spark._jsparkSession.sharedState().cacheManager().isEmpty()
    q = REGISTRY["graph_pagerank"]
    df = (q.raw or q.fn)(spark, SF_UNIT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan[:400]
    assert "InMemoryTableScan" not in plan
    if before_empty:
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
            "graph_pagerank left a persisted table behind"
        )


def test_gapfill_two_shuffles_no_join(spark):
    """Calendar gap-fill: (user_id, day) daily aggregate + user_id
    window = exactly two Exchanges and ZERO joins — gap days are
    GENERATED from each daily row's lead(day) with sequence()+
    posexplode (round-11 rewrite: the old span+calendar LEFT JOIN
    spine was measured at +0.686 s / half the query at sf1,
    BASELINE.md, round-11 gap-fill resolution; nothing in this plan grows
    faster than the daily table)."""
    import re

    plan = plan_of(spark, "ts_daily_gapfill_ffill")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert "Join" not in plan
    # One window pass over the daily table, BEFORE the generator —
    # never over the (larger) densified output.
    assert plan.index("Window") > plan.index("Generate")


def test_interpolate_two_shuffles_no_join(spark):
    """Same generator shape as the gap-fill op (round-11): two
    Exchanges, zero joins, the single window pass BEFORE the gap-day
    generator (anchors computed on the daily table, never the
    densified output)."""
    import re

    plan = plan_of(spark, "ts_linear_interpolate")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert "Join" not in plan
    assert plan.index("Window") > plan.index("Generate")


def test_zscore_single_user_shuffle(spark):
    """Rolling z-score: one user_id Exchange serves the count/avg/
    stddev windows — O(1) frame state, no second pass."""
    import re

    plan = plan_of(spark, "ts_rolling_zscore")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_matryoshka_is_pure_scan(spark):
    """Prefix-norm audit is per-row codegen over the array column —
    ZERO shuffles, no join, no window."""
    import re

    plan = plan_of(spark, "vec_matryoshka_truncate")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0


def test_dataset_split_is_scan_side(spark):
    """The split label is a scan-side expression; the only Exchange
    is the 15-cell audit aggregate's."""
    import re

    plan = plan_of(spark, "pipeline_dataset_split")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Join" not in plan


def test_cms_sketch_joins_stay_hash(spark):
    """CMS: the keys→counters join is an equi-join on (i, bucket)
    against a 1024-row side — broadcast, never nested-loop."""
    plan = plan_of(spark, "agg_cms_freq_sketch")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_containment_join_is_blocked_equi(spark):
    """Containment candidates come from the (word, source) token
    equi-join inside blocks — never an all-pairs product."""
    plan = plan_of(spark, "dedup_containment_ngram")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_asof_nearest_single_window_no_join(spark):
    """Nearest-direction as-of: both candidates come from one shared
    union+window sort — no join OPERATOR anywhere in the plan (the
    DuckDB oracle needs two ASOF joins plus a re-join). Two
    exchanges: the click-dedup aggregate on (user_id, ts) and the
    window on user_id."""
    import re

    plan = plan_of(spark, "join_asof_nearest")
    assert not [m for m in re.findall(r"\(\d+\) \w+", plan) if "Join" in m]
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2


def test_weighted_avg_single_aggregate(spark):
    """One map-side-combinable aggregate; decimal partials shuffle."""
    import re

    plan = plan_of(spark, "agg_weighted_avg")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "partial" in plan.lower()


def test_pct_of_total_windows_aggregate_not_fact(spark):
    """The share-of-total window runs over the 25-row aggregate: the
    plan's window sits ABOVE the final HashAggregate, and the dims
    broadcast into the fact scan."""
    import re

    plan = plan_of(spark, "win_pct_of_total")
    joins = [m for m in re.findall(r"\(\d+\) \w+", plan) if "Join" in m]
    assert joins and all("BroadcastHashJoin" in j for j in joins)
    assert plan.index("Window") < plan.index("Scan parquet")


def test_net_changes_shares_one_user_partitioning(spark):
    """Both snapshots and the reconciliation join key on user_id; the
    boundary snapshot's ts predicate reaches the parquet scan."""
    plan = plan_of(spark, "events_cdc_net_changes")
    assert "PushedFilters" in plan
    assert "LessThan(ts" in plan


def test_pit_scd2_no_join_two_user_shuffles(spark):
    """PIT-SCD2: version effectivity AND the prevailing-version pick
    come from windows, never a join operator (the oracle needs a
    window + an ASOF join). Exactly two user_id exchanges: one shared
    by the same-ts dedup + lead() windows, one for the union window;
    the same-ts collapse added a window, not a shuffle (ADVICE r4)."""
    import re

    plan = plan_of(spark, "join_pit_scd2")
    assert not [m for m in re.findall(r"\(\d+\) \w+", plan) if "Join" in m]
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert len(re.findall(r"\(\d+\) Window", plan)) == 3


def test_running_distinct_one_shuffle_two_windows(spark):
    """Both window passes (first-occurrence flag, running sum) share
    one user_id hash partitioning: a single Exchange, two sorts —
    the oracle's (user_id, event_type) row_number form would cost a
    second shuffle."""
    import re

    plan = plan_of(spark, "win_running_distinct")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2


def test_interarrival_agg_reuses_window_partitioning(spark):
    """The lag() window and the per-user aggregate key identically:
    one Exchange total — the groupBy rides the window's partitioning
    instead of re-shuffling."""
    import re

    plan = plan_of(spark, "events_interarrival_stats")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_weekly_ohlc_single_partial_aggregate(spark):
    """OHLC resample is one aggregate with map-side partials BEFORE
    the exchange (min_by/max_by partials carry (value, key) pairs,
    not events); no join, no window."""
    import re

    plan = plan_of(spark, "ts_weekly_ohlc")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    ops = re.findall(r"\(\d+\) \w+", plan)
    assert not [m for m in ops if "Join" in m]
    # a partial aggregate precedes the single exchange
    first_exch = next(i for i, m in enumerate(ops) if "Exchange" in m)
    assert any("Aggregate" in m for m in ops[:first_exch])


def test_quality_gate_one_scan_one_aggregate(spark):
    """The whole report is one corpus scan + one global aggregate
    (1-row partial per mapper); the 4-row stack() pivot sits above
    the final aggregate, so nothing after the shuffle is data-sized."""
    import re

    plan = plan_of(spark, "pipeline_quality_gate_report")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert len(re.findall(r"\(\d+\) Scan", plan)) == 1
    assert "Generate" in plan


def test_offset_islands_no_global_data_window(spark):
    """Gaps-and-islands WITHOUT the oracle's single-partition global
    row_number: the only unpartitioned window runs over the
    bucket-cardinality aggregate (4096× smaller than the data), the
    per-row rank window partitions by bucket, and the bucket-offset
    table broadcasts back — no sort-merge join, no cartesian."""
    import re

    plan = plan_of(spark, "events_offset_islands")
    ops = re.findall(r"\(\d+\) \w+", plan)
    assert [m for m in ops if "Join" in m] == [m for m in ops if "BroadcastHashJoin" in m]
    assert len([m for m in ops if "BroadcastHashJoin" in m]) == 1
    assert len([m for m in ops if "Window" in m]) == 2
    # the unpartitioned (global) window consumes the bucket-count
    # aggregate: an Exchange+Sort directly after a HashAggregate pair
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_bitmap_distinct_two_partial_aggregates(spark):
    """Bitmap exact-distinct: two map-side-combinable aggregates
    (events → chunk bitmaps → group counts); the shuffle carries
    fixed-width longs, never a COUNT(DISTINCT) row expansion
    (no Expand operator), no join."""
    import re

    plan = plan_of(spark, "agg_bitmap_distinct_users")
    ops = re.findall(r"\(\d+\) \w+", plan)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert not [m for m in ops if "Join" in m]
    assert "Expand" not in plan


def test_trailing_time_frame_single_shuffle(spark):
    """The 1-hour RANGE frame is one user_id window — a single
    Exchange, no join, no second sort pass."""
    import re

    plan = plan_of(spark, "win_trailing_time_frame")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert not [m for m in re.findall(r"\(\d+\) \w+", plan) if "Join" in m]


def test_epoch_shuffle_no_join_one_window(spark):
    """The epoch fan-out is a generated-column explode, not a join
    against an epoch table; positions come from one (epoch, shard)
    window."""
    import re

    plan = plan_of(spark, "pipeline_epoch_shuffle")
    assert "Generate" in plan
    assert not [m for m in re.findall(r"\(\d+\) \w+", plan) if "Join" in m]
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1


def test_round4_tail_plan_shapes(spark):
    """Shape pins for the five round-4 tail queries (grading prefix
    1-5): no unexpected joins, single scan each, bounded exchange
    counts — the aggregate/window pipelines they claim."""
    import re

    expect = {
        # name: (max_exchanges, windows, join_allowed)
        "win_period_over_period": (2, 1, False),
        "events_transition_matrix": (3, 2, False),
        "events_hourly_seasonality": (2, 0, False),
        "agg_skew_kurtosis_portable": (1, 0, False),
        "sql_recursive_cte": (3, 0, True),  # spine join broadcasts
    }
    for name, (max_exch, n_win, join_ok) in expect.items():
        plan = plan_of(spark, name)
        ops = re.findall(r"\(\d+\) \w+", plan)
        joins = [m for m in ops if "Join" in m]
        assert len([m for m in ops if "Exchange" in m]) <= max_exch, name
        assert len([m for m in ops if "Window" in m]) == n_win, name
        if join_ok:
            assert all("BroadcastHashJoin" in j for j in joins), name
        else:
            assert not joins, name
        assert "CartesianProduct" not in plan, name


def test_incremental_merge_partials_before_seam_filters(spark):
    """Snapshot ⊕ delta merge: both partial aggregates are map-side
    combinable, the seam scalar broadcasts (no sort-merge join), and
    the final merge aggregates day-cardinality partials."""
    import re

    plan = plan_of(spark, "events_incremental_agg_merge")
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    ops = re.findall(r"\(\d+\) \w+", plan)
    aggs = [m for m in ops if "Aggregate" in m]
    assert len(aggs) >= 4  # two partial+final pairs plus merge


def test_zorder_stats_pure_codegen_single_aggregate(spark):
    """Morton coding is per-row bit math in codegen: one scan, one
    map-side-combinable aggregate, no join, no window, no UDF."""
    import re

    plan = plan_of(spark, "layout_zorder_stats")
    ops = re.findall(r"\(\d+\) \w+", plan)
    assert len([m for m in ops if "Scan" in m]) == 1
    assert len([m for m in ops if "Exchange" in m]) == 1
    assert not [m for m in ops if "Join" in m]
    assert "Window" not in plan and "Python" not in plan


def test_bloom_prefilter_broadcasts_never_shuffles_orders_for_join(spark):
    """Bloom semi-join: the bitmap reaches the probe as a 1-row
    broadcast (BNLJ is the broadcast cross join, never a
    CartesianProduct), the exact verify is a broadcast hash
    semi-join, and the probe side joins without its own exchange —
    the bloom+verify pipeline costs the probe scan plus the final
    aggregate shuffle only."""
    import re

    plan = plan_of(spark, "join_bloom_prefilter")
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan  # exact verify
    assert "xxhash64" in plan and "shiftleft" in plan  # bit math in codegen
    ops = re.findall(r"\(\d+\) \w+", plan)
    # Shuffle exchanges belong to the bloom BUILD (word groupBy,
    # 1-row collapse) and the final priority aggregate — never the
    # probe; broadcasts (bitmap, verify dim) don't count.
    assert len([m for m in ops if m.split()[-1] == "Exchange"]) <= 3


def test_shuffle_hash_hint_forces_shj(spark):
    """The SHUFFLE_HASH hint must survive planning: the join runs as
    ShuffledHashJoin (no sorts), not sort-merge, and the hint beats
    size-based broadcast selection."""
    plan = plan_of(spark, "join_shuffle_hash_hint")
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan


def test_ewma_single_shuffle_single_window(spark):
    """Six lags over one window = ONE user_id exchange, ONE sort,
    ONE Window operator; no join, no Python."""
    import re

    plan = plan_of(spark, "ts_ewma_halflife")
    ops = re.findall(r"\(\d+\) \w+", plan)
    assert len([m for m in ops if "Exchange" in m]) == 1
    assert len([m for m in ops if "Window" in m]) == 1
    assert not [m for m in ops if "Join" in m]
    assert "Python" not in plan


def test_zipf_rank_is_take_ordered_not_global_sort(spark):
    """Only the top-K words cross into the rank window: the
    orderBy+limit plans as TakeOrderedAndProject (bounded, parallel
    partial top-K), never a global Sort of the vocabulary; the two
    1-row stat sides meet in a broadcast cross join."""
    plan = plan_of(spark, "text_zipf_fit")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "ReadSchema: struct<text:string>" in plan  # text-only scans


def test_mix_report_and_file_sizing_prune_scans(spark):
    """Both corpus audit reports: map-side-combinable per-source
    aggregate (partial+final), window only over the per-domain rows,
    and the scan pruned to exactly the needed columns."""
    import re

    plan = plan_of(spark, "pipeline_domain_mix_report")
    assert "ReadSchema: struct<text:string,source:string>" in plan
    ops = re.findall(r"\(\d+\) \w+", plan)
    assert len([m for m in ops if "Aggregate" in m]) == 2  # partial+final
    assert not [m for m in ops if "Join" in m]

    plan = plan_of(spark, "layout_file_sizing_audit")
    assert "ReadSchema: struct<source:string,n_chars:bigint>" in plan
    ops = re.findall(r"\(\d+\) \w+", plan)
    assert len([m for m in ops if "Aggregate" in m]) == 2
    assert not [m for m in ops if "Join" in m]


def test_watermark_audit_head_is_broadcast_scalar(spark):
    """The feed-head timestamp is a 1-row aggregate broadcast into
    the per-type aggregate (BNLJ = broadcast cross join of a
    scalar); the head scan reads ONLY ts."""
    import re

    plan = plan_of(spark, "events_watermark_lag_audit")
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert "ReadSchema: struct<ts:timestamp_ntz>" in plan  # head pass: ts only
    ops = re.findall(r"\(\d+\) \w+", plan)
    assert len([m for m in ops if "Aggregate" in m]) == 4  # head pair + type pair


def test_order_repair_and_reset_sum_single_shuffle_two_windows(spark):
    """Both stacked-window ops: ONE key exchange serves both window
    passes (the second window's partition key is a superset of the
    first's hash partitioning) and, for order-repair, the final
    aggregate too — no join anywhere."""
    import re

    for name in ("events_order_repair", "win_conditional_reset_sum"):
        plan = plan_of(spark, name)
        ops = re.findall(r"\(\d+\) \w+", plan)
        assert len([m for m in ops if m.split()[-1] == "Exchange"]) == 1, name
        assert len([m for m in ops if "Window" in m]) == 2, name
        assert not [m for m in ops if "Join" in m], name


def test_heavy_hitters_iceberg_broadcast_total(spark):
    """Iceberg aggregate: pair counts are partial+final hash
    aggregates; the 1-row total reaches the filter via broadcast
    (BNLJ = broadcast cross join), never a sort-merge or cartesian."""
    plan = plan_of(spark, "agg_heavy_hitters_exact")
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "ReadSchema: struct<user_id:bigint,event_type:string>" in plan


def test_unigram_logprob_word_join_is_hash_equi(spark):
    """The token→vocab model join is a hash equi-join on word
    (broadcast at fixture scale), the corpus total is a broadcast
    scalar, and every documents scan is pruned to doc_id/text."""
    plan = plan_of(spark, "text_unigram_logprob")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "n_chars" not in plan and "lang" not in plan  # pruned scans


def test_tpch_variants_push_predicates_and_take_ordered(spark):
    """Q3/Q10: the selective predicates (date range, return flag,
    segment) reach the parquet scans as PushedFilters, and the top-k
    is TakeOrderedAndProject — per-partition heaps, no global sort.
    Q5: equi-joins only, never a nested loop, region filter pushed."""
    plan = plan_of(spark, "tpch_q3_shipping_priority")
    assert "GreaterThan(l_shipdate,1998-01-01" in plan
    assert "LessThan(o_orderdate,1998-01-01" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan

    plan = plan_of(spark, "tpch_q10_returned_items")
    assert "EqualTo(l_returnflag,R)" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan

    plan = plan_of(spark, "tpch_q5_local_supplier_volume")
    assert "EqualTo(r_name,ASIA)" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_lateral_topk_decorrelates_to_window_group_limit(spark):
    """The LATERAL correlated LIMIT-1 subquery must decorrelate:
    Catalyst rewrites it to a per-key window group-limit joined back
    on the key — never a re-executed subquery or nested loop."""
    plan = plan_of(spark, "join_lateral_topk")
    assert "WindowGroupLimit" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_union_by_name_no_shuffle_to_union(spark):
    """By-name union is a bag concat: the only Exchange belongs to
    the channel aggregate; both branches are predicate-pushed scans."""
    import re

    plan = plan_of(spark, "set_union_by_name_evolved")
    ops = re.findall(r"\(\d+\) \w+", plan)
    assert "Union" in plan
    assert len([m for m in ops if m.split()[-1] == "Exchange"]) == 1
    assert not [m for m in ops if "Join" in m]


def test_map_lambdas_pure_codegen_no_shuffle(spark):
    """The map algebra is per-row lambda evaluation: one scan, zero
    exchanges, no Python, no join."""
    import re

    plan = plan_of(spark, "map_lambda_ops")
    ops = re.findall(r"\(\d+\) \w+", plan)
    assert len([m for m in ops if "Scan" in m]) == 1
    assert not [m for m in ops if m.split()[-1] == "Exchange"]
    assert not [m for m in ops if "Join" in m]
    assert "Python" not in plan


def test_leave_one_out_single_window_pass(spark):
    """Frame sum and frame count evaluate in ONE Window operator over
    one user_id exchange."""
    import re

    plan = plan_of(spark, "win_leave_one_out_avg")
    ops = re.findall(r"\(\d+\) \w+", plan)
    assert len([m for m in ops if m.split()[-1] == "Exchange"]) == 1
    assert len([m for m in ops if "Window" in m]) == 1


def test_r6prep_plan_shapes(spark):
    """Round-6 lead-in block: geometric mean is one partial+final
    aggregate pair; the session histogram shares one user_id exchange
    across both windows and the per-session aggregate (plus one
    5-bin histogram exchange); LPA never plans a cartesian."""
    import re

    plan = plan_of(spark, "agg_geometric_mean")
    ops = re.findall(r"\(\d+\) \w+", plan)
    assert len([m for m in ops if "Aggregate" in m]) == 2
    assert not [m for m in ops if "Join" in m]

    plan = plan_of(spark, "events_session_duration_histogram")
    ops = re.findall(r"\(\d+\) \w+", plan)
    assert len([m for m in ops if m.split()[-1] == "Exchange"]) == 2
    assert len([m for m in ops if "Window" in m]) == 2
    assert not [m for m in ops if "Join" in m]

    plan = plan_of(spark, "graph_label_propagation")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_weighted_median_two_level_no_serial_group_window(spark):
    """The exact weighted median must use the two-level bucket
    decomposition: the data-sized window partitions by
    (l_returnflag, bucket) — fully parallel — and the only
    flag-partitioned (serial-per-group) windows run over the
    bucket-cardinality frame; the bucket offsets come back via
    broadcast, never a shuffle join of the data."""
    plan = plan_of(spark, "agg_weighted_median")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # The data-sized window keys on BOTH (flag, bucket) — a
    # flag-only data window (the serial 0.53 s form) has no
    # two-key partition spec anywhere in the plan.
    import re

    assert re.search(r"hashpartitioning\(l_returnflag#\d+, bucket#", plan)


def test_gini_rank_is_two_level_no_global_data_window(spark):
    """The per-user rank must come from the bucket decomposition: the
    data-sized window partitions by bucket (parallel), the only
    unpartitioned window runs over the bucket-cardinality frame, and
    the offsets come back via broadcast."""
    plan = plan_of(spark, "agg_gini_activity")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    import re

    # per-bucket rank window: hashpartitioning on bucket
    assert re.search(r"hashpartitioning\(bucket#", plan)


def test_tpch_suite_decorrelates_exists_to_hash_joins(spark):
    """Q4/Q21/Q22 (tpch_suite): every EXISTS / NOT EXISTS must
    decorrelate into LEFT SEMI / LEFT ANTI hash joins — a surviving
    correlated subquery would re-execute per probe row and a nested
    loop would be an all-pairs cliff at scale."""
    plan = plan_of(spark, "tpch_q4_order_priority")
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan

    plan = plan_of(spark, "tpch_q21_waiting_suppliers")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan

    plan = plan_of(spark, "tpch_q22_inactive_customers")
    assert "LeftAnti" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    # The 2000-01-01 recency predicate pushes INTO the anti-join's
    # build-side scan, not a post-join filter.
    assert "GreaterThanOrEqual(o_orderdate,2000-01-01" in plan


def test_tpch_suite_disjunctive_join_stays_hash(spark):
    """Q19: the OR-of-ANDs predicate must ride a broadcast HASH join
    on the extracted common equi-key (l_partkey = p_partkey) with the
    disjunction as a residual filter — never a nested loop."""
    plan = plan_of(spark, "tpch_q19_disjunctive_revenue")
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_tpch_suite_scalar_max_and_correlated_avg_shapes(spark):
    """Q15: the scalar-max attaches by broadcast (1-row side), never
    a shuffled join of the aggregate view. Q17: the per-part average
    joins back by hash equi-join; brand filter pushes to the part
    scan."""
    plan = plan_of(spark, "tpch_q15_top_supplier")
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan

    plan = plan_of(spark, "tpch_q17_small_qty_revenue")
    assert "EqualTo(p_brand,Brand#12)" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_tpch_suite_q13_left_join_keeps_zero_bucket(spark):
    """Q13: the priority filter folds into the join input (pushed to
    the orders scan), the join stays LEFT (zero-count customers
    survive), and the histogram re-aggregate shuffles only
    (count, 1) pairs."""
    plan = plan_of(spark, "tpch_q13_customer_distribution")
    assert "LeftOuter" in plan
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_reservoir_sample_gets_window_group_limit(spark):
    """The per-key fixed-size sample must plan WindowGroupLimit —
    per-partition 20-row heaps per key BEFORE the shuffle; without
    it every key's full row set sorts through the exchange."""
    plan = plan_of(spark, "sample_reservoir_topk_hash")
    assert "WindowGroupLimit" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_drift_block_is_single_scan_no_joins(spark):
    """CUSUM, JS-drift, and budget-alloc must stay ONE scan with the
    totals coming from windows over the bounded grouped frame — the
    aggregate+crossJoin form re-computes the scan subtree per
    derived total (4 scans for CUSUM before the rewrite)."""
    import re

    for name, max_exchanges in [
        ("ts_cusum_drift", 2),
        ("agg_jensen_shannon_drift", 2),
        ("pipeline_token_budget_alloc", 2),
    ]:
        plan = plan_of(spark, name)
        ops = [m.split()[-1] for m in re.findall(r"\(\d+\) \w+", plan)]
        assert ops.count("Scan") == 1, name
        assert ops.count("Exchange") <= max_exchanges, name
        assert not [o for o in ops if "Join" in o], name


def test_autocorrelation_single_window_pass(spark):
    """All three lag columns must come from ONE sorted Window
    operator, and the round-6 degenerate-group guard (unordered
    per-type min/max, a SECOND Window spec) plus the per-type corr
    aggregate must REUSE the same event_type exchange — still two
    exchanges total (daily grain + event_type), one scan, one Sort."""
    import re

    plan = plan_of(spark, "ts_autocorrelation")
    ops = [m.split()[-1] for m in re.findall(r"\(\d+\) \w+", plan)]
    assert ops.count("Window") == 2
    assert ops.count("Sort") == 1
    assert ops.count("Scan") == 1
    assert ops.count("Exchange") == 2


def test_r6c_single_scan_window_shapes(spark):
    """Rolling median and seasonal-naive MAE: one scan, one window,
    two exchanges (daily grain + event_type reuse). Cohen's kappa:
    one scan, one exchange, no window, no join — the confusion
    matrix is a 4-counter global aggregate."""
    import re

    for name, ex, win in [
        ("win_rolling_median", 2, 1),
        ("ts_seasonal_naive_mae", 2, 1),
        ("agg_cohens_kappa", 1, 0),
    ]:
        plan = plan_of(spark, name)
        ops = [m.split()[-1] for m in re.findall(r"\(\d+\) \w+", plan)]
        assert ops.count("Scan") == 1, name
        assert ops.count("Exchange") == ex, name
        assert ops.count("Window") == win, name
        assert not [o for o in ops if "Join" in o], name


def test_q11_threshold_is_broadcast_scalar(spark):
    """Q11's global threshold attaches as a 1-row broadcast (the
    heavy-hitters pattern — the part-aggregate subtree re-executes
    as ReusedExchange at runtime), never a shuffled join or a
    data-sized nested loop."""
    plan = plan_of(spark, "tpch_q11_important_parts")
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_r6d_robust_block_shapes(spark):
    """Theil-Sen: the pairwise join is a hash EQUI-join on
    event_type with the i<j band as residual — never a nested loop
    (an O(d²) cartesian would be data-sized at a bigger calendar).
    Hampel: one scan, both 7-row windows share one event_type
    exchange. Dataset card: three scalar-aggregate scans, no join,
    no per-doc rows reaching the union."""
    import re

    plan = plan_of(spark, "agg_theil_sen_slope")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    ops = [m.split()[-1] for m in re.findall(r"\(\d+\) \w+", plan)]
    assert [o for o in ops if "Join" in o] == ["BroadcastHashJoin"]

    plan = plan_of(spark, "win_hampel_outlier")
    ops = [m.split()[-1] for m in re.findall(r"\(\d+\) \w+", plan)]
    assert ops.count("Scan") == 1
    assert ops.count("Exchange") == 2
    assert ops.count("Window") == 2
    assert not [o for o in ops if "Join" in o]

    plan = plan_of(spark, "pipeline_dataset_card_report")
    ops = [m.split()[-1] for m in re.findall(r"\(\d+\) \w+", plan)]
    assert ops.count("Scan") == 3
    assert not [o for o in ops if "Join" in o]


def test_r6e_similarity_chi2_wau_shapes(spark):
    """Similarity matrix: postings self-join is hash equi on the
    word key (never cartesian/SMJ); norms broadcast. Chi²: one scan,
    margins from windows over the 35-cell frame, no join. WAU: the
    ×7 explode is a Generate (constant fan-out projection) and the
    only join is the broadcast day-spine semi — no data×data range
    join anywhere."""
    import re

    plan = plan_of(spark, "text_source_similarity_matrix")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan

    plan = plan_of(spark, "agg_chi_square_independence")
    ops = [m.split()[-1] for m in re.findall(r"\(\d+\) \w+", plan)]
    assert ops.count("Scan") == 1
    assert not [o for o in ops if "Join" in o]

    plan = plan_of(spark, "events_rolling_wau")
    ops = [m.split()[-1] for m in re.findall(r"\(\d+\) \w+", plan)]
    assert ops.count("Generate") == 1
    assert [o for o in ops if "Join" in o] == ["BroadcastHashJoin"]
    assert "CartesianProduct" not in plan


def test_r6f_bpe_and_mwu_shapes(spark):
    """BPE pair stats: the bigram Generate sits AFTER the word
    aggregate (vocab-sized, not corpus-sized) and the top-20 is
    TakeOrderedAndProject. Mann-Whitney: the data-sized cumulative
    window partitions by bucket (two-level decomposition — a global
    ordered window over values would serialize), offsets come back
    via broadcast."""
    import re

    plan = plan_of(spark, "text_bpe_pair_stats")
    assert "TakeOrderedAndProject" in plan
    ops = [m.split()[-1] for m in re.findall(r"\(\d+\) \w+", plan)]
    # scan → first Generate (word split) → aggregate → second
    # Generate (bigrams) AFTER the aggregate boundary.
    agg_idx = ops.index("HashAggregate")
    assert ops.index("Generate", agg_idx) > agg_idx
    assert not [o for o in ops if "Join" in o]

    plan = plan_of(spark, "agg_mannwhitney_u")
    assert re.search(r"hashpartitioning\(bucket#", plan)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_ks_test_two_level_rank_shape(spark):
    """KS: both cumulative CDFs ride the bucket-partitioned window
    (never a global ordered window over values); offsets and totals
    attach by broadcast."""
    import re

    plan = plan_of(spark, "agg_ks_test")
    assert re.search(r"hashpartitioning\(bucket#", plan)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_quality_sample_is_scan_level_filter(spark):
    """The weighted sampler must stay a single scan with zero
    exchanges — quality expression and hash threshold both evaluate
    in the scan's codegen stage."""
    import re

    plan = plan_of(spark, "sample_quality_weighted")
    ops = [m.split()[-1] for m in re.findall(r"\(\d+\) \w+", plan)]
    assert ops.count("Scan") == 1
    assert not [o for o in ops if o == "Exchange"]
    assert not [o for o in ops if "Join" in o]
    assert "Python" not in plan


def test_uptime_span_is_broadcast_scalar(spark):
    """Uptime: the global minute span attaches as a 1-row broadcast;
    no sort-merge join, no cartesian of data-sized sides."""
    plan = plan_of(spark, "events_uptime_pct")
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_r6j_lift_and_spearman_shapes(spark):
    """Lift: the basket self-join is hash equi on (user, minute)
    with the type ordering as residual — never cartesian; supports
    broadcast. Spearman: one scan, windows over the calendar-bounded
    frame, corr reuses the event_type partitioning — no join."""
    import re

    plan = plan_of(spark, "events_type_cooccurrence_lift")
    ops = [m.split()[-1] for m in re.findall(r"\(\d+\) \w+", plan)]
    assert "CartesianProduct" not in plan
    # The only nested loop is the 1-row basket-total broadcast.
    assert len([o for o in ops if o == "BroadcastNestedLoopJoin"]) <= 1
    assert "SortMergeJoin" not in plan

    plan = plan_of(spark, "agg_spearman_corr")
    ops = [m.split()[-1] for m in re.findall(r"\(\d+\) \w+", plan)]
    assert ops.count("Scan") == 1
    assert not [o for o in ops if "Join" in o]


def test_r6k_profile_ols_drawdown_shapes(spark):
    """Profile and OLS: ONE scan each, global aggregates, no join
    (per-column/per-moment scans would multiply reads). Drawdown:
    the CUSUM discipline — one scan, shared event_type exchange,
    no joins."""
    import re

    for name in ["agg_ols_two_factor", "ts_max_drawdown"]:
        plan = plan_of(spark, name)
        ops = [m.split()[-1] for m in re.findall(r"\(\d+\) \w+", plan)]
        assert ops.count("Scan") == 1, name
        assert not [o for o in ops if "Join" in o], name

    plan = plan_of(spark, "scan_table_profile")
    ops = [m.split()[-1] for m in re.findall(r"\(\d+\) \w+", plan)]
    assert ops.count("Scan") == 1
    assert not [o for o in ops if "Join" in o]


def test_tpch_completion_part2_shapes(spark):
    """Q6: all three predicates reach the parquet scan as
    PushedFilters and the sum is partial+final. Q2/Q9/Q16/Q20: hash
    equi-joins only — never a cartesian or nested loop beyond a
    1-row broadcast scalar."""
    import re

    plan = plan_of(spark, "tpch_q6_forecast_revenue")
    assert "GreaterThanOrEqual(l_discount,0.05)" in plan
    assert "LessThanOrEqual(l_discount,0.07)" in plan
    assert "LessThan(l_quantity,24" in plan
    assert "GreaterThanOrEqual(l_shipdate," in plan

    for name in [
        "tpch_q2_min_cost_supplier",
        "tpch_q9_product_profit",
        "tpch_q16_parts_supplier_counts",
        "tpch_q20_excess_stock_suppliers",
    ]:
        plan = plan_of(spark, name)
        ops = [m.split()[-1] for m in re.findall(r"\(\d+\) \w+", plan)]
        assert "CartesianProduct" not in plan, name
        assert len([o for o in ops if o == "BroadcastNestedLoopJoin"]) <= 1, name


def test_rebalance_rank_is_two_level(spark):
    """The descending volume rank must partition its data-sized
    window by bucket (two-level decomposition) with broadcast
    offsets — never a single global ordered window over all keys."""
    import re

    plan = plan_of(spark, "events_consumer_rebalance_plan")
    assert re.search(r"hashpartitioning\(bucket#", plan)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_order_repair_is_single_shuffle(spark):
    """events_order_repair sorts the SAME user_id partitioning two
    ways (rank-by-time, rank-by-id) and then aggregates on that key:
    Catalyst must reuse ONE Exchange for both Window sorts and the
    partial/final aggregate (VERDICT r5 item 6). A second exchange
    would re-shuffle the whole feed per rank order at 100 TB."""
    import re

    plan = plan_of(spark, "events_order_repair")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2


def test_ewma_is_single_window_single_shuffle(spark):
    """ts_ewma_halflife evaluates all six lags over the same window
    spec: Catalyst must fuse them into ONE Window operator behind ONE
    user_id exchange (VERDICT r5 item 6 — the plan is already the
    one we want; a fused array(lag..) rewrite measured no faster, so
    this pin is the deliverable). Six separate Window operators would
    re-sort the feed six times at 100 TB."""
    import re

    plan = plan_of(spark, "ts_ewma_halflife")
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_json_extraction_is_scan_stage_and_tolerant(spark):
    """json_extract_props extracts the payload field in the scan-stage
    projection (one Exchange total — only the extracted int shuffles,
    never the props blob), and the extraction is the TOLERANT form
    (try_cast): a plain ANSI cast here crashed on mistyped payloads
    (round-6 extreme-value sweep). Both properties are load-bearing:
    the first is the 100 TB shuffle-bytes shape, the second is the
    untrusted-payload contract in portable.json_int."""
    import re

    plan = plan_of(spark, "json_extract_props")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    # The tolerant extraction appears verbatim in the projection...
    assert "try_cast(get_json_object" in plan
    # ...and the PARTIAL aggregate runs over the extracted k — i.e.
    # extraction happened map-side, before the single exchange.
    assert re.search(r"partial_min\(k#", plan)


def test_lsh_distinct_exchange_ids_only(spark):
    """VERDICT-r7 item 3: simsearch_lsh_bucketed's candidate-dedup
    exchange must carry ONLY the 16-byte (probe_id, neighbor_id)
    pair. The round-7 form ran distinct() over rows that still held
    both full 64-float embeddings (~550 B/row) — harmless at sf0.1,
    a ~30× multiplier on the operator's one real shuffle at 100 TB.
    Pin: every HashAggregate keyed on the candidate pair (the
    distinct's partial+final) outputs no embedding column, and the
    embedding re-attach is an equi-join AFTER the dedup."""
    import re

    q = REGISTRY["simsearch_lsh_bucketed"]
    df = (q.raw or q.fn)(spark, SF_UNIT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    dedup_aggs = [
        ln for ln in plan.splitlines()
        if "HashAggregate" in ln and "neighbor_id" in ln and "keys=" in ln
    ]
    assert dedup_aggs, "expected the candidate-pair distinct HashAggregates"
    for ln in dedup_aggs:
        assert "embedding" not in ln, f"distinct exchange still carries embeddings: {ln[:200]}"
    # The pair set re-joins the embedding sides (index equi-join +
    # broadcast probe table) after the dedup.
    assert plan.count("BroadcastHashJoin") >= 2


@pytest.mark.parametrize("name", ["dedup_minhash_near", "dedup_simhash"])
def test_dedup_pair_output_order_is_parallel_sort(name, spark):
    """VERDICT-r9 item 3 (+ the simhash twin found by the round-10
    single-task-stage audit): the near-dup pair queries' deterministic
    output ordering must be a range-partitioned global Sort, not the
    old coalesce(1)+sortWithinPartitions — the candidate-pair list is
    itself large at scale (332 k pairs at sf1; the minhash coalesce(1)
    measured 28 s — 75% of the whole 30× suite — before the fix), and
    a coalesce(1) serializes the final stage into one task."""
    q = REGISTRY[name]
    df = (q.raw or q.fn)(spark, SF_UNIT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Coalesce" not in plan, f"single-task coalesce back in the {name} plan"
    assert "Sort" in plan and "rangepartitioning" in plan.lower(), (
        "expected a range-partitioned global sort for deterministic output"
    )


def test_csv_roundtrip_read_stays_splittable(spark, tmp_path):
    """VERDICT-r7 item 6: the CSV roundtrip must not depend on
    multiLine=true (which makes every file a single input split and
    serializes the scan). The writer now escapes embedded CR/LF to
    sentinel tokens so records stay one-physical-line. Functional
    pin: a single ~multi-hundred-KB CSV file read under a small
    maxPartitionBytes must split into >1 partition — under multiLine
    it cannot. Plus a source-text guard so the option can't sneak
    back in."""
    import inspect

    import pyspark.sql.functions as F

    from hbase_sep_spark.queries import sources_formats as sfmt

    # Docstrings may MENTION multiLine (they document why it's
    # banned); the guard targets the quoted option key an .option()
    # or options-dict call would need.
    assert '"multiLine"' not in inspect.getsource(sfmt), (
        "multiLine option reintroduced — the CSV scan would serialize per file"
    )

    out = str(tmp_path / "csv_split")
    spark.range(20000).select(
        F.col("id"),
        F.concat(F.lit("payload-"), F.col("id").cast("string"),
                 F.lit("-" + "x" * 40)).alias("s"),
    ).coalesce(1).write.mode("overwrite").option("header", "true").csv(out)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
        n_parts = (
            spark.read.option("header", "true")
            .schema("id long, s string")
            .csv(out)
            .rdd.getNumPartitions()
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert n_parts > 1, "single-file CSV read did not split — reader is not splittable"


def test_incremental_upsert_no_nested_loops(spark):
    """The round-12 incremental upsert's audit plan (carried-forward
    anti-joins, the delta-bands x all-bands candidate join, the
    signature verify joins, and the full-outer audit) must be
    equi-joins end to end — a nested-loop or cartesian anywhere means
    the delta restriction or a join key got lost, which at 100 TB
    turns the O(delta) maintenance claim into all-pairs."""
    plan = plan_of(spark, "dedup_minhash_incremental_upsert")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_touching_join_is_equi_broadcast(spark):
    """lsh_candidate_pairs_touching: the delta restriction is a
    broadcast semi-join (the delta id list is small by definition of
    an increment) and candidate generation is an equi-join on
    (band, band_hash) — never all-pairs."""
    from hbase_sep_spark.operators.dedup import (
        lsh_candidate_pairs_touching,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(i, f"some text body number {i % 3} repeated tokens") for i in range(30)],
        ["doc_id", "text"],
    )
    sig = minhash_signatures(docs)
    delta = spark.createDataFrame([(1,), (2,)], ["doc_id"])
    df = lsh_candidate_pairs_touching(sig, delta)
    jvm = spark.sparkContext._jvm
    plan = jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan  # the broadcast delta restriction


def test_udf_fanout_scales_with_table_and_floors_at_graded_sf(spark, tmp_path):
    """Round-13: udf_pandas_vectorized's Arrow fan-out repartition is
    derived from the orders footer row count instead of a pinned local
    constant, with a floor of 8 (the measured sf0.1 optimum on 32
    cores) capped at the session's cores. Two pins: (1) at the graded
    SF the plan is exactly RoundRobinPartitioning(min(8, cores)) — the
    historical repartition(8) on 8+ cores, one wave of Python tasks
    on fewer; (2) the count grows with the table (footer-only —
    io.table_rows must agree with a real scan, including on a
    directory table), so a 100x feed is not pinned to 8 Python
    workers."""
    import pyarrow.parquet as pq

    from hbase_sep_spark.io import fanout, table_rows

    # (1) graded-SF plan floor
    plan = plan_of(spark, "udf_pandas_vectorized")
    cores = spark.sparkContext.defaultParallelism
    assert f"RoundRobinPartitioning({min(8, cores)})" in plan

    # (2) footer count == scan count, single file and directory forms
    assert table_rows(SF_UNIT, "orders") == spark.read.parquet(
        f"{SF_UNIT}/orders.parquet"
    ).count()
    src = pq.read_table(f"{SF_UNIT}/orders.parquet")
    d = tmp_path / "orders.parquet"
    d.mkdir()
    half = len(src) // 2
    pq.write_table(src.slice(0, half), str(d / "part-000.parquet"))
    pq.write_table(src.slice(half), str(d / "part-001.parquet"))
    assert table_rows(str(tmp_path), "orders") == len(src)

    # (3) the derivation helper on controlled row counts (the 1500-row
    # directory table above) with a literal core cap: one worker per
    # rows_per_worker rows, capped at the cores; the query's floor of
    # min(8, cores) covers the graded SF, where the quotient is 0
    assert fanout(SF_UNIT, "orders", 150_000, 32) == 0
    assert fanout(str(tmp_path), "orders", 100, 32) == len(src) // 100 == 15
    assert fanout(str(tmp_path), "orders", 10, 32) == 32
    assert fanout(str(tmp_path), "orders", 10, 4) == 4


def test_pca_fanout_floors_at_graded_sf(spark, tmp_path):
    """Round-14: vec_pca_project's projection is SIZE-BRANCHED on the
    embeddings footer row count (one Python worker per 25k vectors;
    below 2 workers the Python round-trip costs more than the whole
    projection) — at the graded SFs the corpus is tiny, so the
    returned plan must stay the historical JVM expression form with
    NO Python node and NO round-robin exchange; at a 200k-vector
    corpus the derivation spreads the BLAS matmul across 8 workers
    (measured 0.757 s serial -> 0.269 s at sf10; that path, whose
    Python node is now MapInArrow, runs in
    tests/test_vectors.py::test_pca_blas_path_keeps_labels_exact)."""
    from hbase_sep_spark.queries.llm_ops import _emb_fanout

    assert _emb_fanout(spark, SF_UNIT) < 2
    plan = plan_of(spark, "vec_pca_project")
    assert "RoundRobinPartitioning" not in plan
    assert "MapInPandas" not in plan and "MapInArrow" not in plan
    # the 200k-vector derivation, footer-only, at a literal core cap
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hbase_sep_spark.io import fanout

    pq.write_table(pa.table({"vec_id": pa.array(range(200_000), pa.int64())}), str(tmp_path / "embeddings.parquet"))
    assert fanout(str(tmp_path), "embeddings", 25_000, 32) == 8
    assert fanout(str(tmp_path), "embeddings", 25_000, 4) == 4


def test_pca_path_is_chosen_by_row_count_not_cores(tmp_path):
    """vec_pca_project's projection path (JVM chain below two workers'
    worth of vectors, BLAS matmul above) depends on the embeddings row
    count alone, so the same corpus takes the same path on a 1-, 2- or
    4-core session; cores only cap the repartition count."""
    from types import SimpleNamespace

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hbase_sep_spark.queries.llm_ops import _pca_fanout

    for rows, want in ((49_999, [0, 0, 0]), (50_000, [1, 2, 2]), (200_000, [1, 2, 4])):
        d = tmp_path / str(rows)
        d.mkdir()
        pq.write_table(pa.table({"vec_id": pa.array(range(rows), pa.int64())}), str(d / "embeddings.parquet"))
        got = [
            _pca_fanout(SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=cores)), str(d))
            for cores in (1, 2, 4)
        ]
        assert got == want, rows
