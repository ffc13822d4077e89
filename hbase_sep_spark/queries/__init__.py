"""Graded query implementations, one module per query family.

A query lives in the module of its name's family prefix:

| prefix | module |
|---|---|
| `events_` (the CDC mutation model) | mutations |
| `win_` | windows |
| `sort_` `limit_` `topk_` | sort_limit |
| `set_` | sets |
| `str_` `date_` `math_` `cond_` `cast_` `scalar_` | scalars |
| `json_` `arr_` `map_` | semistructured |
| `udf_` `udaf_` `udtf_` | udfs |
| `text_` `dedup_` `pipeline_` `sample_` `vec_` `simsearch_` `multimodal_` | llm_extras, llm_ops (§2.11) |
| `graph_` | graph |
| `ts_` | timeseries |
| `tpch_` | tpch_suite |
| `reshape_` `subq_` `sql_`, `join_dpp_partition_prune` | relational_ext |
| `source_` `layout_` | sources_formats |
| `agg_` | aggregates |
| `events_` `scan_` `sink_` | events |
| `filter_` `project_` `select_` | filters |
| `join_` | joins |
| `stream_` | hbase_sep_spark/streaming/queries.py |

Importing this package registers every batch query into
`hbase_sep_spark.registry.REGISTRY`.

Registration order IS the driver's grading order, and the driver
grades a bounded prefix (~50 entries per round).  The EXPLICIT
`_GRADE_FIRST` list below — not module import order — determines the
prefix; the rest follows the import order below (llm_ops imports
llm_extras, so llm_extras registers first).  Policy each round:
never-graded names first, then any sql-hash query whose
implementation or oracle changed since its last green grade, then the
stalest old greens for regression re-confirmation.  New queries added
mid-round move INSIDE the prefix before the round ends (round-4
precedent) so they are graded immediately; anything displaced rotates
to the front next round.
"""

from hbase_sep_spark.queries import (  # noqa: F401
    mutations,
    windows,
    sort_limit,
    sets,
    scalars,
    semistructured,
    udfs,
    llm_extras,
    llm_ops,
    graph,
    timeseries,
    tpch_suite,
    relational_ext,
    sources_formats,
    aggregates,
    events,
    filters,
    joins,
)

from hbase_sep_spark.streaming import queries as _streaming_queries  # noqa: F401

from hbase_sep_spark import registry as _registry

# Driver-grading prefix for round 15 (standing rotation policy;
# round 13 graded exactly positions 1-50 — 29/29 oracle-bearing
# green + 21 no_oracle rows-only, CORRECTNESS_r13: the eighth
# consecutive clean prefix, zero failures ever; nothing flagged,
# nothing cut off by the bound). Round 14 was an OPTIMIZATION round:
# changed-since-green enumeration for round 15 (ast_diff 16819bd..
# HEAD + the helper-consumer grep) = exactly FIVE names —
# graph_pagerank (edge persist scoped: eager localCheckpoint +
# unpersist; oracle re-verified green both shuffle configs),
# vec_pca_project (BLAS mapInPandas projection + derived fan-out),
# udf_pandas_vector_score / multimodal_decode_stub /
# multimodal_frame_sample (Arrow payload trims + derived fan-out;
# oracles unchanged, re-verified green both configs). Helper checks:
# operators/dedup.py's round-14 diff is DOCSTRING-ONLY (a checkpoint
# variant was measured catastrophically worse at sf10 and reverted —
# OPTIMIZATION_r14.md C3), so its consumers are NOT dirtied;
# session.py/bench.py diffs are comment/harness-level.
# 1-5   = the five round-14-changed names.
# 6-16  = tpch_q11_important_parts (displaced queue head) + the ten
#         remaining r6°-evidence names (VERDICT-r12 item 1's queue,
#         now fully drained).
# 17-46 = ALL thirty remaining r7°-evidence names (staleness order =
#         registration order among them; computed from
#         CORRECTNESS_r01..r13 last-graded rounds, not memory).
# 47-50 = the first four r8°-evidence names.
# --- bound ---
# 51+   = registration order (the family modules' import order,
#         which no longer encodes staleness). The round-16 queue is
#         the remaining r8° names, stalest first by their last-graded
#         round in CORRECTNESS_r*, ties in this order
#         (simsearch_lsh_bucketed, text_token_count,
#         text_fingerprint, ts_rolling_zscore, join_asof_nearest,
#         join_pit_scd2, agg_skew_kurtosis_portable,
#         win_running_distinct, agg_bitmap_distinct_users,
#         agg_geometric_mean, ts_stl_decompose_lite,
#         ts_autocorrelation, ...), then r9° — and as always:
#         anything CORRECTNESS_r14 flags or its bound cuts off
#         leads, then anything changed-since-green in round 15
#         (ast_diff + the helper-consumer grep, never memory).
# All prefix names re-verified against the local oracle on current
# data under two shuffle configs + a chunked plain-session driver
# sim before the round ends (tests.harness + plain_session_sweep.py).
_GRADE_FIRST = [
    # 1-5: round-14 optimization changes (changed-since-green)
    "graph_pagerank",
    "vec_pca_project",
    "udf_pandas_vector_score",
    "multimodal_decode_stub",
    "multimodal_frame_sample",
    # 6-16: queue head + the ten remaining r6°-evidence names
    "tpch_q11_important_parts",
    "text_source_similarity_matrix",
    "agg_chi_square_independence",
    "events_rolling_wau",
    "text_bpe_pair_stats",
    "scan_table_profile",
    "tpch_q2_min_cost_supplier",
    "tpch_q6_forecast_revenue",
    "tpch_q9_product_profit",
    "tpch_q16_parts_supplier_counts",
    "tpch_q20_excess_stock_suppliers",
    # 17-46: all thirty remaining r7°-evidence names
    "arr_lambda_transform",
    "arr_lambda_filter_agg",
    "dedup_exact_docs",
    "simsearch_cosine_topk",
    "simsearch_knn_join",
    "vec_normalize_norm",
    "multimodal_struct_cols",
    "vec_quantize_int8",
    "dedup_embedding_cosine",
    "pipeline_training_prep",
    "text_contamination_check",
    "vec_matryoshka_truncate",
    "events_hourly_seasonality",
    "events_interarrival_stats",
    "pipeline_quality_gate_report",
    "events_watermark_lag_audit",
    "text_unigram_logprob",
    "pipeline_dataset_card_report",
    "events_uptime_pct",
    "events_type_cooccurrence_lift",
    "agg_ols_two_factor",
    "agg_benford_price_audit",
    "events_consumer_rebalance_plan",
    "join_dpp_partition_prune",
    "text_entropy_score",
    "text_repetition_ratio",
    "vec_centroid_distance",
    "agg_global",
    "agg_groupby_basic",
    "sink_partitioned_prune",
    # 47-50: the first four r8°-evidence names
    "win_row_number",
    "win_lag_lead",
    "win_running_sum",
    "map_keys_values",
]


def _reorder() -> None:
    reg = _registry.REGISTRY
    missing = [n for n in _GRADE_FIRST if n not in reg]
    if missing:  # fail loudly at import — a typo here silently ungrades a query
        raise RuntimeError(f"_GRADE_FIRST names not registered: {missing}")
    if len(set(_GRADE_FIRST)) != len(_GRADE_FIRST):
        dupes = sorted({n for n in _GRADE_FIRST if _GRADE_FIRST.count(n) > 1})
        # a duplicate's second entry is DEAD (first-wins) — the queue
        # it appears to define doesn't exist; fail loudly instead
        raise RuntimeError(f"_GRADE_FIRST has duplicate names: {dupes}")
    ordered = {n: reg[n] for n in _GRADE_FIRST}
    ordered.update((n, q) for n, q in reg.items() if n not in ordered)
    reg.clear()
    reg.update(ordered)


_reorder()
