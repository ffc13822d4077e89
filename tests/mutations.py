"""Hostile-input ("mutation") fixtures: one table, one materializer, one CLI.

SEP is a CDC transport, so it has to deliver whatever an upstream
producer writes. Each `MUTATIONS` entry is one hostility class: copy a
source fixture, rewrite one or more of its tables (per-table DuckDB
`SELECT`s over the source tables, or a pyarrow-level `build`), then
run the class's pinned queries through `tests.harness.check_query`.
The `tests/test_*_fixture.py` modules bind `compare(...)` for their
classes, which pins every (class, query) pair on sf0.001, and hold
each class's own checks; the `sweep` command runs any query list over every class at any SF,
from the same definitions:

    python -m tests.mutations build CLASS DST [--sf SRC]
    python -m tests.mutations sweep [--sf DIR] [name ...]

A new query should be swept over every class before it is graded.
"""

from __future__ import annotations

import argparse
import functools
import os
import shutil
import sys
import tempfile
import traceback
import zlib
from dataclasses import dataclass, field
from typing import Callable, Mapping

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hbase_sep_spark.io import TABLES
from hbase_sep_spark.registry import load_all
from tests.harness import DEFAULT_SF, check_query, duck_connection

REGISTRY = load_all()


@dataclass(frozen=True)
class Mutation:
    name: str
    reason: str
    queries: tuple[str, ...]
    # table -> DuckDB SELECT over the source tables (registered as views
    # under their table names, plus any `relations`).
    sql: Mapping[str, str] = field(default_factory=dict)
    # pyarrow-level writer (src_dir, dst_dir); runs before `sql`.
    build: Callable[[str, str], None] | None = None
    # extra Arrow relations the `sql` may read, by name.
    relations: Mapping[str, Callable[[], pa.Table]] = field(default_factory=dict)


def materialize(m: Mutation, src: str, dst: str) -> str:
    """Write class `m` of fixture `src` into `dst`: build, rewrite, then
    copy every table neither step wrote."""
    os.makedirs(dst, exist_ok=True)
    if m.build:
        m.build(src, dst)
    if m.sql:
        _rewrite(src, dst, m.sql, {k: f() for k, f in m.relations.items()})
    for name in TABLES:
        s, d = f"{src}/{name}.parquet", f"{dst}/{name}.parquet"
        if os.path.exists(s) and not os.path.exists(d):
            (shutil.copytree if os.path.isdir(s) else shutil.copyfile)(s, d)
    return dst


def _rewrite(src: str, dst: str, sql: Mapping[str, str], relations=None) -> None:
    con = duckdb.connect()
    try:
        for name in TABLES:
            path = f"{src}/{name}.parquet"
            if os.path.exists(path):
                glob = f"{path}/*.parquet" if os.path.isdir(path) else path
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")
        for name, rel in (relations or {}).items():
            con.register(name, rel)
        for table, select in sql.items():
            con.execute(f"COPY ({select}) TO '{dst}/{table}.parquet' (FORMAT PARQUET)")
    finally:
        con.close()


def _map_column(src, dst, table, key, col, fn, typ=None) -> None:
    """Rewrite `table.col` row by row as fn(key, value)."""
    t = pq.read_table(f"{src}/{table}.parquet")
    keys, vals = t.column(key).to_pylist(), t.column(col).to_pylist()
    new = pa.array([fn(k, v) for k, v in zip(keys, vals)], typ or t.schema.field(col).type)
    t = t.set_column(t.schema.get_field_index(col), pa.field(col, new.type), new)
    pq.write_table(t, f"{dst}/{table}.parquet")


def _empty(*tables: str) -> Callable[[str, str], None]:
    """Zero-row copies with the source schema (footer-only read)."""

    def build(src: str, dst: str) -> None:
        for name in tables:
            pq.write_table(pq.read_schema(f"{src}/{name}.parquet").empty_table(), f"{dst}/{name}.parquet")

    return build


def _hostile_embedding(i, e):
    if i % 11 == 3:
        return [0.0] * 64  # zero vector (no direction)
    if i % 13 == 5:
        return None
    if i % 17 == 7:
        return []
    if i % 19 == 9:
        return e[:8]  # truncated / ragged
    # NaN, Inf, or a NULL element inside the list
    for mod, res, pos, bad in ((23, 11, 0, float("nan")), (29, 13, 1, float("inf")), (31, 17, 5, None)):
        if i % mod == res:
            return e[:pos] + [bad] + e[pos + 1 :]
    return e


def _hostile_embeddings(src: str, dst: str) -> None:
    _map_column(src, dst, "embeddings", "vec_id", "embedding", _hostile_embedding, pa.list_(pa.float32()))


def _nonfinite_events(src: str, dst: str) -> None:
    def fn(i, v):
        for mod, res, bad in ((23, 3, float("nan")), (29, 5, float("inf")), (31, 7, float("-inf")), (37, 11, -0.0)):
            if i % mod == res:
                return bad
        return v

    _map_column(src, dst, "events", "event_id", "value", fn)


def int_epoch_events(tbl: pa.Table, unit: str, unsigned: bool = False, narrow: bool = False) -> pa.Table:
    """events.ts -> a plain unannotated integer epoch in `unit`, flooring
    sub-unit digits. unsigned: UINT64 (UINT32 for seconds, time_t's
    width); narrow: signed INT32 seconds."""
    col = tbl.column("ts").cast(pa.timestamp("us")).cast(pa.timestamp(unit), safe=False).cast(pa.int64())
    typ = pa.int64()
    if unsigned:
        typ = pa.uint32() if unit == "s" else pa.uint64()
    elif narrow:
        assert unit == "s", "int32 epochs only hold the seconds unit"
        typ = pa.int32()
    return tbl.set_column(tbl.schema.get_field_index("ts"), pa.field("ts", typ, True), col.cast(typ))


def _int_epoch(unit: str, unsigned: bool = False, narrow: bool = False) -> Callable[[str, str], None]:
    def build(src: str, dst: str) -> None:
        tbl = int_epoch_events(pq.read_table(f"{src}/events.parquet"), unit, unsigned, narrow)
        pq.write_table(tbl, f"{dst}/events.parquet")

    return build


_BS = "\\"
# Residue of event_id % 41 -> payload built from k = event_id % 97. Every
# variant lands inside the event_id <= 3000 slice json_to_map reads.
HOSTILE_PROPS = {
    2: lambda k: '{"k":' + str(k) + ',"n":"a' + chr(0) + 'b"}',  # raw NUL in str
    4: lambda k: '{"k":' + str(k) + ',"n":"a' + chr(9) + 'b"}',  # raw TAB in str
    6: lambda k: '{"k":' + str(k) + ',"n":"a' + chr(10) + 'b"}',  # raw LF in str
    8: lambda k: '{ "k" :' + chr(10) + chr(9) + str(k) + " }",  # ws between tokens
    10: lambda k: '{"k":' + str(k) + ',"n":"' + _BS + 'ud800"}',  # lone surrogate
    12: lambda k: '{"k":' + str(k) + ',"n":"' + _BS + "ud83d" + _BS + 'ude00"}',  # pair
    14: lambda k: '{"k":' + str(k) + ",}",  # trailing comma
    16: lambda k: '{"k":' + str(k) + ',"n":NaN}',
    18: lambda k: '{"k":' + str(k) + ',"n":Infinity}',
    20: lambda k: "{'k':" + str(k) + "}",  # single-quoted
    22: lambda k: '{"k":' + str(k) + ',"n":"it' + "'" + 's"}',  # clean apostrophe
    24: lambda k: '{"k":' + str(k) + ',"n":"a' + _BS + 'u0000b"}',  # escaped NUL (clean)
    26: lambda k: '{"k":' + str(k) + ',"n":"a,}b"}',
    28: lambda k: '{"k":' + str(k) + ',"n":1e999999}',  # huge exponent (clean)
    30: lambda k: '{"k":' + str(k) + ',"k":' + str(k + 7) + "}",  # dup key
    32: lambda k: '{"k":' + str(k) + ',"n":"' + _BS + _BS + 'ud800b"}',  # literal \u text
    34: lambda k: '{"k":' + str(k) + ',"n":"NaN"}',
    36: lambda k: '{"k":"' + str(k) + '"}',  # quoted int (clean)
    38: lambda k: '{"k":' + str(k) + ',"d":' + '{"a":' * 1200 + "1" + "}" * 1200 + "}",  # depth cap
    40: lambda k: '{"k":' + str(k) + ',"a":[' + '{"b":1},' * 949 + '{"b":1}]}',  # opener count
    5: lambda k: '{"k":' + str(k) + ',"d":{"a":{"b":{"c":{"e":1}}}}}',  # clean nested
    1: lambda k: '{"k":' + str(k) + ".5}",  # fractional (DuckDB TRY_CAST rounds)
    3: lambda k: '{"k":' + str(k) + "e1}",
    7: lambda k: '{"k":"' + str(k) + '.5"}',
    9: lambda k: '{"k":' + str(k) + ',"pad":' + "7" * 1200 + "}",  # number-token cap
    11: lambda k: '{"k":' + "1" * 1100 + "}",
    13: lambda k: '{"' + "a" * 60000 + '":1,"k":' + str(k) + "}",  # field-name cap
    15: lambda k: '{"k":" ' + str(k) + ' "}',  # spaced quoted int (clean)
    17: lambda k: '{"k":' + str(k) + ',"a":[' + "11," * 470 + "11]}",  # >900 digits
}
_NUL_TEXT = {3: "alpha\x00beta gamma", 7: "\x00", 15: "café\x00中文"}


def _jsonhostile(src: str, dst: str) -> None:
    def props(i, p):
        b = HOSTILE_PROPS.get(i % 41)
        return b(i % 97) if b else p

    def text(i, x):
        return "\x00" + (x or "") + "\x00" if i % 19 == 11 else _NUL_TEXT.get(i % 19, x)

    _map_column(src, dst, "events", "event_id", "props", props)
    _map_column(src, dst, "documents", "doc_id", "text", text)


def _layout(src: str, dst: str) -> None:
    """Every table a directory of 3 uneven part files; non-feed tables
    row-permuted (seeded per table); the events feed split into
    contiguous segments in feed order with small row groups."""
    for name in TABLES:
        path = f"{src}/{name}.parquet"
        if not os.path.exists(path):
            continue
        tbl = pq.read_table(path)
        n = tbl.num_rows
        if name != "events" and n > 1:
            tbl = tbl.take(np.random.default_rng(zlib.crc32(name.encode())).permutation(n))
        os.makedirs(f"{dst}/{name}.parquet")
        cuts = [0, n // 5, n // 2, n]
        for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
            rg = {"row_group_size": max(1, (hi - lo) // 4)} if name == "events" else {}
            pq.write_table(tbl.slice(lo, hi - lo), f"{dst}/{name}.parquet/part-{i:03d}.parquet", **rg)


def _unsigned(src: str, dst: str) -> None:
    """Every non-negative int64 column re-typed unsigned: event_id (and
    anything >= 2^31) UBIGINT, the rest UINTEGER."""
    sql = {}
    con = duckdb.connect()
    try:
        for t in TABLES:
            s = pq.read_schema(f"{src}/{t}.parquet")
            repl = []
            for c in (n for n in s.names if str(s.field(n).type) == "int64"):
                mx, mn = con.sql(f"SELECT max({c}), min({c}) FROM '{src}/{t}.parquet'").fetchone()
                if mn is None or mn >= 0:
                    ty = "UBIGINT" if c == "event_id" or (mx or 0) >= 2**31 else "UINTEGER"
                    repl.append(f"CAST({c} AS {ty}) AS {c}")
            sql[t] = f"SELECT * REPLACE ({', '.join(repl)}) FROM {t}" if repl else f"SELECT * FROM {t}"
    finally:
        con.close()
    _rewrite(src, dst, sql)


def _edge_docs(texts) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array([300000 + i for i in range(len(texts))], pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en" if i % 2 == 0 else "xx" for i in range(len(texts))], pa.string()),
            "source": pa.array(["edge"] * len(texts), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


UNICODE_EDGE = (
    "", " \t\n ", "a", "ab",
    "Héllo wörld café naïve accents", "cafe\u0301 NFD combining",
    "你好世界" * 2, "hello \U0001F44B\U0001F3FD world \U0001F30D\U0001F30D emoji",
    "Ünïcode ÉÉÉ ß Straße İstanbul", "!!! ??? ... ;;; ---", ("abc " * 500).strip(),
    "123 456 789 000", "line1\nline2\ttab\rcarriage", 'he said "hi" \\ backslash \'quote\'',
    "THE THE THE the the tHe", "word",
    # full-vs-simple case mapping: Java lowers both to "i̇stanbul z",
    # DuckDB only the second; ascii_lower merges neither.
    "İstanbul Z", "i̇stanbul z",
    "Hello World", "hello world",  # an ASCII pair that must still merge
)
SINK_EDGE = (
    "", " \t\n ", "a", "你好世界" * 2, "Ünïcode ÉÉÉ ß Straße İstanbul",
    "İstanbul Z", "i̇stanbul z", "Hello World", "hello world",
    "hello \U0001F44B world", ("abc " * 200).strip(), "alpha\x00beta gamma", "\x00",
)

# Payload variants of the extreme-value class, shared with kitchen_sink.
_PAYLOADS = """
  WHEN event_id % 37 = 6  THEN '{' || chr(10) || '  "k": 21' || chr(10) || '}'
  WHEN event_id % 29 = 4  THEN '{"a\\"b": 3}'
  WHEN event_id % 29 = 9  THEN '{"a\\\\b": 3}'
  WHEN event_id % 29 = 14 THEN '{"": 3}'
  WHEN event_id % 29 = 19 THEN '\\N'
  WHEN event_id % 23 = 3  THEN '{"x": 1}'
  WHEN event_id % 23 = 7  THEN '{"k": "12"}'
  WHEN event_id % 23 = 11 THEN '{"k": {"a": 1}}'
  WHEN event_id % 23 = 15 THEN '{"k": null}'
  WHEN event_id % 23 = 19 THEN '{k: 12'
  WHEN event_id % 23 = 21 THEN ''"""
_MONEY = {
    "customer": ["c_acctbal"],
    "supplier": ["s_acctbal"],
    "part": ["p_retailprice"],
    "orders": ["o_totalprice"],
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
}
_CLONE_ORDERS = {  # cloned orders with identical revenue (tie axes)
    "orders": """SELECT * FROM orders UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 13 = 0""",
    "lineitem": """SELECT * FROM lineitem UNION ALL
        SELECT l_orderkey + 10000000, l_partkey, l_suppkey, l_linenumber, l_quantity,
               l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM lineitem WHERE l_orderkey % 13 = 0""",
}
_INTTS_PINNED = ("scan_events_feed", "events_latest_per_key", "stream_sep_source")
_INTTS_REASON = "The intts class in another wire shape: {}."

_TABLE = (
    Mutation(
        "bigid",
        "A 100 TB corpus has ids past 2^31: ANSI turns `id * <knuth>` into "
        "ARITHMETIC_OVERFLOW and int-typed schemas truncate. Ids shift by 5e9; "
        "one representative per hash/schema family.",
        ("sample_reservoir_topk_hash", "sample_bernoulli_hash", "pipeline_dataset_split",
         "agg_cms_freq_sketch", "agg_kmv_distinct_sketch", "pipeline_mixture_sample",
         "sample_quality_weighted", "vec_kmeans_lloyd"),
        sql={
            "events": "SELECT event_id + 5000000000 AS event_id, ts, user_id + 5000000000 "
            "AS user_id, event_type, value, props FROM events",
            "documents": "SELECT doc_id + 5000000000 AS doc_id, text, lang, source, n_chars FROM documents",
            "embeddings": "SELECT vec_id + 5000000000 AS vec_id, embedding, label FROM embeddings",
        },
    ),
    Mutation(
        "collapse",
        "Total collapse: every event on one user/type/second with a DECIMAL(3,2) "
        "value, every document identical, every embedding the same vector. The "
        "transport crashed on decimal feed values; it now normalizes feed types "
        "like io.t() (decimal(20,0) -> int64, other decimals -> float64).",
        ("stream_sep_source", "stream_bootstrap_then_tail", "stream_sliding_avg",
         "stream_stateful_latest", "ts_autocorrelation", "agg_min_max_stats",
         "events_latest_per_key", "win_sessionize_batch", "dedup_exact_docs",
         "dedup_minhash_near", "simsearch_cosine_topk", "agg_spearman_corr"),
        sql={
            "events": """SELECT event_id, TIMESTAMP '2024-06-01 12:00:00' AS ts, 42 AS user_id,
                'click' AS event_type, 7.25 AS value, '{"k": 3}' AS props FROM events""",
            "documents": """SELECT doc_id,
                'the same document text repeated everywhere for the collapse probe' AS text,
                'en' AS lang, 'web' AS source, 63 AS n_chars FROM documents""",
            "embeddings": """SELECT vec_id, (SELECT embedding FROM embeddings LIMIT 1) AS embedding,
                1 AS label FROM embeddings""",
        },
    ),
    Mutation(
        "ctrlchar",
        "Java regex `\\s` includes \\x0B, RE2's does not: control characters in "
        "documents.text split the dialects. Rule: never use `\\s` in a mirrored "
        "pattern; spell the class (operators.text.BPE_ISH_PATTERN).",
        ("text_token_count", "text_tokenize_wordcount", "text_ngrams", "text_quality_score",
         "text_redact_numbers", "text_fingerprint", "text_entropy_score",
         "text_repetition_ratio", "text_chunk_documents", "text_langid_heuristic",
         "str_regex", "dedup_exact_docs"),
        sql={
            "documents": """SELECT doc_id, CASE
                WHEN doc_id % 13 = 2 THEN 'alpha' || chr(11) || 'beta gamma'
                WHEN doc_id % 13 = 5 THEN 'alpha' || chr(12) || 'beta' || chr(13) || chr(10) || 'gamma'
                WHEN doc_id % 13 = 8 THEN 'alpha' || chr(31) || 'beta' || chr(1) || 'g'
                WHEN doc_id % 13 = 11 THEN chr(11) || chr(9) || chr(11)
                WHEN doc_id % 17 = 3 THEN text || chr(11) || text
                ELSE text END AS text, * EXCLUDE (doc_id, text) FROM documents""",
        },
    ),
    Mutation(
        "decmoney",
        "TPC-H's canonical money encoding is DECIMAL(12,2). io.t() normalizes "
        "scan-edge decimals to DOUBLE; oracles whose raw per-row money arithmetic "
        "or quantiles reach the output cast to DOUBLE (DuckDB computes exact decimal).",
        ("math_basic", "project_alias", "limit_topn", "agg_median_percentile",
         "agg_median_abs_deviation", "agg_trimmed_mean", "udf_pandas_vectorized",
         "udaf_pandas_group", "scan_rowgroup_stats_audit", "agg_groupby_basic",
         "agg_global", "tpch_q6_forecast_revenue"),
        sql={
            t: f"SELECT * REPLACE ({', '.join(f'CAST({c} AS DECIMAL(12,2)) AS {c}' for c in cols)}) FROM {t}"
            for t, cols in _MONEY.items()
        },
    ),
    Mutation(
        "degenerate",
        "Pathological inputs: a two-weekday feed (empty weekend class, 1-pair "
        "autocorrelation groups), corr-degenerate lineitem groups and an all-long "
        "corpus (kappa pe = 1). Unguarded, ANSI corr throws DIVIDE_BY_ZERO or "
        "the engines split on division by zero.",
        ("agg_jensen_shannon_drift", "agg_mannwhitney_u", "agg_ks_test", "agg_cohens_kappa",
         "ts_autocorrelation", "agg_spearman_corr", "agg_skew_kurtosis_portable", "agg_corr"),
        sql={
            "events": """SELECT CAST(event_id AS BIGINT) AS event_id, ts,
                CAST(user_id AS BIGINT) AS user_id, event_type, CAST(value AS DOUBLE) AS value, props
                FROM (VALUES
                (1, TIMESTAMP '2024-01-03 10:00:00', 1, 'click',    1.5, '{"k": 1}'),
                (2, TIMESTAMP '2024-01-03 11:00:00', 2, 'click',    2.5, '{"k": 2}'),
                (3, TIMESTAMP '2024-01-04 10:00:00', 1, 'click',    3.5, '{"k": 3}'),
                (4, TIMESTAMP '2024-01-04 11:00:00', 3, 'click',    1.0, '{"k": 4}'),
                (5, TIMESTAMP '2024-01-03 12:00:00', 2, 'purchase', 9.0, '{"k": 5}'),
                (6, TIMESTAMP '2024-01-04 12:00:00', 1, 'view',     4.0, '{"k": 6}'),
                (7, TIMESTAMP '2024-01-04 13:00:00', 2, 'view',     4.0, '{"k": 7}')
                ) t(event_id, ts, user_id, event_type, value, props) ORDER BY ts, event_id""",
            # 1-row group X, zero-variance quantity Y and price Z, healthy N.
            "lineitem": """SELECT * FROM (VALUES
                ('X', CAST(10.0 AS DOUBLE), CAST(100.0 AS DOUBLE)),
                ('Y', 5.0, 100.0), ('Y', 5.0, 250.0), ('Y', 5.0, 400.0),
                ('Z', 1.0, 777.0), ('Z', 9.0, 777.0),
                ('N', 1.0, 120.0), ('N', 2.0, 260.0), ('N', 3.0, 330.0)
                ) t(l_returnflag, l_quantity, l_extendedprice)""",
            "documents": """SELECT i AS doc_id, trim(repeat('lorem ', 60)) AS text, 'en' AS lang,
                'src' || (i % 3) AS source, CAST(len(trim(repeat('lorem ', 60))) AS BIGINT) AS n_chars
                FROM range(10) t(i)""",
        },
    ),
    Mutation(
        "dupkey",
        "JSON allows duplicate keys. Spark from_json keeps both map entries while "
        "DuckDB paths read the first; duplicate-keyed payloads join the hostile "
        "class and json_to_map fails them to a NULL map on both sides.",
        ("json_to_map", "events_payload_extract", "json_extract_props", "agg_regr_slope",
         "agg_bitwise", "map_lambda_ops", "cast_types", "filter_null_handling",
         "source_csv_roundtrip", "source_json_roundtrip"),
        sql={
            "events": """SELECT event_id, ts, user_id, event_type, value, CASE
                WHEN event_id % 11 = 2 THEN '{"k":1,"k":7}'
                WHEN event_id % 11 = 5 THEN '{"k": 3, "x": 9, "k": 4}'
                WHEN event_id % 11 = 8 THEN '{"k":"s","k":5}'
                WHEN event_id % 13 = 6 THEN '{"k":5,"k":{"a":1}}'
                ELSE props END AS props FROM events""",
        },
    ),
    Mutation(
        "embedding",
        "Real embedding feeds ship NULL rows, empty/truncated arrays, NaN/Inf and "
        "NULL components and zero vectors: ANSI divide-by-zero in cosines, "
        "element_at crashes, np.stack crashes. Fixed by the V.is_valid scan gate "
        "mirrored by V.valid_sql, plus element-level finite guards.",
        ("vec_normalize_norm", "simsearch_cosine_topk", "simsearch_knn_join",
         "simsearch_lsh_bucketed", "simsearch_ivf_coarse", "simsearch_quantized_rerank",
         "vec_quantize_int8", "vec_pca_project", "vec_matryoshka_truncate",
         "vec_centroid_distance", "vec_kmeans_lloyd", "udf_pandas_vector_score",
         "dedup_embedding_cosine", "multimodal_struct_cols", "arr_lambda_transform",
         "arr_lambda_filter_agg"),
        build=_hostile_embeddings,
    ),
    Mutation(
        "empty_feed",
        "Zero-row events/documents/embeddings (TPC-H populated): schema inference "
        "over empty sinks, seed collects over nothing and 0/0 ratios. Schemas "
        "come from the writer, seeds have empty paths, ratios publish NULL.",
        ("sink_partitioned_prune", "join_dpp_partition_prune", "scan_incremental_manifest",
         "vec_pca_project", "vec_kmeans_lloyd", "stream_bootstrap_then_tail",
         "pipeline_dataset_card_report", "events_latest_per_key", "agg_global",
         "ts_weekly_ohlc", "simsearch_cosine_topk", "dedup_exact_docs", "text_tfidf",
         "stream_tumbling_count", "stream_foreach_batch_sink", "stream_incremental_upsert_view",
         "stream_scd2_maintain"),
        build=_empty("events", "documents", "embeddings"),
    ),
    Mutation(
        "empty_match",
        "Data moved out from under every literal predicate: timestamps and dates "
        "30 years on, every enum collapsed to one novel value. Aggregates over "
        "nothing and guarded 0/0 branches must agree.",
        ("tpch_q6_forecast_revenue", "tpch_q14_promo_effect", "tpch_q4_order_priority",
         "events_table_filter", "filter_in", "agg_mannwhitney_u", "events_uptime_pct",
         "agg_median_percentile", "agg_histogram", "events_hourly_seasonality",
         "win_streak_longest", "text_lang_filter_stats"),
        sql={
            "events": """SELECT event_id, ts + INTERVAL 30 YEAR AS ts, user_id,
                'zzz_novel' AS event_type, value, props FROM events""",
            "orders": """SELECT o_orderkey, o_custkey, 'Z' AS o_orderstatus, o_totalprice,
                o_orderdate + INTERVAL 30 YEAR AS o_orderdate, '9-NOVEL' AS o_orderpriority FROM orders""",
            "lineitem": """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
                l_extendedprice, l_discount, l_tax, 'Z' AS l_returnflag, 'Z' AS l_linestatus,
                l_shipdate + INTERVAL 30 YEAR AS l_shipdate FROM lineitem""",
        },
    ),
    Mutation(
        "era",
        "A backfilled feed before 1970 has negative epochs: %020d sort keys invert "
        "among negatives (fixed with a 2^62 bias on both sides), integer micros "
        "cross zero, calendar functions run proleptic. The feed shifts back 61 years.",
        ("agg_argmax_misc", "ts_weekly_ohlc", "events_interarrival_stats",
         "events_hourly_seasonality", "events_watermark_lag_audit", "events_order_repair",
         "ts_autocorrelation", "events_latest_per_key"),
        sql={"events": "SELECT * REPLACE (ts - INTERVAL 61 YEAR AS ts) FROM events"},
    ),
    Mutation(
        "extreme",
        "Negative/zero/tiny/1e7-scale values and every payload variant (missing "
        "key, string number, nested object, JSON null, malformed, empty, quoted "
        "and backslashed keys, the \\N sentinel): portable.json_int try-cast, BIGINT "
        "map cells, CSV null sentinel, NULL skew/kurtosis outside the envelope.",
        ("events_payload_extract", "json_extract_props", "json_to_map", "filter_null_handling",
         "cast_types", "agg_bitwise", "agg_regr_slope", "map_lambda_ops",
         "source_csv_roundtrip", "agg_skew_kurtosis_portable", "source_json_roundtrip",
         "agg_global", "agg_groupby_basic", "events_latest_per_key", "win_running_sum",
         "agg_median_percentile", "agg_histogram", "agg_benford_price_audit"),
        sql={
            "events": f"""SELECT event_id, ts, user_id, event_type, CASE
                WHEN event_id % 4 = 0 THEN -value WHEN event_id % 9 = 2 THEN 0.0
                WHEN event_id % 17 = 5 THEN value * 1e7 WHEN event_id % 19 = 7 THEN value * 1e-9
                ELSE value END AS value, CASE {_PAYLOADS} ELSE props END AS props FROM events""",
        },
    ),
    Mutation(
        "intts",
        "A Kafka/Debezium feed ships events.ts as an unannotated integer epoch of "
        "unknown unit. io.int_ts_unit classifies it from footer statistics and "
        "io.t(), the bootstrap seam, the transport and the harness all share it. "
        "This is the int64-millis shape.",
        ("scan_events_feed", "events_latest_per_key", "ts_weekly_ohlc",
         "join_asof_latest_event", "events_payload_extract", "agg_argmax_misc",
         "stream_sep_source", "stream_tumbling_count", "stream_bootstrap_then_tail"),
        build=_int_epoch("ms"),
    ),
    Mutation("intts_int64_s", _INTTS_REASON.format("int64 seconds"), _INTTS_PINNED, build=_int_epoch("s")),
    Mutation("intts_int64_us", _INTTS_REASON.format("int64 micros"), _INTTS_PINNED, build=_int_epoch("us")),
    Mutation(
        "intts_uint64_ms",
        _INTTS_REASON.format("uint64 millis, which Spark scans as DecimalType(20,0)"),
        _INTTS_PINNED,
        build=_int_epoch("ms", unsigned=True),
    ),
    Mutation(
        "intts_uint32_s",
        _INTTS_REASON.format("uint32 time_t seconds"),
        _INTTS_PINNED,
        build=_int_epoch("s", unsigned=True),
    ),
    Mutation(
        "intts_int32_s",
        _INTTS_REASON.format("signed int32 seconds, widened to bigint before unit dispatch"),
        _INTTS_PINNED + ("stream_bootstrap_then_tail",),
        build=_int_epoch("s", narrow=True),
    ),
    Mutation(
        "jsonhostile",
        "The JSON parsers disagree at the lexical fringe in both directions (raw "
        "control chars, surrogates, single quotes, trailing commas, NaN literals, "
        "depth/number/name caps), plus NUL bytes in documents.text. A raw-byte "
        "gate (portable.HOSTILE_JSON_RE) NULLs them identically on both engines.",
        ("events_payload_extract", "filter_null_handling", "cast_types", "agg_bitwise",
         "agg_regr_slope", "json_extract_props", "json_to_map", "map_lambda_ops",
         "text_token_count", "text_tokenize_wordcount", "text_fingerprint",
         "text_entropy_score", "dedup_exact_docs", "text_quality_score"),
        build=_jsonhostile,
    ),
    Mutation(
        "kitchen_sink",
        "Every class at once, since classes interact: second-truncated ts with "
        "tie duplicates, NULL values/props/text/lang/ts/user/type, payload "
        "variants and lexically hostile JSON, unicode and NUL-byte edge docs, "
        "cloned orders and hostile embeddings.",
        ("agg_argmax_misc", "ts_weekly_ohlc", "events_interarrival_stats", "json_to_map",
         "events_payload_extract", "dedup_exact_docs", "text_fingerprint",
         "pipeline_training_prep", "agg_mannwhitney_u", "win_first_last", "topk_per_group",
         "agg_skew_kurtosis_portable", "multimodal_struct_cols", "dedup_embedding_cosine",
         "arr_lambda_filter_agg", "events_per_key_ordered", "join_asof_latest_event",
         "win_running_distinct", "win_sessionize_batch", "filter_null_handling", "agg_bitwise"),
        build=_hostile_embeddings,
        relations={"edge": functools.partial(_edge_docs, SINK_EDGE)},
        sql={
            "events": f"""WITH base AS (SELECT event_id,
                  CASE WHEN event_id % 41 = 8 THEN NULL ELSE date_trunc('second', ts) END AS ts,
                  CASE WHEN event_id % 43 = 9 THEN NULL ELSE user_id END AS user_id,
                  CASE WHEN event_id % 47 = 10 THEN NULL ELSE event_type END AS event_type,
                  CASE WHEN event_id % 10 = 3 THEN NULL WHEN event_id % 4 = 0 THEN -value
                       WHEN event_id % 9 = 2 THEN 0.0
                       WHEN event_id % 17 = 5 THEN round(value * 1e2, 2) ELSE value END AS value,
                  CASE WHEN event_id % 13 = 5 THEN NULL {_PAYLOADS}
                    WHEN event_id % 53 = 11 THEN '{{"k":1,"n":"a' || chr(1) || 'b"}}'
                    WHEN event_id % 53 = 24 THEN '{{"k":2,"n":NaN}}'
                    WHEN event_id % 53 = 37 THEN '{{"k":3,}}'
                    WHEN event_id % 53 = 50 THEN concat(chr(123), chr(39), 'k', chr(39), ':4}}')
                    WHEN event_id % 59 = 13 THEN '{{"k":5,"n":"\\ud800"}}'
                    WHEN event_id % 59 = 26 THEN '{{"k":6,"n":"a\\u0000b"}}'
                    ELSE props END AS props FROM events)
                SELECT * FROM base UNION ALL
                SELECT event_id + 1000000, ts, user_id, 'tie_' || coalesce(event_type, ''),
                       value + 7.5, props FROM base WHERE event_id % 5 = 0 UNION ALL
                SELECT event_id + 3000000, ts, user_id, event_type, value * 2 + 1, props
                FROM base WHERE event_id % 11 = 1""",
            "documents": """WITH base AS (SELECT doc_id,
                  CASE WHEN doc_id % 17 = 2 THEN NULL ELSE text END AS text,
                  CASE WHEN doc_id % 19 = 4 THEN NULL ELSE lang END AS lang, source, n_chars
                  FROM documents)
                SELECT * FROM base UNION ALL SELECT * FROM edge UNION ALL
                SELECT doc_id + 100000, text, lang, source, n_chars FROM base WHERE doc_id % 6 = 0""",
            **_CLONE_ORDERS,
        },
    ),
    Mutation(
        "layout",
        "Nothing promises one sorted file per table: every table becomes a 3-part "
        "directory, non-feed tables row-permuted, the feed split into contiguous "
        "ts-ordered segments. Results must not follow scan order.",
        ("udaf_pandas_group", "scan_rowgroup_stats_audit", "stream_sep_source",
         "stream_bootstrap_then_tail", "stream_stateful_latest", "events_per_key_ordered",
         "win_row_number", "topk_per_group", "limit_topn", "agg_collect_sorted",
         "join_asof_latest_event", "scan_incremental_manifest"),
        build=_layout,
    ),
    Mutation(
        "negid",
        "Negative ids: the engines agree on `%` but not downstream of it (negative "
        "shift distances, salt domains escaping explode(0..N-1), numpy floor-mod "
        "vs SQL trunc-mod). Doc and vec ids negate as a pair so joins keep pairs.",
        ("agg_bitmap_distinct_users", "join_skew_salted", "multimodal_frame_sample",
         "sample_bernoulli_hash", "pipeline_dataset_split", "pipeline_mixture_sample",
         "agg_kmv_distinct_sketch", "agg_cms_freq_sketch", "agg_argmax_misc",
         "events_dedup_redelivery", "dedup_exact_docs", "json_extract_props"),
        sql={
            "events": """SELECT CASE WHEN event_id % 7 = 3 THEN -event_id ELSE event_id END AS event_id,
                ts, CASE WHEN user_id % 5 = 2 THEN -user_id ELSE user_id END AS user_id,
                event_type, value, props FROM events""",
            "documents": """SELECT CASE WHEN doc_id % 9 = 4 THEN -doc_id ELSE doc_id END AS doc_id,
                * EXCLUDE (doc_id) FROM documents""",
            "embeddings": """SELECT CASE WHEN vec_id % 9 = 4 THEN -vec_id ELSE vec_id END AS vec_id,
                * EXCLUDE (vec_id) FROM embeddings""",
        },
    ),
    Mutation(
        "nonfinite",
        "Metric feeds ship NaN, +-Inf and -0.0 in events.value. The fin() gate "
        "degrades them to NULL on both engines before any cast, rank or bucket; "
        "the pinned set is every oracle carrying an isnan gate.",
        tuple(sorted(n for n, q in REGISTRY.items() if q.oracle and "isnan(" in q.oracle)),
        build=_nonfinite_events,
    ),
    Mutation(
        "null",
        "NULL value/props/text/lang: Python workers crashed on None, min_by/max_by "
        "returned NULL-value rows DuckDB skips, NULL-text shingles disagreed.",
        ("agg_mannwhitney_u", "agg_ks_test", "ts_weekly_ohlc", "json_to_map",
         "text_fingerprint", "text_repetition_ratio", "text_contamination_check",
         "multimodal_decode_stub", "multimodal_frame_sample", "events_hourly_seasonality"),
        sql={
            "events": """SELECT event_id, ts, user_id, event_type,
                CASE WHEN event_id % 10 = 3 THEN NULL ELSE value END AS value,
                CASE WHEN event_id % 13 = 5 THEN NULL ELSE props END AS props FROM events""",
            "documents": """SELECT doc_id, CASE WHEN doc_id % 17 = 2 THEN NULL ELSE text END AS text,
                CASE WHEN doc_id % 19 = 4 THEN NULL ELSE lang END AS lang, source, n_chars
                FROM documents""",
        },
    ),
    Mutation(
        "nullts",
        "NULL event times: Spark sorts NULLS FIRST, DuckDB NULLS LAST, and the "
        "streaming source crashed on NaT. Time-ordered operators drop null-time "
        "rows on both sides (the dead-letter route), as does the SEP transport.",
        ("agg_argmax_misc", "agg_spearman_corr", "agg_theil_sen_slope",
         "events_compact_changelog", "events_incremental_agg_merge", "events_order_repair",
         "events_per_key_ordered", "events_scd2_history", "events_session_duration_histogram",
         "events_transition_matrix", "join_asof_latest_event", "join_asof_nearest",
         "join_pit_scd2", "ts_autocorrelation", "ts_cusum_drift", "ts_ewma_halflife",
         "ts_max_drawdown", "ts_rolling_zscore", "ts_seasonal_naive_mae",
         "ts_stl_decompose_lite", "ts_weekly_ohlc", "win_conditional_reset_sum",
         "win_first_last", "win_funnel_conversion", "win_hampel_outlier", "win_lag_lead",
         "win_leave_one_out_avg", "win_moving_avg", "win_nth_value", "win_period_over_period",
         "win_rolling_median", "win_row_number", "win_running_distinct", "win_running_sum",
         "win_sessionize_batch", "win_streak_longest", "stream_sep_source",
         "stream_stateful_latest", "stream_dedup_watermark", "stream_bootstrap_then_tail"),
        sql={
            "events": "SELECT * REPLACE (CASE WHEN event_id % 37 = 5 THEN NULL ELSE ts END AS ts) FROM events",
            "orders": "SELECT * REPLACE (CASE WHEN o_orderkey % 41 = 7 THEN NULL ELSE o_orderdate END "
            "AS o_orderdate) FROM orders",
            "lineitem": "SELECT * REPLACE (CASE WHEN l_orderkey % 43 = 11 THEN NULL ELSE l_shipdate END "
            "AS l_shipdate) FROM lineitem",
        },
    ),
    Mutation(
        "nullkeys",
        "NULL user_id/event_type/lang: pandas widened the id to float and crashed "
        "the transport, DuckDB ASOF drops NULL equi-keys, arg_max skips NULL "
        "values, a NULL hash sorts into only Spark's bottom-k, array_join skips NULLs.",
        ("agg_argmax_misc", "agg_kmv_distinct_sketch", "join_asof_latest_event",
         "join_asof_nearest", "join_pit_scd2", "map_keys_values", "win_running_distinct",
         "events_latest_per_key", "text_lang_filter_stats", "stream_sep_source",
         "stream_stateful_latest", "stream_bootstrap_then_tail"),
        sql={
            "events": """SELECT * REPLACE (
                CASE WHEN event_id % 31 = 4 THEN NULL ELSE event_type END AS event_type,
                CASE WHEN event_id % 29 = 3 THEN NULL ELSE user_id END AS user_id) FROM events""",
            "documents": "SELECT * REPLACE (CASE WHEN doc_id % 17 = 5 THEN NULL ELSE lang END AS lang) "
            "FROM documents",
        },
    ),
    Mutation(
        "tie",
        "Ties along every pick axis (shared (user_id, ts), (event_type, ts), "
        "duplicate docs and vectors, cloned orders): every rank, pick and arg-max "
        "key needs a unique tie-break or the engines pick different rows.",
        ("agg_argmax_misc", "ts_weekly_ohlc", "events_latest_per_key", "join_asof_latest_event",
         "win_first_last", "topk_per_group", "limit_topn", "dedup_keep_best",
         "simsearch_cosine_topk", "sample_quality_weighted"),
        sql={
            "events": """SELECT * FROM events UNION ALL
                SELECT event_id + 1000000, ts, user_id, 'tie_' || event_type, value + 7.5, props
                FROM events WHERE event_id % 5 = 0 UNION ALL
                SELECT event_id + 2000000, ts, user_id + 100000, event_type, value, props
                FROM events WHERE event_id % 7 = 3 UNION ALL
                SELECT event_id + 3000000, ts, user_id, event_type, value * 2 + 1, props
                FROM events WHERE event_id % 11 = 1""",
            "documents": """SELECT * FROM documents UNION ALL
                SELECT doc_id + 100000, text, lang, source, n_chars FROM documents WHERE doc_id % 6 = 0
                UNION ALL SELECT doc_id + 200000, reverse(text), lang, source, n_chars
                FROM documents WHERE doc_id % 8 = 1""",
            "embeddings": """SELECT * FROM embeddings UNION ALL
                SELECT vec_id + 1000000, embedding, label + 100 FROM embeddings WHERE vec_id % 9 = 0""",
            **_CLONE_ORDERS,
        },
    ),
    Mutation(
        "unicode",
        "Edge documents (empty, CJK, emoji, combining accents, case-mapping "
        "pairs): Java lower() applies the full Unicode mapping, DuckDB the simple "
        "one; portable.ascii_lower folds identically. Oracles slice bytes, not chars.",
        ("text_fingerprint", "text_entropy_score", "multimodal_decode_stub", "dedup_exact_docs",
         "pipeline_training_prep", "pipeline_dataset_card_report", "text_tokenize_wordcount",
         "text_token_count", "text_ngrams", "text_quality_score", "text_langid_heuristic",
         "text_repetition_ratio", "sample_stratified_docs"),
        relations={"edge": functools.partial(_edge_docs, UNICODE_EDGE)},
        sql={"documents": "SELECT * FROM documents UNION ALL SELECT * FROM edge"},
    ),
    Mutation(
        "uninames",
        "Every string column in every table carries the case-mapping probe set "
        "(İ, ß, CJK, combining dot, emoji) with cardinality and join keys kept. "
        "Rule: no bare upper()/lower(), no str.lower() in a mirrored UDF, fold "
        "non-ASCII runs before code-unit metrics such as levenshtein.",
        ("str_basic", "str_levenshtein", "udf_python_scalar", "str_regex", "str_split_pad",
         "agg_groupby_basic", "agg_rollup", "select_distinct", "reshape_pivot",
         "agg_string_concat"),
        sql={
            "customer": """SELECT c_custkey, c_name || CASE c_custkey % 5
                  WHEN 0 THEN ' İstanbul' WHEN 1 THEN ' straße'
                  WHEN 2 THEN ' 北京' WHEN 3 THEN ' café' ELSE ' 🚀' END AS c_name,
                c_nationkey, c_acctbal, CASE c_custkey % 5
                  WHEN 0 THEN 'BİNA' WHEN 1 THEN 'STRAẞE' WHEN 2 THEN '建筑'
                  WHEN 3 THEN 'MÖBEL' ELSE c_mktsegment END AS c_mktsegment FROM customer""",
            "supplier": """SELECT s_suppkey, s_name || CASE s_suppkey % 5
                  WHEN 0 THEN ' İzmir' WHEN 1 THEN ' größe'
                  WHEN 2 THEN ' 東京' WHEN 3 THEN ' noël' ELSE ' ✨' END AS s_name,
                s_nationkey, s_acctbal FROM supplier""",
            "region": "SELECT r_regionkey, r_name || ' İß北️🚀' AS r_name FROM region",
            "nation": "SELECT n_nationkey, n_name || ' straße' AS n_name, n_regionkey FROM nation",
            "part": """SELECT p_partkey, p_name || ' 配件İ' AS p_name, p_brand || '#ß' AS p_brand,
                p_type || ' ✨' AS p_type, p_size, p_retailprice FROM part""",
            "orders": """SELECT o_orderkey, o_custkey, o_orderstatus || 'İ' AS o_orderstatus,
                o_totalprice, o_orderdate, o_orderpriority || ' ß北' AS o_orderpriority FROM orders""",
            "lineitem": """SELECT * REPLACE (l_returnflag || '̇İ' AS l_returnflag,
                l_linestatus || '🚀' AS l_linestatus) FROM lineitem""",
            "events": "SELECT * REPLACE (event_type || '·ß' AS event_type) FROM events",
            "documents": "SELECT * REPLACE (lang || 'İ' AS lang, source || ' ße🚀' AS source) FROM documents",
        },
    ),
    Mutation(
        "unsigned",
        "C++/Rust writers ship unsigned ids: Spark maps UINT64 to DecimalType(20,0), "
        "DuckDB keeps UINT32 narrow and overflows the knuth mirror. io.t() casts "
        "decimal(20,0) to BIGINT; oracles cast ids to BIGINT before knuth and printf.",
        ("agg_argmax_misc", "ts_weekly_ohlc", "agg_cms_freq_sketch", "agg_kmv_distinct_sketch",
         "pipeline_dataset_split", "pipeline_mixture_sample", "sample_bernoulli_hash",
         "sample_quality_weighted", "sample_reservoir_topk_hash", "join_asof_latest_event",
         "join_pit_scd2", "events_latest_per_key"),
        build=_unsigned,
    ),
    Mutation(
        "zerorow",
        "Every table zero-row. Spark's grouping sets emit nothing over empty "
        "input where DuckDB still emits the grand-total row; oracles mirror Spark "
        "with HAVING count(*) > 0.",
        ("agg_rollup", "agg_cube", "agg_grouping_sets", "agg_global", "agg_median_percentile",
         "vec_kmeans_lloyd", "vec_pca_project", "tpch_q6_forecast_revenue",
         "win_funnel_conversion", "dedup_minhash_near", "text_tfidf", "join_left_outer",
         "events_latest_per_key", "udaf_pandas_group", "stream_sink_exactly_once_audit",
         "dedup_minhash_incremental_upsert"),
        build=_empty(*TABLES),
    ),
    Mutation(
        "zerorow_region",
        "Only region empty: an empty dim under real facts empties the join that "
        "feeds a rollup (the grouping-sets divergence with one empty table).",
        ("agg_rollup", "join_multiway_star"),
        build=_empty("region"),
    ),
    Mutation(
        "zerorow_events",
        "Only the events feed empty, the rest real.",
        ("stream_bootstrap_then_tail", "dedup_minhash_incremental_upsert"),
        build=_empty("events"),
    ),
    Mutation(
        "zerorow_documents",
        "Only the corpus empty, the rest real.",
        ("dedup_minhash_near", "pipeline_split_leakage_audit"),
        build=_empty("documents"),
    ),
)


def _index(table) -> dict[str, Mutation]:
    """Fail loudly at import on a bad entry, the way queries._reorder
    guards _GRADE_FIRST: an unregistered or duplicated pin, or a class
    that pins nothing, would silently shrink the matrix."""
    out: dict[str, Mutation] = {}
    for m in table:
        if m.name in out:
            raise RuntimeError(f"MUTATIONS has duplicate class {m.name!r}")
        if not m.queries:
            raise RuntimeError(f"MUTATIONS class {m.name!r} pins no queries")
        missing = [q for q in m.queries if q not in REGISTRY]
        if missing:
            raise RuntimeError(f"MUTATIONS class {m.name!r} pins unregistered names: {missing}")
        dupes = sorted({q for q in m.queries if m.queries.count(q) > 1})
        if dupes:
            raise RuntimeError(f"MUTATIONS class {m.name!r} pins duplicate names: {dupes}")
        out[m.name] = m
    return out


MUTATIONS = _index(_TABLE)


def collect_rows(name: str, spark, sf: str) -> list:
    """Collected rows of registered query `name` over fixture `sf`."""
    q = REGISTRY[name]
    return (q.raw or q.fn)(spark, sf).collect()


def assert_matches(cls: str, name: str, spark, sf: str) -> None:
    con = duck_connection(sf)
    try:
        res = check_query(name, REGISTRY[name], spark, con, sf)
    finally:
        con.close()
    assert res["status"] in ("ok", "ok-rows-only"), f"{cls}/{name}: {res['status']}: {res['detail']}"


def compare(*classes: str, ids=None):
    """The oracle-compare test over the pins of `classes`, for a test
    module to bind under its own test name. One case per (class, query),
    named by the query for one class and `class-query` for several; with
    `ids`, one case per class, named by `ids`, that checks all its pins."""
    if ids is None:
        params = [
            pytest.param(c, q, id=q if len(classes) == 1 else f"{c}-{q}")
            for c in classes
            for q in MUTATIONS[c].queries
        ]

        @pytest.mark.parametrize("cls,name", params)
        def test(cls, name, spark, mutated):
            assert_matches(cls, name, spark, mutated(cls))

    else:

        @pytest.mark.parametrize("cls", classes, ids=ids)
        def test(cls, spark, mutated):
            for name in MUTATIONS[cls].queries:
                assert_matches(cls, name, spark, mutated(cls))

    test.mutation_classes = classes
    return test

# Swept over every class by default: the queries whose shared operators
# changed last (the MinHash refactor's consumers, the sink audit, the
# subscription fan-out and the bootstrap seam).
SWEEP_NAMES = (
    "dedup_minhash_incremental_upsert",
    "stream_sink_exactly_once_audit",
    "stream_multi_subscription_fanout",
    "dedup_minhash_near",
    "dedup_clusters",
    "pipeline_neardup_prep",
    "pipeline_split_leakage_audit",
    "stream_bootstrap_then_tail",
)


def sweep(src: str, names) -> list[tuple[str, str, str]]:
    """Run `names` over every class; returns the failures."""
    from hbase_sep_spark.session import get_spark

    spark = get_spark("mutations-sweep", shuffle_partitions=8)
    root = tempfile.mkdtemp(prefix="mutations_")
    failures = []
    try:
        for cls in MUTATIONS:
            sf = materialize(MUTATIONS[cls], src, os.path.join(root, cls))
            con = duck_connection(sf)
            try:
                for name in names:
                    try:
                        res = check_query(name, REGISTRY[name], spark, con, sf)
                    except Exception:  # noqa: BLE001
                        res = {"status": "EXC", "detail": traceback.format_exc(limit=3)}
                    ok = res["status"] in ("ok", "ok-rows-only")
                    print(f"{'✓' if ok else '✗'} {cls:18s} {name:34s} {res['status']}"
                          + ("" if ok else f"  {res['detail'][:300]}"), flush=True)
                    if not ok:
                        failures.append((cls, name, res["detail"][:500]))
            finally:
                con.close()
            shutil.rmtree(sf, ignore_errors=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return failures


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="python -m tests.mutations", description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    b = sub.add_parser("build", help="write one mutated fixture")
    b.add_argument("cls", choices=MUTATIONS)
    b.add_argument("dst")
    b.add_argument("--sf", default=DEFAULT_SF, help="source fixture directory")
    s = sub.add_parser("sweep", help="check queries over every class")
    s.add_argument("--sf", default=DEFAULT_SF, help="source fixture directory")
    s.add_argument("names", nargs="*", help=f"queries (default: {' '.join(SWEEP_NAMES)})")
    args = ap.parse_args(argv)
    if not os.path.exists(f"{args.sf}/events.parquet"):
        ap.error(f"no fixture tables under {args.sf}")
    if args.cmd == "build":
        print(materialize(MUTATIONS[args.cls], args.sf, args.dst))
        return 0
    unknown = [n for n in args.names if n not in REGISTRY]
    if unknown:
        ap.error(f"unregistered names: {unknown}")
    names = args.names or SWEEP_NAMES
    failures = sweep(args.sf, names)
    print(f"\n{len(MUTATIONS) * len(names)} checks over {len(MUTATIONS)} classes: "
          + (f"{len(failures)} FAILED" if failures else "all clean"))
    for cls, name, _ in failures:
        print(" ", cls, name)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
