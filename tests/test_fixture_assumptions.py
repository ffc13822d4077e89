"""Fixture-assumption canary (fails LOUD if /root/testdata changes).

The driver regenerates /root/testdata between rounds (it did before
round 4: new content AND new physical types). Queries keep a small set
of data-shape assumptions whose violation would cause SILENT
cross-engine divergence rather than an error — exactly the failure
mode that costs a driver CORRECTNESS row. This module pins each
load-bearing assumption with a fast DuckDB-only check, so a
regeneration that breaks one fails here by name at the next session's
first pytest run, before any debugging of "regressions".

Assumptions pinned, and why they're load-bearing:
- primary ids are unique: event_id / doc_id / vec_id are the
  TIE-BREAK keys in every ordered window, arg pick, and top-k (the
  round-6 tie-injection sweep proved the registry tie-safe GIVEN
  unique ids; duplicated ids would reopen the class).
- o_orderkey unique: TPC-H rank/topn tie-breaks (win_row_number
  orders by (o_orderdate, o_orderkey)).
- events.ts physical type is one io.t() dispatches on (int64 nanos or
  a parquet timestamp): a third encoding would mis-scan every
  events query.

NOT pinned (deliberately):
- (user_id, ts) uniqueness — queries no longer rely on it
  (agg_argmax_misc was the last, fixed round 6), and over-
  constraining the canary would fire without a real hazard.
- (l_orderkey, l_linenumber) uniqueness — writing this canary
  DISCOVERED it does not hold in the driver's TPC-H-ish fixture
  (~12k duplicate key pairs at sf0.01, differing in their other
  columns). Standing rule derived from that: l_linenumber must never
  serve as a window/rank tie-break — use o_orderkey/l_orderkey plus
  value columns, or tie-invariant rank outputs (win_rank_dense).
"""

from __future__ import annotations

import os

import duckdb
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_ORACLE, SF_UNIT

SF_DIRS = sorted({SF_UNIT, SF_ORACLE})

UNIQUE_KEYS = [
    ("events", ["event_id"]),
    ("documents", ["doc_id"]),
    ("embeddings", ["vec_id"]),
    ("orders", ["o_orderkey"]),
    ("customer", ["c_custkey"]),
    ("supplier", ["s_suppkey"]),
    ("part", ["p_partkey"]),
    ("nation", ["n_nationkey"]),
    ("region", ["r_regionkey"]),
]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("table,keys", UNIQUE_KEYS, ids=[t for t, _ in UNIQUE_KEYS])
def test_key_uniqueness(sf_dir, table, keys):
    path = f"{sf_dir}/{table}.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{path} missing")
    con = duckdb.connect()
    try:
        klist = ", ".join(keys)
        dupes = con.execute(
            f"SELECT {klist}, count(*) AS n FROM read_parquet('{path}') "
            f"GROUP BY {klist} HAVING count(*) > 1 LIMIT 5"
        ).fetchall()
    finally:
        con.close()
    assert not dupes, (
        f"{table} ({sf_dir}): key {keys} no longer unique — tie-break "
        f"keys across the registry assume it (see module docstring). "
        f"Sample dupes: {dupes}"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_events_ts_physical_type_is_dispatchable(sf_dir):
    """io.t() dispatches on the SCANNED dtype: bigint → nanos rebuild,
    timestamp → session-tz cast. Any other physical encoding (string,
    int32 days, …) would need a new dispatch arm — fail by name."""
    path = f"{sf_dir}/events.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{path} missing")
    ts_type = str(pq.read_schema(path).field("ts").type)
    assert ts_type.startswith("timestamp") or ts_type == "int64", (
        f"events.ts physical type changed to {ts_type!r} — extend the "
        f"io.t() dtype dispatch before trusting any events query"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_nanos_ts_values_are_microsecond_aligned(sf_dir):
    """ADVICE-r8 item 2: stream_bootstrap_then_tail's nanos branch
    rebuilds the seam literal from a µs-truncated Python datetime ×
    1000 (pyarrow to_pylist drops sub-µs digits), which is lossless
    ONLY if every stored ns value is µs-aligned. Rounds 1-3 feeds
    were; pin it so a regenerated TIMESTAMP(NANOS) feed with real
    sub-µs digits fails HERE by name instead of silently misplacing
    the bootstrap/tail seam (gap or overlap). Skips on the current
    TIMESTAMP(MICROS) encoding — the hazard only exists on the nanos
    arm."""
    path = f"{sf_dir}/events.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{path} missing")
    if str(pq.read_schema(path).field("ts").type) != "int64":
        pytest.skip("events.ts not int64-nanos encoded — branch inactive")
    con = duckdb.connect()
    try:
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{path}') "
            f"WHERE ts IS NOT NULL AND ts % 1000 <> 0"
        ).fetchone()[0]
    finally:
        con.close()
    assert n == 0, (
        f"events ({sf_dir}): {n} nanos ts values carry sub-µs digits — "
        f"the bootstrap seam's µs-grained datetime rebuild is lossy; "
        f"read the boundary row's raw int64 ns value instead "
        f"(streaming/queries.py nanos branch)"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_events_value_within_decimal_moment_envelope(sf_dir):
    """agg_skew_kurtosis_portable sums v..v^4 as exact DECIMAL(38,8)
    for order-independence (portable.py); since round 8 an
    out-of-envelope group DEGRADES to NULL moments on both engines
    (no more ANSI throw — VERDICT-r7 item 5, pinned by
    the extreme class of tests/mutations.py). This canary still documents the
    fixture's range: if a regeneration pushes |value| past 1e5 the
    moment queries silently return NULL rows — correct and
    crash-free, but a signal the value scale changed (rescale by a
    constant power of 10 if real moments are wanted there)."""
    path = f"{sf_dir}/events.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{path} missing")
    con = duckdb.connect()
    try:
        mx = con.execute(
            f"SELECT max(abs(value)) FROM read_parquet('{path}')"
        ).fetchone()[0]
    finally:
        con.close()
    assert mx is None or mx <= 1e5, (
        f"events.value magnitude {mx} exceeds the decimal fourth-moment "
        f"envelope (see agg_skew_kurtosis_portable docstring)"
    )


MONEY_2DP = [
    ("events", ["value"]),
    ("lineitem", ["l_extendedprice", "l_discount", "l_tax", "l_quantity"]),
    ("orders", ["o_totalprice"]),
]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("table,cols", MONEY_2DP, ids=[t for t, _ in MONEY_2DP])
def test_money_columns_are_two_decimal(sf_dir, table, cols):
    """The portable.dsum/davg exactness contract (portable.py module
    docstring) assumes base numeric columns carry at most 2 true
    decimal digits, so products carry ≤6 and DECIMAL(18,6) casts
    recover exact values — making decimal sums order-independent
    across engines and shuffle configs. A regenerated fixture with
    full-precision doubles would turn every decimal cast into an
    engine-specific rounding (the binary-tie class the round-6
    rounding migration eliminated) — fail here by name instead."""
    path = f"{sf_dir}/{table}.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{path} missing")
    cond = " OR ".join(f"{c} <> round({c}, 2)" for c in cols)
    con = duckdb.connect()
    try:
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{path}') WHERE {cond}"
        ).fetchone()[0]
    finally:
        con.close()
    assert n == 0, (
        f"{table} ({sf_dir}): {n} rows break the 2-decimal money "
        f"envelope that portable.dsum exactness relies on"
    )


MEASURE_DTYPES = [
    ("events", {"value": "double", "event_id": "int64", "user_id": "int64"}),
    (
        "lineitem",
        {
            "l_quantity": "double",
            "l_extendedprice": "double",
            "l_discount": "double",
            "l_tax": "double",
        },
    ),
    ("orders", {"o_totalprice": "double"}),
    ("customer", {"c_acctbal": "double"}),
    ("embeddings", {"embedding": "list<element: float>"}),
]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("table,want", MEASURE_DTYPES, ids=[t for t, _ in MEASURE_DTYPES])
def test_measure_columns_physical_types(sf_dir, table, want):
    """Physical-type canary for the columns every portable decimal /
    float path assumes are DOUBLE (or float vectors / int64 ids).
    Precedent: the driver DID change a physical type between rounds
    (events.ts, TIMESTAMP(NANOS) -> MICROS before round 4). If a
    regeneration ships money as DECIMAL(p,2) (the TPC-H spec type) or
    ids as int32, Spark and DuckDB would each apply their OWN decimal
    arithmetic/promotion rules where today both read identical
    doubles — every `CAST(x AS DECIMAL)` oracle mirror and every
    fin()/isnan gate (undefined on decimal) needs re-auditing. Fail
    here by name instead of debugging silent hash mismatches; the
    playbook is CLAUDE.md's regeneration note plus io.t()-edge
    normalization if it ever fires."""
    path = f"{sf_dir}/{table}.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{path} missing")
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    got = {f.name: str(f.type) for f in schema}
    for col, dtype in want.items():
        assert got.get(col) == dtype, (
            f"{table}.{col} ({sf_dir}): physical type changed to "
            f"{got.get(col)!r} (expected {dtype!r}) — re-audit decimal "
            f"casts / isnan gates before trusting any compare"
        )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_events_event_id_non_null(sf_dir):
    """event_id is the ONE remaining non-null fixture assumption on
    events: it is the transport's idempotency key and the repo-wide
    tie-break, and a NULL id has no dedup identity and no rank
    position. NULL ts / user_id / event_type became IN-CONTRACT in
    the round-8 null-ts and null-keys sweeps (dead-letter +
    null-safe policies, the nullts class of tests/mutations.py) — only the
    primary id stays pinned, so a regeneration shipping NULL ids
    fails THIS test by name instead of surfacing as query
    'regressions'."""
    path = f"{sf_dir}/events.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{path} missing")
    con = duckdb.connect()
    try:
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{path}') "
            f"WHERE event_id IS NULL"
        ).fetchone()[0]
    finally:
        con.close()
    assert n == 0, f"events ({sf_dir}): {n} rows with NULL event_id"


# Exact column SETS per table. Load-bearing in a specific way: a
# handful of graded surfaces pass whole-table schemas through to the
# compare (scan_parquet returns the bare nation scan against a
# 3-column oracle) or splice `SELECT *` against an explicit-column
# UNION branch in oracle CTEs (_DUCK_DOCS_REDELIVERED and
# pipeline_training_prep's corpus) — an ADDITIVE regeneration (a new
# column on any table) would flip those from green to schema-mismatch
# or a loud DuckDB binder error with no code change. Round-11 policy:
# pin the sets here instead of rewriting r4/r7-green oracles for a
# class with no precedent in eleven rounds (schemas have never moved;
# encodings have). If this fires: make scan_parquet's projection and
# the corpus CTE branches explicit BEFORE debugging anything else.
EXPECTED_COLUMNS = {
    "region": ["r_name", "r_regionkey"],
    "nation": ["n_name", "n_nationkey", "n_regionkey"],
    "customer": ["c_acctbal", "c_custkey", "c_mktsegment", "c_name", "c_nationkey"],
    "supplier": ["s_acctbal", "s_name", "s_nationkey", "s_suppkey"],
    "part": ["p_brand", "p_name", "p_partkey", "p_retailprice", "p_size", "p_type"],
    "orders": [
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        "o_orderpriority",
        "o_orderstatus",
        "o_totalprice",
    ],
    "lineitem": [
        "l_discount",
        "l_extendedprice",
        "l_linenumber",
        "l_linestatus",
        "l_orderkey",
        "l_partkey",
        "l_quantity",
        "l_returnflag",
        "l_shipdate",
        "l_suppkey",
        "l_tax",
    ],
    "events": ["event_id", "event_type", "props", "ts", "user_id", "value"],
    "documents": ["doc_id", "lang", "n_chars", "source", "text"],
    "embeddings": ["embedding", "label", "vec_id"],
}


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("table", sorted(EXPECTED_COLUMNS), ids=sorted(EXPECTED_COLUMNS))
def test_table_column_sets_are_exact(sf_dir, table):
    path = f"{sf_dir}/{table}.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{path} missing")
    got = sorted(pq.read_schema(path).names)
    assert got == EXPECTED_COLUMNS[table], (
        f"{table} ({sf_dir}): column set changed — additive/removed "
        f"columns break whole-table compares and SELECT-*-spliced "
        f"oracle CTEs (see module note): {got}"
    )
