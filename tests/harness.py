"""Local replica of the driver's DuckDB-oracle correctness check.

Mirrors __spark_entry__.py's documented contract: for each registered
query, run the Spark DataFrame and the DuckDB oracle SQL over the same
parquet files and compare row-count + column names + order-insensitive
values (columns sorted by name, rows sorted, cells canonicalized;
floats compared both exactly-as-string and with 1e-8 tolerance so we
catch would-be hash mismatches before the driver does).

CLI:  python -m tests.harness [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import datetime as _dt
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from hbase_sep_spark.io import TABLES

DEFAULT_SF = "/root/testdata/sf0.01"


def duck_connection(sf_dir: str):
    con = duckdb.connect()
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        src = (
            f"read_parquet('{path}/*.parquet')"
            if os.path.isdir(path)
            # Multi-file table layout (the layout class of tests/mutations.py):
            # Spark reads the directory natively; DuckDB needs a glob.
            else f"read_parquet('{path}')"
        )
        if not os.path.exists(path):
            continue
        select = "SELECT *"
        if name == "events":
            # Integer-epoch ts (raw Kafka/Debezium int64, no unit
            # annotation): mirror io.t()'s footer-stats unit
            # classification so the oracle sees the same instants
            # (round-11; the `//` floor on nanos matches Spark's
            # `div 1000` under the whole-µs envelope).
            (ts_type,) = (
                r[1]
                for r in con.execute(f"DESCRIBE SELECT ts FROM {src}").fetchall()
            )
            if ts_type in ("BIGINT", "INTEGER", "UBIGINT", "UINTEGER"):
                from hbase_sep_spark.io import int_ts_unit

                rebuild = {
                    "s": "make_timestamp(CAST(ts AS BIGINT) * 1000000)",
                    "ms": "make_timestamp(CAST(ts AS BIGINT) * 1000)",
                    "us": "make_timestamp(CAST(ts AS BIGINT))",
                    "ns": "make_timestamp(CAST(ts AS BIGINT) // 1000)",
                }[int_ts_unit(path)]
                select = f"SELECT * REPLACE ({rebuild} AS ts)"
        con.execute(f"CREATE OR REPLACE VIEW {name} AS {select} FROM {src}")
    return con


def _canon(v):
    """Canonicalize one cell for order-insensitive comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    # numpy scalars → python
    if hasattr(v, "item") and not isinstance(v, (list, tuple, dict)):
        try:
            return _canon(v.item())
        except (ValueError, AttributeError):
            pass
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    return v


def _driver_canon_probe(df_pandas, side):
    """Replica of the driver canonicalizer's first move: pandas
    sort_values over the raw frame. It raises `TypeError: unhashable
    type: 'list'` on any array/map output column (agg_collect_sorted's
    round-1 driver FAIL) — surface that locally so local green
    predicts driver green."""
    cols = sorted(df_pandas.columns)
    try:
        df_pandas[cols].sort_values(by=cols, kind="stable")
    except TypeError as e:
        raise TypeError(
            f"{side} result would crash the driver canonicalizer "
            f"(array/map output column?): {e}"
        ) from e


def _sort_key(row):
    """Order rows with non-float cells first and floats by a rounded
    key, so sub-tolerance float differences between engines can't
    reorder the two sides differently (fail-closed flakiness)."""
    nonfloat, floats = [], []
    for v in row:
        if isinstance(v, float):
            floats.append(round(v, 6))
        else:
            nonfloat.append(repr(v))
    return (nonfloat, floats, repr(row))


def _rows(df_pandas):
    cols = sorted(df_pandas.columns)
    out = []
    for tup in df_pandas[cols].itertuples(index=False, name=None):
        out.append(tuple(_canon(v) for v in tup))
    out.sort(key=_sort_key)
    return cols, out


def _cells_equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, (float, int)):
        return math.isclose(a, float(b), rel_tol=1e-9, abs_tol=1e-8)
    if isinstance(b, float) and isinstance(a, (float, int)):
        return math.isclose(float(a), b, rel_tol=1e-9, abs_tol=1e-8)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cells_equal(x, y) for x, y in zip(a, b))
    return a == b


def _exact(a, b):
    """Strict equality the way a value-hash would see it."""
    return repr(a) == repr(b)


def check_query(name, query, spark, con, sf_dir):
    """Returns dict(status, detail). status ∈ ok | ok-rows-only |
    mismatch | error | warn-float | warn-realigned (the last counts
    as FAILING in the CLI: rows matched only after multiset
    realignment, which the real driver's rank-aligned compare would
    not do)."""
    t0 = time.time()
    try:
        sdf = query.fn(spark, sf_dir)
        spdf = sdf.toPandas()
    except Exception as e:  # noqa: BLE001
        return {"status": "error", "detail": f"spark: {type(e).__name__}: {e}", "sec": time.time() - t0}
    if query.oracle is None:
        return {"status": "ok-rows-only", "detail": f"{len(spdf)} rows", "sec": time.time() - t0}
    try:
        odf = con.execute(query.oracle).fetchdf()
    except Exception as e:  # noqa: BLE001
        return {"status": "error", "detail": f"duckdb: {type(e).__name__}: {e}", "sec": time.time() - t0}

    try:
        _driver_canon_probe(spdf, "spark")
        _driver_canon_probe(odf, "oracle")
    except TypeError as e:
        return {"status": "error", "detail": str(e), "sec": time.time() - t0}

    if len(spdf) != len(odf):
        return {
            "status": "mismatch",
            "detail": f"row count: spark={len(spdf)} oracle={len(odf)}",
            "sec": time.time() - t0,
        }
    scols, srows = _rows(spdf)
    ocols, orows = _rows(odf)
    if scols != ocols:
        return {
            "status": "mismatch",
            "detail": f"columns: spark={scols} oracle={ocols}",
            "sec": time.time() - t0,
        }
    n_float_warn = 0
    misaligned = []  # (i, spark_row, oracle_row) pairwise failures
    for i, (sr, orow) in enumerate(zip(srows, orows)):
        if not _cells_equal(sr, orow):
            misaligned.append((i, sr, orow))
            continue
        if not _exact(sr, orow):
            n_float_warn += 1
            if n_float_warn <= 1:
                first_warn = f"row {i}: spark={sr!r} oracle={orow!r}"
    n_realigned = 0
    if misaligned:
        # Two cross-engine floats that differ sub-tolerance can still
        # straddle a rounding boundary of _sort_key's quantized float
        # component and land at different ranks, misaligning every row
        # between them. Before failing, re-match the pairwise failures
        # as a multiset with the same cell tolerance (greedy is fine —
        # tolerance classes are tiny); anything left unmatched is a
        # real mismatch, so the check stays fail-closed.  Realignment
        # is surfaced as its OWN status (warn-realigned, counted as a
        # failure by the CLI): the real driver compares rank-aligned
        # rows, so a query that needs realignment locally is at hash
        # risk there and must get harder sort keys, not a pass.
        leftover = [orow for _, _, orow in misaligned]
        for i, sr, _ in misaligned:
            hit = next((j for j, orow in enumerate(leftover) if _cells_equal(sr, orow)), None)
            if hit is None:
                return {
                    "status": "mismatch",
                    "detail": f"row {i}: spark={sr!r} no tolerant oracle match",
                    "sec": time.time() - t0,
                }
            leftover.pop(hit)
            n_realigned += 1
            if n_realigned <= 1:
                first_realign = f"row {i}: spark={sr!r}"
    if n_realigned:
        return {
            "status": "warn-realigned",
            "detail": (
                f"{n_realigned}/{len(srows)} rows only match after multiset "
                f"realignment (driver rank-compare may fail — harden sort "
                f"keys): {first_realign}"
            ),
            "sec": time.time() - t0,
        }
    if n_float_warn:
        return {
            "status": "warn-float",
            "detail": f"{n_float_warn}/{len(srows)} rows differ in exact repr (hash risk): {first_warn}",
            "sec": time.time() - t0,
        }
    return {"status": "ok", "detail": f"{len(srows)} rows", "sec": time.time() - t0}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("HARNESS_SF_DIR", DEFAULT_SF))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from hbase_sep_spark.registry import load_all
    from hbase_sep_spark.session import get_spark

    registry = load_all()
    names = args.names or sorted(registry)
    unknown = [n for n in names if n not in registry]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)

    # SPARK_GRAFT_SHUFFLE override = the determinism guard: sum-order
    # bugs only surface when the partial-aggregation fan-in changes.
    spark = get_spark(
        "oracle-harness", shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8"))
    )
    con = duck_connection(args.sf)
    n_bad = 0
    for name in names:
        res = check_query(name, registry[name], spark, con, args.sf)
        flag = "✓" if res["status"].startswith("ok") else ("~" if res["status"] == "warn-float" else "✗")
        # warn-realigned falls through to ✗: realignment-only matches
        # are a driver hash risk, not a pass.
        if flag == "✗":
            n_bad += 1
        print(f"{flag} {name:32s} {res['status']:14s} {res['sec']:6.2f}s  {res['detail']}")
    print(f"\n{len(names) - n_bad}/{len(names)} passing")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
