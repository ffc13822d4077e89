"""Class ``decmoney`` of tests/mutations.py: DECIMAL(12,2) money, plus the
scan-normalization schema check."""

from __future__ import annotations

import duckdb

from tests.conftest import SF_UNIT
from tests.mutations import compare


test_decmoney_fixture_matches_oracle = compare("decmoney")


def test_scan_normalizes_decimals(spark, tmp_path):
    """io.t() must hand every query DOUBLE money and BIGINT ids no
    matter the physical encoding: decimal(20,0) — the UINT64
    signature — goes to bigint, every other decimal to double."""
    from hbase_sep_spark.io import t

    duckdb.sql(
        f"""COPY (SELECT CAST(o_orderkey AS UBIGINT) AS o_orderkey, o_custkey,
                 o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice,
                 o_orderdate, o_orderpriority
           FROM '{SF_UNIT}/orders.parquet')
           TO '{tmp_path}/orders.parquet' (FORMAT PARQUET)"""
    )
    dt_ = dict(t(spark, str(tmp_path), "orders").dtypes)
    assert dt_["o_orderkey"] == "bigint", dt_
    assert dt_["o_totalprice"] == "double", dt_
