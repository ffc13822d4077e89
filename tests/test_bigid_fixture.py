"""Class ``bigid`` of tests/mutations.py: ids past 2^31, plus the knuth_hash overflow check."""

from __future__ import annotations

import pyspark.sql.functions as F

from tests.mutations import compare


test_bigid_query_matches_oracle = compare("bigid")


def test_knuth_hash_no_overflow_and_small_id_identity(spark):
    """portable.knuth_hash: (a) never overflows, even at id = 2^62;
    (b) equals the naive id*K%M form for every id below 2^31."""
    from hbase_sep_spark.functions.portable import HASH_MOD, KNUTH, knuth_hash

    ids = [0, 1, 12345, 2**31 - 1, 2**31, 5_000_000_000, 2**62]
    df = spark.createDataFrame([(i,) for i in ids], "id bigint")
    rows = df.select(
        "id",
        knuth_hash("id").alias("h"),
        F.when(F.col("id") < 2**31, (F.col("id") * F.lit(KNUTH)) % F.lit(HASH_MOD)).alias("naive"),
    ).collect()
    for r in rows:
        assert 0 <= r["h"] < HASH_MOD
        if r["id"] < 2**31:
            assert r["h"] == r["naive"], r
        # engine-mirror: DuckDB evaluates the same expression text
        assert r["h"] == ((r["id"] % 2147483648) * KNUTH) % HASH_MOD, r
