"""Class ``era`` of tests/mutations.py: a feed shifted 61 years before 1970."""

from __future__ import annotations

import duckdb

from tests.mutations import compare


test_pre1970_feed_matches_oracle = compare("era")


def test_era_feed_is_pre1970(mutated):
    sf = mutated("era")
    (mx,) = duckdb.sql(f"SELECT max(epoch_us(ts)) FROM '{sf}/events.parquet'").fetchone()
    assert mx < 0, "era fixture must be entirely pre-1970"
