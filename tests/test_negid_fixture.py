"""Class ``negid`` of tests/mutations.py: negative ids, plus the salted-join
row-count check."""

from __future__ import annotations

from tests.mutations import collect_rows, compare


test_negid_fixture_matches_oracle = compare("negid")


def test_salted_join_loses_no_rows(spark, mutated):
    """The silent-drop class directly: the salted join's total row
    count must equal the unsalted join's (every fact row finds its
    salt replica) even when event_id goes negative."""
    from hbase_sep_spark.io import t

    sf = mutated("negid")
    rows = collect_rows("join_skew_salted", spark, sf)
    # inner join on hot_key: every event's user exists
    assert sum(r["n_rows"] for r in rows) == t(spark, sf, "events").count()
