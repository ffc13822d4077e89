"""Class ``extreme`` of tests/mutations.py: extreme values and payload variants,
plus the moment-envelope NULL degrade."""

from __future__ import annotations

from tests.mutations import collect_rows, compare


test_extreme_fixture_matches_oracle = compare("extreme")


def test_skew_kurtosis_envelope_degrades_to_null(spark, mutated):
    """An out-of-envelope |value| (the extreme class's value*1e7 rows
    reach ~5e9 ≫ 1e5) must NULL the group's moments — on BOTH engines
    — instead of throwing ANSI ARITHMETIC_OVERFLOW on the
    DECIMAL(38,8) fourth-power sum. Every event_type group holds a
    mutated row, so every output row carries NULL moments while n
    stays populated."""
    rows = collect_rows("agg_skew_kurtosis_portable", spark, mutated("extreme"))
    assert rows, "expected per-event_type output rows"
    for r in rows:
        assert r["n"] > 0
        assert r["skewness_pop"] is None, f"{r['event_type']}: expected NULL degrade"
        assert r["excess_kurtosis_pop"] is None, f"{r['event_type']}: expected NULL degrade"
