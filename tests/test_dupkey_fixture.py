"""Class ``dupkey`` of tests/mutations.py: duplicate JSON keys, plus the
NULL-map policy check."""

from __future__ import annotations

from tests.mutations import collect_rows, compare


test_dupkey_fixture_matches_oracle = compare("dupkey")


def test_dupkey_rows_null_on_both_sides(spark, mutated):
    """The policy itself: every mutated row must carry a NULL map
    (NULL prop_keys) — not a first-wins or last-wins pick."""
    by_id = {r["event_id"]: r for r in collect_rows("json_to_map", spark, mutated("dupkey"))}
    dup_ids = [i for i in by_id if i % 11 in (2, 5, 8) or i % 13 == 6]
    assert dup_ids, "fixture should hold duplicate-key rows under event_id <= 3000"
    for i in dup_ids:
        assert by_id[i]["prop_keys"] is None, f"event {i}: expected NULL-map degrade"
        assert by_id[i]["k_from_map"] is None, f"event {i}: expected NULL k"
