"""Class ``empty_match`` of tests/mutations.py: data moved out from under every literal predicate."""

from __future__ import annotations

from tests.mutations import compare


test_empty_match_fixture_matches_oracle = compare("empty_match")
