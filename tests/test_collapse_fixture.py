"""Class ``collapse`` of tests/mutations.py: total collapse of every grouping axis."""

from __future__ import annotations

from tests.mutations import compare


test_collapse_fixture_matches_oracle = compare("collapse")
