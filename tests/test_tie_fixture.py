"""Class ``tie`` of tests/mutations.py: ties along every pick axis."""

from __future__ import annotations

from tests.mutations import compare


test_tie_fixture_matches_oracle = compare("tie")
