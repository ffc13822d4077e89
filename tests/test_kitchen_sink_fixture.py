"""Class ``kitchen_sink`` of tests/mutations.py: every hostility class at once."""

from __future__ import annotations

from tests.mutations import compare


test_kitchen_sink_fixture_matches_oracle = compare("kitchen_sink")
