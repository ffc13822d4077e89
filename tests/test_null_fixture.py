"""Class ``null`` of tests/mutations.py: NULL value, props, text and lang."""

from __future__ import annotations

from tests.mutations import compare


test_null_fixture_matches_oracle = compare("null")
