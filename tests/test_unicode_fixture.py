"""Class ``unicode`` of tests/mutations.py: edge documents (CJK, emoji, case-mapping pairs)."""

from __future__ import annotations

from tests.mutations import compare


test_unicode_fixture_matches_oracle = compare("unicode")
