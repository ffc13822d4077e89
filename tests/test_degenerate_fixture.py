"""Class ``degenerate`` of tests/mutations.py: pathological inputs for the guarded statistics."""

from __future__ import annotations

from tests.mutations import compare


test_guarded_query_survives_degenerate_fixture = compare("degenerate")
