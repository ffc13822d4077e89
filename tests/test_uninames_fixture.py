"""Class ``uninames`` of tests/mutations.py: case-mapping probes in every
string column, plus the lint against bare case folds in oracles."""

from __future__ import annotations

import re

from tests.mutations import REGISTRY, compare


test_uninames_fixture_matches_oracle = compare("uninames")


def test_no_bare_case_fold_in_oracles():
    """A new oracle must not reintroduce full-Unicode case folds —
    upper()/lower() diverge between engines the moment a fixture ships
    non-ASCII strings. The lone allowed shape is lower(hex(...))."""
    bad = []
    for name, q in REGISTRY.items():
        for m in re.finditer(r"\b(upper|lower)\s*\(", q.oracle or "", re.IGNORECASE):
            if m.group(1).lower() == "lower" and q.oracle[m.end() : m.end() + 4].lower() == "hex(":
                continue
            bad.append((name, m.group(0)))
    assert not bad, f"bare case folds in oracles: {bad}"
