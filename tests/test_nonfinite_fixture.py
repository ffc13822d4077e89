"""Class ``nonfinite`` of tests/mutations.py: NaN, +-Inf and -0.0 values, plus
the lints on the oracles' isnan gates."""

from __future__ import annotations

import re

from tests.mutations import MUTATIONS, REGISTRY, compare


test_nonfinite_fixture_matches_oracle = compare("nonfinite")


# Nonfinite: self-discovering — a query is in the class iff its oracle
# carries an isnan gate. The NULL-the-measure CASE and the drop-the-row
# filter are the only two sanctioned spellings of that gate.
_FIN_GATED = MUTATIONS["nonfinite"].queries


_CANON_NULL = re.compile(
    r"CASE\s+WHEN\s+isnan\(([a-z_0-9.]+)\)\s+OR\s+isinf\(\1\)\s+THEN\s+NULL\s+ELSE\s+\1\s+END", re.I
)


_CANON_FILTER = re.compile(r"NOT\s*\(\s*isnan\(([a-z_0-9.]+)\)\s+OR\s+isinf\(\1\)\s*\)", re.I)


def test_fin_gated_class_is_nonempty_and_expected_size():
    # ~20 gated queries; a collapse means oracles stopped spelling the gate.
    assert len(_FIN_GATED) >= 15, _FIN_GATED
    assert "agg_skew_kurtosis_portable" in _FIN_GATED
    assert "agg_histogram" in _FIN_GATED


def test_oracle_nonfinite_gates_match_canonical_form():
    """Every inlined oracle gate must be textually one of the two
    canonical shapes so the variants can't drift (an oracle checking
    isnan but not isinf would disagree with fin() on an Inf feed)."""
    for name in _FIN_GATED:
        o = REGISTRY[name].oracle
        total = len(re.findall(r"isnan\(", o))
        canon = len(_CANON_NULL.findall(o)) + len(_CANON_FILTER.findall(o))
        assert canon == total, f"{name}: {total - canon} isnan site(s) not in canonical form"
