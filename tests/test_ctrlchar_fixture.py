"""Class ``ctrlchar`` of tests/mutations.py: control characters in documents.text,
plus the lints that keep `\\s` out of patterns and oracles."""

from __future__ import annotations

from tests.mutations import REGISTRY, compare


test_ctrlchar_fixture_matches_oracle = compare("ctrlchar")


def test_bpe_pattern_shared_with_oracle():
    """The explicit whitespace class must appear byte-equal in the
    oracle SQL — a drift here reintroduces the \\s dialect split."""
    from hbase_sep_spark.operators import text as T

    assert "\\s" not in T.BPE_ISH_PATTERN
    assert T.BPE_ISH_PATTERN == T.BPE_ISH_SQL_PATTERN
    assert T.BPE_ISH_PATTERN in REGISTRY["text_token_count"].oracle


def test_no_backslash_s_in_any_oracle():
    """No oracle may use the `\\s` class at all (Java vs RE2 \\x0B
    split); explicit classes only."""
    offenders = [n for n, q in REGISTRY.items() if q.oracle and "\\s" in q.oracle]
    assert not offenders, f"oracles using dialect-divergent \\s: {offenders}"
