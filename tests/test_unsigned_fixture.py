"""Class ``unsigned`` of tests/mutations.py: unsigned ids, plus the scanner that
keeps BIGINT casts on the oracles' knuth and printf sites."""

from __future__ import annotations

import re

from tests.mutations import REGISTRY, compare


test_unsigned_fixture_matches_oracle = compare("unsigned")


_ID_REF = re.compile(r"\b\w+_id\b|\b[a-z]_\w*key\b")


def _knuth_operand(sql: str, at: int) -> str:
    """Expression text immediately left of a `% 2147483648` at index
    `at`, scanned back over one balanced-paren operand chain."""
    depth = 0
    j = at - 1
    while j >= 0:
        c = sql[j]
        if c == ")":
            depth += 1
        elif c == "(":
            if depth == 0:
                break
            depth -= 1
        elif depth == 0 and c == ",":
            break
        j -= 1
    return sql[j + 1 : at].strip()


def _printf_args(sql: str) -> list:
    """Top-level-comma-split argument lists of every printf(...) whose
    format string carries a zero-padded integer conversion."""
    out = []
    for m in re.finditer(r"printf\s*\(", sql, re.IGNORECASE):
        i = m.end()
        depth = 1
        args, start = [], i
        while i < len(sql) and depth:
            c = sql[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    args.append(sql[start:i].strip())
            elif c == "," and depth == 1:
                args.append(sql[start:i].strip())
                start = i + 1
            i += 1
        if args and "%0" in args[0]:
            out.append(args)
    return out


def _unsigned_unsafe_sites(sql: str) -> list:
    """A `% 2147483648` whose id operand lacks the BIGINT cast (DuckDB
    UINT32 arithmetic stays narrow and overflows the knuth multiply),
    or a printf('%0Nd', ...) id argument without one (printf rejects
    UBIGINT outright)."""
    bad = []
    for m in re.finditer(r"%\s*2147483648", sql):
        operand = _knuth_operand(sql, m.start())
        if _ID_REF.search(operand) and "AS BIGINT" not in operand.upper():
            bad.append(("knuth-no-cast", operand))
    for args in _printf_args(sql):
        bad.extend(("printf-no-cast", a) for a in args[1:] if _ID_REF.search(a) and "AS BIGINT" not in a.upper())
    return bad


def test_knuth_mirror_carries_bigint_cast():
    """Every knuth-hash oracle site casts the id to BIGINT before the
    mod-multiply, and every id argument of printf('%0Nd') is
    BIGINT-cast (balanced-paren scan, so `epoch_us(ts)` inside a printf
    and the `(id + 1) %` variant are both seen)."""
    bad = [(n, k, f) for n, q in REGISTRY.items() for k, f in _unsigned_unsafe_sites(q.oracle or "")]
    assert not bad, f"unsigned-unsafe oracle arithmetic: {bad}"


def test_unsigned_guard_catches_known_bad_shapes():
    """Negative self-test: the shapes a regex guard was blind to must
    be flagged by the scanner."""
    uncast_printf = (
        "SELECT arg_max(value, printf('%020d-%010d', epoch_us(ts) + 4611686018427387904, event_id)) FROM events"
    )
    assert any(k == "printf-no-cast" for k, _ in _unsigned_unsafe_sites(uncast_printf))
    uncast_knuth_plus = "WHERE ((((user_id + 1) % 2147483648) * 31) % 7) = 0"
    assert any(k == "knuth-no-cast" for k, _ in _unsigned_unsafe_sites(uncast_knuth_plus))
    uncast_knuth_plain = "ORDER BY ((doc_id % 2147483648) * 2654435761)"
    assert any(k == "knuth-no-cast" for k, _ in _unsigned_unsafe_sites(uncast_knuth_plain))
    cast_ok = (
        "SELECT printf('%020d-%010d', epoch_us(ts) + 4611686018427387904, CAST(event_id AS BIGINT)), "
        "(((CAST(user_id AS BIGINT) + 1) % 2147483648) * 31) % 7 FROM events"
    )
    assert _unsigned_unsafe_sites(cast_ok) == []
