"""Portable (engine-deterministic) aggregate expressions.

The problem: Spark sums doubles in partial-aggregate arrival order,
which varies run to run; DuckDB sums in its own order. When a group's
true sum sits within one ulp of a 0.005 grid point (constant with
money-like 2-decimal inputs), round(sum(x), 2) flips between engines
— or between two runs of the same engine.

The fix: cast each addend to DECIMAL(18,6) before summing. Addends
here carry at most 6 true decimal digits (prices/quantities have 2;
price*(1±rate) products have ≤6), and the double error is ~1e-10 ≪
the 5e-7 decimal-rounding boundary, so the cast recovers the exact
value and decimal addition is associative → the sum is EXACT and
order-independent in both engines. Final round-half-up on an exact
decimal is identical in Spark (HALF_UP) and DuckDB (half away from
zero) for ties.

SQL mirror (use verbatim in oracles):
  dsum  → round(sum(CAST(x AS DECIMAL(18,6))), 2)::DOUBLE
  davg  → round(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(x), 2)
  nz    → (expr) + 0.0                     -- normalizes -0.0 to 0.0

ARRAY OUTPUTS ARE FORBIDDEN in sql-hash queries: the driver's
canonicalizer calls pandas sort_values on the raw result frame, which
raises `TypeError: unhashable type: 'list'` on any array/map column
(proven by agg_collect_sorted's round-1 FAIL). Serialize instead with
`arr_str` and mirror it in the oracle:
  arr_str(a)          → array_to_string(a, ',')          -- int/str elems
  arr_str(a, '%.4f')  → array_to_string(list_transform(a,
                          x -> printf('%.4f', x)), ',')  -- double elems
Doubles MUST be pre-rounded to the same scale as the format (the value
is then ~1e-17 from a decimal grid point, so Java HALF_UP vs C
half-even tie-breaking can never disagree) and nz()-ed if they can be
a rounded negative zero.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

DEC = "decimal(18,6)"


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dsum(col, scale: int = 2) -> Column:
    """Order-independent rounded sum of a money-like double column."""
    return F.round(F.sum(_c(col).cast(DEC)), scale).cast("double")


def davg(col, scale: int = 2) -> Column:
    """Order-independent rounded average: exact decimal sum / count."""
    c = _c(col)
    return F.round(F.sum(c.cast(DEC)).cast("double") / F.count(c), scale)


def dsum_window(col, window, scale: int = 2) -> Column:
    """dsum over a window frame."""
    return F.round(F.sum(_c(col).cast(DEC)).over(window), scale).cast("double")


def msum_window(col, window, scale: int = 2) -> Column:
    """Order-independent rounded window sum via int64 micros — the
    fast twin of dsum_window (~30% cheaper per row: long adds instead
    of JVM BigDecimal adds in the running-frame hot loop).

    Same exactness argument as DEC: addends carry ≤6 true decimal
    digits, so round(x*1e6) recovers the exact micros integer and
    integer addition is associative. The quotient sum/1e6 is within
    one ulp of a ≤6-decimal value, so the final per-row round can't
    straddle a tie differently across engines (positive values:
    HALF_UP == half-away-from-zero).

    SQL mirror (use verbatim in oracles):
      round(sum(CAST(round(x * 1000000, 0) AS BIGINT))
            OVER (...) / 1000000.0, <scale>)
    (DuckDB window-sums BIGINT as HUGEINT — exact; Spark sums long —
    exact for any realistic money totals: 9.2e18 overflow headroom.)
    """
    micros = F.round(_c(col) * F.lit(1000000), 0).cast("long")
    return F.round(F.sum(micros).over(window) / F.lit(1000000.0), scale)


def nz(col) -> Column:
    """Normalize IEEE negative zero to positive zero (repr-portable)."""
    return _c(col) + F.lit(0.0)


def round_nz(col, scale: int) -> Column:
    """round() that can never emit -0.0."""
    return F.round(_c(col), scale) + F.lit(0.0)


KNUTH = 2654435761
HASH_MOD = 4294967296  # 2^32
# Reduce the id modulo 2^31 BEFORE the Knuth multiply: (2^31 - 1) * K
# ≤ 7.02e18 < 2^63 for every multiplier ≤ 2^32, so the product can
# never hit ANSI ARITHMETIC_OVERFLOW however large the id grows (a
# bare id * K throws once id exceeds ~2.8e9 — realistic at 100 TB).
# Values are unchanged for id < 2^31, which covers every fixture SF.
HASH_ID_MOD = 2147483648  # 2^31


def knuth_hash(col, k: int = KNUTH, m: int = HASH_MOD) -> Column:
    """Overflow-safe multiplicative (Knuth) hash of an integer id.

    SQL mirror (use verbatim in oracles):
      ((CAST(id AS BIGINT) % 2147483648) * <k>) % <m>

    The BIGINT cast matters on the DuckDB side only: a parquet UINT32
    id column stays UINT32 through `%` there, and the UINT32×UINT32
    Knuth multiply overflows (round-10 unsigned sweep) — where BIGINT
    arithmetic is exact for every operand here. A no-op on signed
    inputs. (Spark never needs it: unsigned ids are normalized to
    BIGINT at the scan by io._normalize_unsigned.)
    """
    return ((_c(col) % F.lit(HASH_ID_MOD)) * F.lit(k)) % F.lit(m)


_ASCII_UP = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LO = "abcdefghijklmnopqrstuvwxyz"
# SQL mirror (use verbatim in oracles, with the column spliced in):
ASCII_LOWER_SQL = f"translate({{}}, '{_ASCII_UP}', '{_ASCII_LO}')"


def ascii_lower(col) -> Column:
    """Engine-identical lowering: fold A-Z only, leave every other
    code point untouched.

    Full-Unicode lower() DIVERGES between engines (round-6 unicode
    sweep): Java/Spark lowercases U+0130 'İ' to "i" + COMBINING DOT
    (two code points, the full Unicode mapping) while DuckDB's
    utf8proc uses the simple mapping to plain "i" — so any hash,
    token extraction, or distinct over lower(text) silently disagrees
    the moment a regenerated corpus carries Turkish/azeri dotted
    capitals (ditto other full-vs-simple mapping gaps). translate()
    is a code-point-wise substitution in both engines, identical to
    lower() on ASCII corpora, and locale-independent.
    """
    return F.translate(_c(col), _ASCII_UP, _ASCII_LO)


# SQL mirror (use verbatim in oracles, with the column spliced in):
ASCII_UPPER_SQL = f"translate({{}}, '{_ASCII_LO}', '{_ASCII_UP}')"


def ascii_upper(col) -> Column:
    """Engine-identical uppering: fold a-z only (see ascii_lower).

    The upper() direction diverges the same way lower() does — and
    worse: Java's full mapping expands U+00DF 'ß' to "SS" (two code
    points) where utf8proc's simple mapping leaves it unchanged, so
    upper() output columns disagree byte-for-byte the moment a
    regenerated dimension carries German/Turkish names (round-10
    unicode-enum sweep: str_basic's upper(c_name) was the exposure).
    """
    return F.translate(_c(col), _ASCII_LO, _ASCII_UP)


# Engine-identical input fold for code-unit-sensitive string metrics
# (levenshtein): the engines COUNT differently on non-ASCII input
# (Java operates on UTF-16 units / full mappings, DuckDB on UTF-8
# codepoints), so collapse every RUN of non-ASCII code points to a
# single '#' BEFORE measuring — runs collapse identically on both
# engines (a surrogate pair is one run member either way), and the
# fold is the identity on ASCII corpora. Spark side: F.regexp_replace
# (col, ASCII_FOLD_RE, '#'); DuckDB mirror needs the 'g' flag:
# regexp_replace(x, '<re>', '#', 'g'). Both dialects parse the \\xNN
# escapes identically (the textual escape must reach the regex
# engine — don't interpolate raw bytes).
ASCII_FOLD_RE = "[^\\x00-\\x7F]+"
ASCII_FOLD_SQL = "regexp_replace({}, '[^\\x00-\\x7F]+', '#', 'g')"


# Hostile-JSON gate (round-8 lenient-parser sweep). The two engines'
# JSON PARSERS disagree at the lexical fringe, in BOTH directions:
# Spark's get_json_object (Jackson, lenient) extracts values from
# payloads carrying raw C0 control chars inside strings (\x00-\x1F —
# spec says they MUST be escaped) and lone-surrogate \uD800 escapes,
# both of which DuckDB's json_valid (yyjson, strict) rejects; yyjson
# conversely ACCEPTS trailing commas and bare NaN/Infinity literals,
# which Jackson rejects. No regex can split in-string from
# between-token control chars (that needs a parser), and RE2 has no
# lookarounds to pair surrogates — so the gate is deliberately
# OVERBROAD but computed from the raw payload bytes IDENTICALLY on
# both engines: any payload matching it degrades to NULL on BOTH
# sides. Overbreadth (an escaped emoji pair, a string containing
# ",}" or the word "NaN") costs only conservatism, never agreement.
# The pattern text uses only syntax Java regex and RE2 parse the
# same way (\xhh classes, alternation, literal-backslash escapes).
# Probed variant-by-variant in the jsonhostile class of tests/mutations.py.
HOSTILE_JSON_RE = (
    "[\\x00-\\x1f]"  # raw C0 control char anywhere (incl. bare tab/CR/LF)
    "|\\\\u[dD][89a-fA-F]"  # any UTF-16 surrogate \u-escape, paired or lone
    "|NaN|Infinity"  # yyjson's non-standard number literals
    "|,[ ]*[}\\]]"  # trailing comma before a closer
    # single-quoted key/value (Jackson-lenient, yyjson-invalid): an
    # apostrophe in a structural position — right after { , : or [.
    # \x27 = ' (keeps the pattern splicable into a SQL '...' literal),
    # \x5B = [ (class-safe in both dialects). An apostrophe INSIDE a
    # double-quoted string ("it's") is preceded by a word char, not a
    # structural one, and stays clean (probed).
    "|[{,:\\x5B][ ]*\\x27"
)


# Jackson (Spark's JSON parser) enforces a nesting-depth cap (fails
# between depth 1000 and 1100, probed round 9): past it,
# get_json_object/from_json return NULL for the WHOLE payload while
# DuckDB's yyjson parses iteratively to any depth (probed to 100 000)
# and happily extracts — a silent divergence on every json_int
# consumer. Depth can't be gated by regex: a counted-repetition
# pattern (`([{\\[][^{\\[]*){901,}`) fatally StackOverflows the JVM's
# backtracking matcher on a long opener run (probed — it KILLED the
# driver), so the gate is pure length arithmetic instead: total count
# of opening braces/brackets, an OVERBROAD depth proxy (depth ≤
# openers always; a wide-but-shallow 1000-element payload gets gated
# too — conservatism, never disagreement). Computed identically on
# both engines via length(x) - length(replace(replace(x,'{',''),
# '[',''))  — linear, no recursion. Real fixture payloads are ~3
# openers; zero gate hits at any SF.
MAX_JSON_OPENERS = 900


# Jackson's other StreamReadConstraints caps (2.15+, probed round 10)
# are the same silent-divergence class as the depth cap — each makes
# Spark NULL the WHOLE payload while yyjson parses and extracts fine,
# even when the extracted key itself is tiny and clean:
#   - max NUMBER token length (~1000 chars): '{"k": 5, "pad": 777…}'
#     with a 2000-digit sibling number → Spark NULL, DuckDB 5.
#     Proxy: total ASCII-digit count via length-translate arithmetic.
#     A >1000-char number token carries ≥996 digits (token = sign +
#     digits + '.' + 'e' + sign ≤ digits+4), so digits > 900 gates
#     every payload that could hit the cap, with margin. Overbroad
#     (900 digits spread over many small numbers gates too) — costs
#     only conservatism, never agreement.
#   - max field-NAME length (50k chars): a 60k-char key → Spark NULL,
#     DuckDB extracts the sibling fine (probed). Proxy: total payload
#     length > 32768 (any >50k name makes the payload >50k chars).
#     Also subsumes the 20M string-token cap. A 1M-char STRING value
#     parses fine on both engines (probed) but gates — conservatism
#     again; real fixture payloads are ~100 bytes, zero gate hits.
MAX_JSON_DIGITS = 900
MAX_JSON_LENGTH = 32768


def _openers(col) -> Column:
    p = _c(col)
    return F.length(p) - F.length(
        F.replace(F.replace(p, F.lit("{"), F.lit("")), F.lit("["), F.lit(""))
    )


def _openers_sql(col: str) -> str:
    return (
        "length(" + col + ") - length(replace(replace(" + col + ", '{', ''), '[', ''))"
    )


def _digits(col) -> Column:
    p = _c(col)
    return F.length(p) - F.length(F.translate(p, "0123456789", ""))


def _digits_sql(col: str) -> str:
    return "length(" + col + ") - length(translate(" + col + ", '0123456789', ''))"


def hostile_json_sql(col: str = "props") -> str:
    """The FULL hostility predicate as DuckDB SQL (regex gate + the
    three StreamReadConstraints proxies: depth/openers, number-token/
    digits, name-length/payload-length), single-sourced: interpolate
    THIS into any oracle that hand-mirrors json parse semantics
    (json_to_map's coercion mirror) instead of re-spelling
    regexp_matches(HOSTILE_JSON_RE)."""
    return (
        f"(regexp_matches({col}, '{HOSTILE_JSON_RE}') OR "
        f"{_openers_sql(col)} > {MAX_JSON_OPENERS} OR "
        f"{_digits_sql(col)} > {MAX_JSON_DIGITS} OR "
        f"length({col}) > {MAX_JSON_LENGTH})"
    )


def json_gate(col) -> Column:
    """True iff the payload is transport-clean (not hostile-gated).
    NULL input → NULL (callers wrap in F.when, which treats it as
    not-true → NULL result, matching the SQL CASE in json_int_sql)."""
    p = _c(col)
    return (
        ~p.rlike(HOSTILE_JSON_RE)
        & (_openers(p) <= F.lit(MAX_JSON_OPENERS))
        & (_digits(p) <= F.lit(MAX_JSON_DIGITS))
        & (F.length(p) <= F.lit(MAX_JSON_LENGTH))
    )


def json_int(col, path: str = "$.k", typ: str = "int") -> Column:
    """Tolerant typed payload extraction: JSON path → INT, degrading
    every malformed/mistyped/hostile payload to NULL instead of
    crashing or diverging.

    Under ANSI (the driver's plain session), `get_json_object(...)
    .cast("int")` THROWS CAST_INVALID_INPUT the moment a feed carries
    a nested/string-typed/malformed payload value (round-6 props
    sweep crashed seven queries this way) — and an event transport
    must treat payloads as untrusted. try_cast matches DuckDB's
    TRY_CAST semantics EXACTLY on every probed variant (int, quoted
    int, missing key, nested object, JSON null, malformed, empty,
    SQL NULL). The HOSTILE_JSON_RE gate closes the remaining
    lenient-vs-strict parser gap (see its comment): gated payloads
    are NULL on both engines by construction.

    SQL mirror (interpolate into oracles): json_int_sql() — same
    gate, same guard, same cast, generated from one constant so the
    two spellings cannot drift.
    """
    p = _c(col)
    return (
        F.when(~json_gate(p), F.lit(None).cast("string"))
        .otherwise(F.get_json_object(p, path))
        .try_cast(typ)
    )


# DuckDB's TRY_CAST(VARCHAR AS INTEGER/BIGINT) accepts fractional and
# exponent strings and ROUNDS them ('1.5' → 2, '1e3' → 1000, and
# json_extract_string renders 1e3/5.0 as '1000.0'/'5.0') where ANSI
# Spark's try_cast to an integral type NULLs anything non-integral —
# probed round 10: 8 silent divergences ('{"k": 1.5}', '{"k": 1e3}',
# quoted forms, negatives) through the OLD unguarded mirror. The
# oracle therefore pre-filters the extracted string with an integral
# pattern before TRY_CAST; Spark's own semantics are unchanged (it is
# the system under test). Optional '[ ]*' padding only: both engines
# trim plain spaces identically ('  -7', '+9 ' probed equal), and any
# OTHER whitespace inside a payload string is a raw C0 control char,
# already hostile-gated payload-wide. Signs, leading zeros, nbsp,
# '5.', '.5', '5e0', '٥', '0x5' probed NULL-equal under the guard.
_INTEGRAL_RE = "^[ ]*[-+]?[0-9]+[ ]*$"


def json_int_sql(col: str = "props", key: str = "k", sql_type: str = "INTEGER") -> str:
    """DuckDB mirror of json_int(): hostile gate (same HOSTILE_JSON_RE
    bytes + the openers/digits/length StreamReadConstraints proxies) +
    json_valid guard (DuckDB's json_* functions ERROR on malformed
    input where Spark's get_json_object yields NULL) +
    json_extract_string (unquotes scalars exactly like
    get_json_object, minifies nested objects identically) + the
    _INTEGRAL_RE guard (DuckDB TRY_CAST rounds fractional/exponent
    strings where Spark NULLs them — see the constant's comment) +
    TRY_CAST. Integral targets only (INTEGER/BIGINT): the guard
    deliberately rejects fractional strings, so do NOT pass a float
    sql_type — add a separate guarded helper if one is ever needed."""
    extracted = f"json_extract_string({col}, '$.{key}')"
    return (
        f"TRY_CAST(CASE WHEN NOT {hostile_json_sql(col)} "
        f"AND json_valid({col}) "
        f"AND regexp_matches({extracted}, '{_INTEGRAL_RE}') THEN "
        f"{extracted} END AS {sql_type})"
    )


def fin(col) -> Column:
    """Tolerant measure extraction: non-finite double → NULL.

    A 100 TB metric feed ships NaN/±Inf `value`s (upstream divide-by-
    zero, overflow, sentinel encodings). Under ANSI (the driver's
    plain session) any `CAST(value AS BIGINT/DECIMAL)` — the
    value_micros / dsum patterns — THROWS CAST_OVERFLOW on them, and
    DuckDB's casts error identically; where nothing crashes, NaN
    ordering/bucketing semantics (rank tests, width_bucket) diverge
    between engines. The round-7 non-finite sweep crashed or diverged
    33 queries this way. Policy (mirrors json_int for payloads and
    the V.is_valid gate for embeddings): garbage measures degrade to
    NULL — aggregates then skip them with identical semantics in both
    engines. Identity on finite data (incl. NULL: the when() condition
    is NULL so the otherwise branch passes the NULL through).

    SQL mirror — spell ONE of the two canonical forms in the oracle
    (the nonfinite class of tests/mutations.py rejects any other isnan spelling):
      NULL-the-measure:  (CASE WHEN isnan(v) OR isinf(v) THEN NULL ELSE v END)
      drop-the-row:      WHERE NOT (isnan(v) OR isinf(v))    -- rank tests
    """
    c = _c(col)
    return F.when(F.isnan(c) | (F.abs(c) == F.lit(float("inf"))), F.lit(None)).otherwise(c)


def arr_str(arr, fmt: str | None = None, sep: str = ",") -> Column:
    """Serialize an array column to a delimited string so the result
    never carries a list cell past the driver's canonicalizer.

    fmt=None casts each element to string (exact for int/string
    elements); fmt='%.4f' printf-formats doubles — pre-round the
    elements to the same scale so both engines land on the same grid
    point. DuckDB mirror: array_to_string(a, sep) /
    array_to_string(list_transform(a, x -> printf(fmt, x)), sep).
    """
    a = _c(arr)
    if fmt is None:
        elems = F.transform(a, lambda x: x.cast("string"))
    else:
        elems = F.transform(a, lambda x: F.format_string(fmt, x))
    return F.array_join(elems, sep)
