"""Class ``jsonhostile`` of tests/mutations.py: JSON at the parsers' lexical
fringe, plus the variant-by-variant agreement corpus for the json_int gate."""

from __future__ import annotations

import duckdb

from tests.mutations import REGISTRY, compare


test_jsonhostile_fixture_matches_oracle = compare("jsonhostile")


_BS = "\\"


# Every probed JSON variant: clean ones must extract the SAME value on
# both engines; hostile ones must be NULL on both.
VARIANTS = {
    "plain_int": ('{"k":1}', 1),
    "spaced_int": ('{"k": 87}', 87),
    "quoted_int": ('{"k":"42"}', 42),
    "missing_key": ('{"x":1}', None),
    "nested": ('{"k":{"x":1}}', None),
    "json_null": ('{"k":null}', None),
    "malformed": ('{"k":1', None),
    "empty": ("", None),
    "raw_nul_in_str": ('{"k":1,"n":"a' + chr(0) + 'b"}', None),
    "raw_tab_in_str": ('{"k":1,"n":"a' + chr(9) + 'b"}', None),
    "raw_lf_in_str": ('{"k":1,"n":"a' + chr(10) + 'b"}', None),
    "ws_between_tokens": ('{ "k" :' + chr(10) + chr(9) + "1 }", None),
    "esc_nul": ('{"k":1,"n":"a' + _BS + 'u0000b"}', 1),
    "lone_surrogate": ('{"k":1,"n":"' + _BS + 'ud800"}', None),
    "surrogate_pair": ('{"k":1,"n":"' + _BS + "ud83d" + _BS + 'ude00"}', None),
    "literal_bs_u": ('{"k":1,"n":"a' + _BS + _BS + 'ud800b"}', None),
    "trailing_comma": ('{"k":1,}', None),
    "nan_literal": ('{"k":1,"n":NaN}', None),
    "inf_literal": ('{"k":1,"n":Infinity}', None),
    "nan_in_string": ('{"k":1,"n":"NaN"}', None),
    "comma_brace_in_str": ('{"k":1,"n":"a,}b"}', None),
    "single_q_key": ("{'k':1}", None),
    "single_q_val": ('{"k":1,"n":' + "'x'}", None),
    "apostrophe_in_str": ('{"k":1,"n":"it' + "'" + 's ok"}', 1),
    "big_exp": ('{"k":1,"n":1e999999}', 1),
    "dup_key": ('{"k":1,"k":7}', 1),
    "bad_uescape": ('{"k":1,"n":"' + _BS + 'uZZZZ"}', None),
    "single_quotes_root": ("{'k':1}", None),
    "bare_scalar": ("17", None),
    "utf8_bom": (chr(0xFEFF) + '{"k":1}', None),
    "ctrl_del_in_str": ('{"k":1,"n":"a' + chr(127) + 'b"}', 1),
    # Nesting depth: Jackson caps depth (~1000) and NULLs the whole
    # payload where yyjson parses any depth — gated by MAX_JSON_OPENERS.
    "clean_nested6": ('{"k":1,"d":{"a":{"b":{"c":{"e":{"f":1}}}}}}', 1),
    "deep_950_under_cap": ('{"k":1,"d":' + '{"a":' * 950 + "1" + "}" * 950 + "}", None),  # overbroad
    "deep_1200_over_cap": ('{"k":1,"d":' + '{"a":' * 1200 + "1" + "}" * 1200 + "}", None),
    "deep_100k_arrays": ('{"k":1,"d":' + "[" * 100000 + "1" + "]" * 100000 + "}", None),
    "wide_952_openers": ('{"k":1,"a":[' + '{"b":1},' * 949 + '{"b":1}]}', None),  # conservative
    "braces_in_string_950": ('{"k":1,"s":"' + "{" * 950 + '"}', None),
    # Integral casts: DuckDB TRY_CAST rounds '1.5' and '1e3' where ANSI
    # Spark NULLs anything non-integral — the oracle pre-filters.
    "frac_val": ('{"k":1.5}', None),
    "frac_round_up": ('{"k":2.5}', None),
    "frac_neg": ('{"k":-1.5}', None),
    "frac_int_valued": ('{"k":7.0}', None),
    "exp_val": ('{"k":1e3}', None),
    "quoted_frac": ('{"k":"1.5"}', None),
    "quoted_exp": ('{"k":"1e3"}', None),
    "quoted_spaced_int": ('{"k":" 87 "}', 87),  # both engines trim plain spaces
    "quoted_signed": ('{"k":"+9"}', 9),
    "int32_overflow": ('{"k":2147483648}', None),
    # Number-token length: Jackson's ~1000-char cap NULLs the whole
    # payload — gated by the MAX_JSON_DIGITS total-digit proxy.
    "longnum_k_1001": ('{"k":' + "1" * 1001 + "}", None),
    "longnum_sibling": ('{"k":5,"pad":' + "7" * 2000 + "}", None),
    "longfrac_sibling": ('{"k":5,"pad":1.' + "1" * 2000 + "}", None),
    "digits_950_spread": ('{"k":1,"a":[' + "11," * 470 + "11]}", None),  # overbroad
    "digits_890_spread": ('{"k":1,"a":[' + "11," * 440 + "11]}", 1),
    # Field-name length: Jackson's 50k name cap — gated by MAX_JSON_LENGTH.
    "name_60k": ('{"' + "a" * 60000 + '":1,"k":5}', None),
    "len_40k_string": ('{"k":5,"pad":"' + "x" * 40000 + '"}', None),  # overbroad
    "str_25k_under_cap": ('{"k":5,"pad":"' + "x" * 25000 + '"}', 5),
}


# Queries whose Spark side or oracle touches props-JSON.
_JSON_CONSUMERS = (
    "events_payload_extract", "filter_null_handling", "cast_types", "agg_bitwise",
    "agg_regr_slope", "json_extract_props", "json_to_map", "map_lambda_ops",
)


def test_gate_is_sql_splicable():
    """The pattern is interpolated into a SQL '...' literal — a single
    quote or brace would corrupt the oracle text."""
    from hbase_sep_spark.functions import HOSTILE_JSON_RE, json_int_sql

    assert "'" not in HOSTILE_JSON_RE
    assert "{" not in HOSTILE_JSON_RE.replace("[{,:", "")  # class literal only
    assert HOSTILE_JSON_RE in json_int_sql()


def test_consumer_oracles_interpolate_the_helper():
    """No consumer may hand-copy the json_valid guard: every oracle that
    extracts props-JSON must contain the generated json_int_sql text
    (or, for json_to_map, the gate regex itself)."""
    from hbase_sep_spark.functions import HOSTILE_JSON_RE, json_int_sql

    frag = json_int_sql()
    for name in _JSON_CONSUMERS:
        oracle = REGISTRY[name].oracle
        assert oracle is not None, name
        ok = frag in oracle or json_int_sql(sql_type="BIGINT") in oracle
        if name == "json_to_map":
            ok = HOSTILE_JSON_RE in oracle
        assert ok, f"{name}: oracle does not interpolate json_int_sql()"
    offenders = [
        n for n, q in REGISTRY.items() if q.oracle and "json_valid" in q.oracle and HOSTILE_JSON_RE not in q.oracle
    ]
    assert not offenders, f"oracles using ungated json_valid: {offenders}"


def test_variant_agreement(spark):
    """json_int (Spark) == json_int_sql (DuckDB) == the pinned expected
    value, variant by variant."""
    from hbase_sep_spark.functions import json_int, json_int_sql

    con = duckdb.connect()
    try:
        for name, (payload, expected) in VARIANTS.items():
            got = con.execute(f"SELECT {json_int_sql('j')} FROM (SELECT ?::VARCHAR AS j)", [payload]).fetchone()[0]
            assert got == expected, f"duckdb {name}: {got!r} != {expected!r}"
    finally:
        con.close()
    df = spark.createDataFrame([(n, p) for n, (p, _) in VARIANTS.items()], "name string, j string")
    got = {r.name: r.v for r in df.select("name", json_int("j").alias("v")).collect()}
    for name, (_, expected) in VARIANTS.items():
        assert got[name] == expected, f"spark {name}: {got[name]!r} != {expected!r}"
