"""§2.9 Array / map / JSON — the semi-structured surface.

This is the engine's analog of the reference's schemaless, untyped
cell model (SURVEY §1.1; [R: sep-api/.../SepEvent.java — UNVERIFIED]):
opaque payloads become JSON extractions, dynamic columns become maps,
repeated cells become arrays with higher-order lambdas. Everything is
a JVM built-in — no Python in the row path.

Dialect notes (Spark ↔ DuckDB) encoded in the oracles:
`slice(a,start,len)` ↔ `list_slice(a,start,start+len-1)`;
`array_distinct` preserves first-occurrence order while DuckDB's
`list_distinct` doesn't — both get wrapped in a sort.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hbase_sep_spark.functions import (
    arr_str,
    dsum,
    hostile_json_sql,
    json_gate,
    json_int,
    json_int_sql,
)
from hbase_sep_spark.io import t
from hbase_sep_spark.operators import vectors as V
from hbase_sep_spark.registry import register

SECTION = "2.9"


@register(
    "json_extract_props",
    oracle=f"""
    SELECT {json_int_sql()} % 10 AS k_bucket,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value,
           min({json_int_sql()}) AS min_k,
           max({json_int_sql()}) AS max_k
    FROM events
    GROUP BY k_bucket
    """,
    section=SECTION,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON payload extraction feeding an aggregate — extraction
    happens in the scan stage, so only the extracted int shuffles."""
    ev = t(spark, sf_dir, "events")
    k = json_int("props")
    return (
        ev.select((k % 10).alias("k_bucket"), "value", k.alias("k"))
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "json_to_map",
    oracle=f"""
    WITH ok AS (
      SELECT event_id,
             CASE WHEN props IS NULL OR {hostile_json_sql('props')}
                       OR NOT json_valid(props)
                       OR json_type(props) <> 'OBJECT' THEN NULL
                  WHEN len(list_filter(json_keys(props), kk ->
                            contains(kk, '"') OR contains(kk, '\\')
                            OR kk = '')) > 0 THEN NULL
                  WHEN len(json_keys(props))
                       <> len(list_distinct(json_keys(props))) THEN NULL
                  WHEN len(list_filter(json_keys(props), kk ->
                            json_type(props, '$."' || kk || '"')
                                NOT IN ('UBIGINT', 'BIGINT', 'NULL')
                            OR (json_type(props, '$."' || kk || '"') <> 'NULL'
                                AND TRY_CAST(json_extract_string(props,
                                    '$."' || kk || '"') AS INTEGER) IS NULL)
                       )) = 0
                  THEN props END AS p
      FROM events WHERE event_id <= 3000
    )
    SELECT event_id,
           CASE WHEN p IS NOT NULL
                THEN coalesce(array_to_string(json_keys(p), ','), '')
           END AS prop_keys,
           CASE WHEN p IS NOT NULL
                THEN coalesce(array_to_string(list_filter(
                         list_transform(json_keys(p), kk ->
                             json_extract_string(p, '$."' || kk || '"')),
                         x -> x IS NOT NULL), ','), '')
           END AS prop_values,
           TRY_CAST(json_extract_string(p, '$.k') AS INTEGER) AS k_from_map
    FROM ok
    """,
    section=SECTION,
)
def json_to_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload → MapType, access by key. The map itself can't cross
    the oracle boundary (engines render maps differently), so the
    output projects map_keys/map_values serialized to CSV strings
    (driver-safe, see portable.arr_str) and a by-key lookup. A NULL
    payload NULLs every derived column on both sides (round-6 null
    sweep: the oracle's constant 'k' key had assumed non-null
    props).

    The oracle replicates Spark from_json('map<string,int>') PARSE
    semantics, probed variant by variant (round-6 props sweep): any
    non-object root, malformed doc, or value that isn't an int32-range
    integer or JSON null fails the WHOLE row to a NULL map; JSON-null
    values parse (key kept, value dropped from the CSV — both sides
    emit '' not NULL, hence the coalesce: DuckDB array_to_string of an
    empty/all-NULL list is NULL where Spark array_join yields '').

    Hostile-key policy (ADVICE-r6): the oracle addresses values by
    building DuckDB JSON paths from the keys, and a key containing a
    double-quote or backslash — or the empty key, which DuckDB's path
    parser rejects outright — yields a malformed path that ERRORS
    where Spark's from_json parses the row fine. Both sides therefore
    fail any row whose payload has such a key to a NULL map: Spark
    via an `exists` guard over map_keys, the oracle via a lazy CASE
    branch that never constructs a path from a hostile key (DuckDB
    CASE branch laziness probed with quote/backslash/empty-key docs;
    `'\\'` is a single literal backslash in DuckDB standard strings).
    The kitchen-sink/extreme fixtures carry quoted-key, backslash-key
    and empty-key payload variants to pin this.

    Duplicate-key policy (round-8 sweep): on '{"k":1,"k":7}' Spark's
    from_json keeps BOTH entries (map_keys = ['k','k'], getItem
    reads the first) while every DuckDB path extraction reads only
    the FIRST occurrence — per-key values and the value-type guard
    diverge the moment a feed ships a duplicated key (and a nested
    SECOND occurrence slips past a first-occurrence-only type check
    entirely). Duplicate-keyed payloads are therefore hostile too:
    both sides fail the row to a NULL map (Spark: map_keys vs
    array_distinct size; oracle: json_keys vs list_distinct len —
    DuckDB's json_keys does preserve duplicates). Pinned by
    the dupkey class of tests/mutations.py."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_id") <= 3000)
    raw = F.from_json("props", "map<string,int>")
    # ~json_gate: the round-8 lenient-parser class (raw control chars,
    # surrogate escapes, NaN/Infinity, trailing commas) — the engines'
    # PARSERS disagree on these in both directions, so the whole
    # payload is hostile on both sides (portable.HOSTILE_JSON_RE).
    hostile = ~json_gate("props") | F.exists(
        F.map_keys(raw),
        lambda k: k.contains('"') | k.contains("\\") | (k == F.lit("")),
    ) | (F.size(F.map_keys(raw)) != F.size(F.array_distinct(F.map_keys(raw))))
    m = F.when(hostile, F.lit(None).cast("map<string,int>")).otherwise(raw)
    return ev.select(
        "event_id",
        arr_str(F.map_keys(m)).alias("prop_keys"),
        arr_str(F.map_values(m)).alias("prop_values"),
        m.getItem("k").alias("k_from_map"),
    )


@register(
    "arr_construct_contains",
    oracle="""
    SELECT l_orderkey,
           l_linenumber,
           array_to_string(list_transform([l_quantity, l_discount, l_tax],
                                          x -> printf('%.2f', x)), ',') AS metrics,
           CAST(len([l_quantity, l_discount, l_tax]) AS INT) AS n_metrics,
           list_contains([l_returnflag, l_linestatus], 'F') AS has_f_flag
    FROM lineitem
    WHERE l_orderkey <= 500
    """,
    section=SECTION,
)
def arr_construct_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 500)
    metrics = F.array("l_quantity", "l_discount", "l_tax")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        arr_str(metrics, "%.2f").alias("metrics"),
        F.size(metrics).alias("n_metrics"),
        F.array_contains(F.array("l_returnflag", "l_linestatus"), "F").alias("has_f_flag"),
    )


@register(
    "arr_explode",
    oracle="""
    SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word
    FROM part
    WHERE p_partkey <= 300
    """,
    section=SECTION,
)
def arr_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unnest: one output row per word (Spark explode ↔ DuckDB
    unnest). Explode is generate-side — no shuffle."""
    p = t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 300)
    return p.select("p_partkey", F.explode(F.split("p_name", " ")).alias("word"))


@register(
    "arr_sort_distinct_slice",
    oracle="""
    SELECT p_partkey,
           array_to_string(list_sort(list_distinct(string_split(p_name, ' '))), ',') AS uniq_words,
           array_to_string(list_slice(list_sort(string_split(p_name, ' ')), 1, 2), ',') AS first_two_sorted,
           list_sort(string_split(p_name, ' '))[1] AS first_word
    FROM part
    WHERE p_partkey <= 300
    """,
    section=SECTION,
)
def arr_sort_distinct_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = F.split("p_name", " ")
    p = t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 300)
    return p.select(
        "p_partkey",
        arr_str(F.array_sort(F.array_distinct(words))).alias("uniq_words"),
        arr_str(F.slice(F.array_sort(words), 1, 2)).alias("first_two_sorted"),
        F.element_at(F.array_sort(words), 1).alias("first_word"),
    )


@register(
    "arr_lambda_transform",
    oracle="""
    SELECT vec_id,
           CASE WHEN embedding IS NULL THEN NULL
                ELSE coalesce(array_to_string(list_transform(embedding,
                    x -> CASE WHEN isfinite(x)
                         THEN printf('%.4f', round(CAST(x AS DOUBLE) * 2, 4) + 0.0) END),
                    ','), '') END AS doubled,
           CASE WHEN isfinite(embedding[1])
                THEN round(CAST(embedding[1] AS DOUBLE) * 2, 4) + 0.0 END AS first_doubled
    FROM embeddings
    """,
    section=SECTION,
)
def arr_lambda_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order transform over the embedding vector. Elements are
    cast float→double BEFORE arithmetic on both sides (float32 math
    would diverge between engines); the rounded result is serialized
    %.4f per element (driver-safe, see portable.arr_str).

    This is an ARRAY demo, not vector geometry, so hostile rows stay
    (round-7 hostile-embeddings sweep): non-finite elements map to
    NULL on both sides (Spark format_string says 'NaN'/'Infinity'
    where DuckDB printf says 'nan'/'inf' — serialized they can never
    agree; both engines then SKIP NULL elements in the join), the
    head element goes through try_element_at (plain element_at on an
    empty array is an ANSI crash), and an all-NULL/empty serialized
    list is '' on both sides (DuckDB's array_to_string is NULL
    there, hence the coalesce)."""
    e = t(spark, sf_dir, "embeddings")
    # NULL-guard AFTER formatting: format_string('%.4f', NULL) is the
    # literal string 'null', so the non-finite guard must wrap the
    # formatted element (array_join then skips the NULL).
    doubled = F.transform(
        "embedding",
        lambda x: F.when(
            ~(F.isnan(x) | (F.abs(x) == F.lit(float("inf")))),
            F.format_string("%.4f", F.round(x.cast("double") * 2, 4) + F.lit(0.0)),
        ),
    )
    head = F.try_element_at("embedding", F.lit(1))
    first = F.when(
        ~(F.isnan(head) | (F.abs(head) == F.lit(float("inf")))),
        F.round(head.cast("double") * 2, 4) + F.lit(0.0),
    )
    return e.select(
        "vec_id",
        F.array_join(doubled, ",").alias("doubled"),
        first.alias("first_doubled"),
    )


@register(
    "arr_lambda_filter_agg",
    oracle="""
    WITH f AS (
        SELECT vec_id, embedding,
               list_filter(embedding, x -> isfinite(x)) AS fin
        FROM embeddings
    )
    SELECT vec_id,
           CAST(len(list_filter(fin, x -> x > 0)) AS INT) AS n_positive,
           CASE WHEN embedding IS NULL THEN NULL ELSE
               coalesce(round(list_sum(list_transform(fin, x -> CAST(x AS DOUBLE))), 6) + 0.0,
                        0.0) END AS vec_sum,
           CASE WHEN embedding IS NULL THEN NULL ELSE
               coalesce(round(list_sum(list_transform(list_filter(fin, x -> x > 0),
                                             x -> CAST(x AS DOUBLE))), 6) + 0.0,
                        0.0) END AS pos_sum
    FROM f
    """,
    section=SECTION,
)
def arr_lambda_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter + aggregate (left fold) lambdas. Fold order is
    element order in both engines → bitwise-identical sums; rounded
    anyway as belt-and-braces.

    Hostile-row policy (round-7 hostile-embeddings sweep; rows stay —
    this is an array demo, not geometry): non-finite elements are
    dropped before counting and summing on BOTH sides — DuckDB's
    total-order comparison says NaN > 0 where Spark's IEEE says
    false, so an unfiltered NaN silently skews n_positive — and a
    sum over no surviving elements is 0.0 on both sides (Spark's
    fold seed; DuckDB list_sum yields NULL there, hence the
    coalesce). A NULL array stays NULL throughout."""
    e = t(spark, sf_dir, "embeddings")
    fin = V.finite_only("embedding")
    pos = F.filter(fin, lambda x: x > 0)

    def fold_sum(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x.cast("double"))

    return e.select(
        "vec_id",
        F.size(pos).alias("n_positive"),
        (F.round(fold_sum(fin), 6) + F.lit(0.0)).alias("vec_sum"),
        (F.round(fold_sum(pos), 6) + F.lit(0.0)).alias("pos_sum"),
    )


@register(
    "map_keys_values",
    oracle="""
    SELECT event_id,
           'etype,uid' AS ctx_keys,
           concat(coalesce(event_type, ''), ',',
                  coalesce(CAST(user_id AS VARCHAR), '')) AS ctx_values,
           coalesce(event_type, '') AS etype_lookup
    FROM events
    WHERE event_id <= 3000
    """,
    section=SECTION,
)
def map_keys_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Construct a map from columns (the dynamic-column cell bag of
    SURVEY §1.1), then read it back via map_keys/map_values/lookup.
    Oracle sees only CSV-serialized arrays — map literals aren't
    portable and list cells crash the driver canonicalizer. NULL
    cell values serialize as '' explicitly (round-8 null-keys
    sweep): Spark's array_join SKIPS a NULL element (',' collapses
    to nothing) while DuckDB concat renders it as '' (keeping the
    comma) — coalescing before the map is built makes both sides
    emit the positional empty string."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_id") <= 3000)
    m = F.map_from_arrays(
        F.array(F.lit("etype"), F.lit("uid")),
        F.array(
            F.coalesce(F.col("event_type"), F.lit("")),
            F.coalesce(F.col("user_id").cast("string"), F.lit("")),
        ),
    )
    return ev.select(
        "event_id",
        arr_str(F.map_keys(m)).alias("ctx_keys"),
        arr_str(F.map_values(m)).alias("ctx_values"),
        m.getItem("etype").alias("etype_lookup"),
    )


@register(
    "arr_posexplode",
    oracle="""
    SELECT p_partkey,
           CAST(unnest(range(0, len(ws))) AS INT) AS pos,
           unnest(ws) AS word
    FROM (SELECT p_partkey, string_split(p_name, ' ') AS ws FROM part WHERE p_partkey <= 300)
    """,
    section=SECTION,
)
def arr_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional unnest: (position, element) rows — the oracle zips
    two parallel unnests (DuckDB 1.0 has no WITH ORDINALITY)."""
    p = t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 300)
    return p.select("p_partkey", F.posexplode(F.split("p_name", " ")).alias("pos", "word"))


@register(
    "map_lambda_ops",
    oracle=f"""
    WITH base AS (
        SELECT event_id,
               {json_int_sql(sql_type="BIGINT")} * 2 AS kk,
               CAST(user_id % 100 AS BIGINT) * 3 AS uu,
               TRY_CAST(floor(value) AS BIGINT) * 5 AS vv
        FROM events WHERE event_id <= 3000
    )
    SELECT event_id,
           coalesce(array_to_string(
               list_filter(
                   [CASE WHEN kk >= 100 THEN 'k:' || CAST(kk AS VARCHAR) END,
                    CASE WHEN uu >= 100 THEN 'u:' || CAST(uu AS VARCHAR) END,
                    CASE WHEN vv >= 100 THEN 'v:' || CAST(vv AS VARCHAR) END],
                   x -> x IS NOT NULL),
               ','), '') AS kept_entries,
           CAST(coalesce(kk >= 100, FALSE) AS INT)
               + CAST(coalesce(uu >= 100, FALSE) AS INT)
               + CAST(coalesce(vv >= 100, FALSE) AS INT) AS n_kept
    FROM base
    """,
    section="2.9",
)
def map_lambda_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order lambdas over the dynamic cell bag: build a
    3-entry map from columns, element-wise combine it with a literal
    weight map (map_zip_with), drop small entries (map_filter), and
    emit the survivors as a sorted `key:value` CSV (maps can't cross
    the driver canonicalizer). The oracle replays the same algebra on
    the flat columns — which is the point: the lambda pipeline is
    pure per-row codegen, semantically equal to the unrolled CASE
    form but written once against the bag, not once per key.

    Scale shape: zero shuffles — scan, per-row lambda evaluation in
    codegen (no Python), projection. Keys sort deterministically
    ('k' < 'u' < 'v' matches the unrolled oracle order)."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_id") <= 3000)
    m = F.map_from_arrays(
        F.array(F.lit("k"), F.lit("u"), F.lit("v")),
        # BIGINT cell values + tolerant extraction: an int32 map cell
        # overflows under ANSI once value*weight passes 2^31 (round-6
        # extreme-value sweep — a 1e9-scale feed value is realistic),
        # and a mistyped payload must degrade to NULL, not crash.
        F.array(
            json_int("props", typ="long"),
            (F.col("user_id") % 100).cast("long"),
            F.floor(F.col("value")).try_cast("long"),
        ),
    )
    weights = F.map_from_arrays(
        F.array(F.lit("k"), F.lit("u"), F.lit("v")),
        F.array(F.lit(2).cast("long"), F.lit(3).cast("long"), F.lit(5).cast("long")),
    )
    zipped = F.map_zip_with(m, weights, lambda _k, a, b: a * b)
    kept = F.map_filter(zipped, lambda _k, x: x >= 100)
    entries = F.transform(
        F.array_sort(F.map_entries(kept)),
        lambda e: F.concat_ws(":", e["key"], e["value"].cast("string")),
    )
    return ev.select(
        "event_id",
        F.array_join(entries, ",").alias("kept_entries"),
        F.size(kept).cast("int").alias("n_kept"),
    )
