"""Source/sink format coverage beyond parquet: JSON-lines, CSV, ORC.

Each query round-trips the events feed through the format (write to
tmp, read back with an explicit schema — never inferSchema in a
pipeline) and is oracled against the ORIGINAL parquet: the check
proves the format path is lossless, not merely that it runs.
Timestamps travel as microsecond ISO strings (CSV/JSON have no
native timestamp; the explicit schema + format pin the semantics).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hbase_sep_spark.io import scratch_dir, t
from hbase_sep_spark.registry import register

SECTION = "2.1-ext"

_ORACLE = """
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           user_id, event_type, value, props
    FROM events
    WHERE event_id <= 3000
"""

_READ_SCHEMA = "event_id long, ts string, user_id long, event_type string, value double, props string"


def _events_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "events")
        .filter(F.col("event_id") <= 3000)
        .select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
    )


def _roundtrip(
    spark: SparkSession,
    sf_dir: str,
    fmt: str,
    reader_opts: dict | None = None,
    **writer_opts,
) -> DataFrame:
    out = scratch_dir(spark, "fmt_roundtrip", fmt)
    df = _events_slice(spark, sf_dir)
    writer = df.write.mode("overwrite").format(fmt)
    for k, v in writer_opts.items():
        writer = writer.option(k, v)
    writer.save(out)
    reader = spark.read.format(fmt).schema(_READ_SCHEMA)
    for k, v in {**writer_opts, **(reader_opts or {})}.items():
        reader = reader.option(k, v)
    return reader.load(out)


@register("source_json_roundtrip", oracle=_ORACLE, section=SECTION)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → JSON-lines → back. The props column is itself a JSON
    string — the writer must escape it, the reader must NOT re-parse
    it (schema pins it to string); this is the classic nested-JSON
    trap the roundtrip proves out."""
    return _roundtrip(spark, sf_dir, "json")


# Escape tokens for the CSV trip (see source_csv_roundtrip). Like the
# NULL sentinel, chosen so no real payload plausibly contains them;
# the tokens share the collision caveat documented below.
_CSV_NL_TOK = "__CSV_NL_c7f3a9__"
_CSV_CR_TOK = "__CSV_CR_c7f3a9__"
_CSV_NUL_TOK = "__CSV_NUL_c7f3a9__"


def _csv_nl_encode(c: str):
    """Make a string column CSV-proof: replace literal CR/LF (record
    splitting) and NUL with sentinel tokens. NUL is the one char that
    survives NO option combination — Spark's quoted-field writer and
    reader both silently DROP \\x00 (round-8 NUL sweep) — while every
    other C0 control char roundtrips once the writer's default
    leading/trailing field trim is disabled (the
    ignoreLeading/TrailingWhiteSpace=false options on the trip;
    probed char-by-char in quoted and unquoted positions).
    Token-based (not backslash escaping) because token replacement is
    order-independent and exactly invertible without a stateful
    parser; NULL passes through untouched."""
    col = F.col(c)
    col = F.replace(col, F.lit("\x00"), F.lit(_CSV_NUL_TOK))
    col = F.replace(col, F.lit("\r"), F.lit(_CSV_CR_TOK))
    col = F.replace(col, F.lit("\n"), F.lit(_CSV_NL_TOK))
    return col.alias(c)


def _csv_nl_decode(c: str):
    col = F.col(c)
    col = F.replace(col, F.lit(_CSV_NL_TOK), F.lit("\n"))
    col = F.replace(col, F.lit(_CSV_CR_TOK), F.lit("\r"))
    col = F.replace(col, F.lit(_CSV_NUL_TOK), F.lit("\x00"))
    return col.alias(c)


@register("source_csv_roundtrip", oracle=_ORACLE, section=SECTION)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → CSV (header, quoted) → back. props contains commas,
    quotes and braces — quoting/escaping must survive the trip.

    nullValue pins a distinct NULL sentinel: with the default (empty
    string) an empty-string cell and a NULL both serialize to the
    same empty field, so '' deserializes as NULL and the roundtrip is
    LOSSY (round-6 extreme-value sweep, empty-props row). The option
    applies to both writer and reader, making '' vs NULL
    bit-faithful.

    Sentinel choice (ADVICE-r6): Spark's CSV layer cannot make ANY
    sentinel collision-proof — a data cell equal to the sentinel is
    written verbatim and read back as NULL, and quoteAll does not
    help (probed: the reader applies nullValue AFTER unquoting, so a
    quoted data ``\\N`` and a writer-emitted NULL are byte-identical
    on disk). The postgres ``\\N`` convention is therefore replaced
    by a token no real payload plausibly contains; the residual
    lossiness for a cell equal to THIS exact token is accepted and
    documented. (The lossless alternative at 100 TB is a typed
    format — parquet/ORC — which the sibling roundtrips cover.)

    Embedded newlines (VERDICT-r7 item 6, replacing the round-7
    multiLine read): a cell containing a literal CR/LF — a
    pretty-printed JSON payload — would either corrupt neighboring
    rows (default line-splitting reader) or force multiLine=true,
    which makes every CSV file a SINGLE input split and serializes
    the scan. Instead the writer escapes CR/LF to sentinel tokens and
    the reader inverts them, so every record is one physical line and
    the read stays line-splittable — the production newline strategy
    for CSV interchange at scale. Same residual collision caveat as
    the NULL sentinel (a payload containing the token itself), same
    answer: the typed columnar formats are the real 100 TB path.
    Splittability pinned by tests/test_plans.py (no multiLine) and
    value-correctness on embedded-newline payloads by
    the extreme class of tests/mutations.py."""
    out = scratch_dir(spark, "fmt_roundtrip", "csv")
    opts = {
        "header": "true", "quote": '"', "escape": '"',
        "nullValue": "__CSV_NULL_SENTINEL_c7f3a9__",
        # The writer TRIMS leading/trailing C0 control chars from
        # fields by default (write-side ignore*WhiteSpace defaults are
        # true); a payload ending in \x0B would come back shortened.
        # Disabled on both sides so whitespace-ish bytes are data.
        "ignoreLeadingWhiteSpace": "false",
        "ignoreTrailingWhiteSpace": "false",
    }
    df = _events_slice(spark, sf_dir).select(
        "event_id", "ts", "user_id",
        _csv_nl_encode("event_type"), "value", _csv_nl_encode("props"),
    )
    writer = df.write.mode("overwrite").format("csv")
    for k, v in opts.items():
        writer = writer.option(k, v)
    writer.save(out)
    reader = spark.read.format("csv").schema(_READ_SCHEMA)
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load(out).select(
        "event_id", "ts", "user_id",
        _csv_nl_decode("event_type"), "value", _csv_nl_decode("props"),
    )


@register("source_orc_roundtrip", oracle=_ORACLE, section=SECTION)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → ORC → back (the other columnar format; typed, so the
    schema read is exact)."""
    return _roundtrip(spark, sf_dir, "orc")


@register(
    "source_schema_evolution",
    oracle="""
    SELECT event_id, user_id, event_type,
           CASE WHEN event_id > 3000 THEN value END AS value
    FROM events
    WHERE event_id <= 6000
    """,
    section=SECTION,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across CDC batches — every long-lived feed
    grows columns: batch 1 lands without `value`, batch 2 adds it;
    `mergeSchema` reads the union schema and back-fills NULL for the
    old files. The oracle recomputes the same shape from the original
    feed. (At 100 TB the merged schema comes from the table catalog,
    not per-read footer merging — the read semantics are identical.)"""
    from hbase_sep_spark.io import scratch_dir

    out = scratch_dir(spark, "schema_evolution")
    ev = t(spark, sf_dir, "events")
    v1 = ev.filter(F.col("event_id") <= 3000).select("event_id", "user_id", "event_type")
    v2 = (
        ev.filter((F.col("event_id") > 3000) & (F.col("event_id") <= 6000))
        .select("event_id", "user_id", "event_type", "value")
    )
    v1.write.mode("overwrite").parquet(f"{out}/batch=1")
    v2.write.mode("overwrite").parquet(f"{out}/batch=2")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{out}/batch=1", f"{out}/batch=2")
        .select("event_id", "user_id", "event_type", "value")
    )
