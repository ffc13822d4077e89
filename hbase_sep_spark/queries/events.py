"""§2.1 Sources, sinks, and the CDC/event transport (reference core).

The reference (hbase-sep, a CDC transport over HBase replication —
SURVEY §1.1, [R: sep-impl/.../SepConsumer.java — UNVERIFIED]) delivers
per-row-ordered, at-least-once mutation events with opaque payloads.
These queries re-express each of its delivery semantics over the
`events` feed as declarative Spark plans; the live streaming analog
is hbase_sep_spark/streaming/ (§2.10, over sources/sep_events.py).

The module also holds the feed analytics built on those semantics
(sessions, retention cohorts, inter-arrival and lag audits, CDC net
changes) and the `scan_*` audits of the stored table files.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hbase_sep_spark.functions import fin, json_int, json_int_sql
from hbase_sep_spark.io import listing, scratch_dir, t
from hbase_sep_spark.registry import register

SECTION = "2.1"


@register(
    "scan_parquet",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    section=SECTION,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain table scan, all columns (the HBase table-scan analog,
    columnar at rest per SURVEY §1.1)."""
    return t(spark, sf_dir, "nation")


@register(
    "scan_events_feed",
    oracle="""
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           user_id, event_type, value, props
    FROM events
    """,
    section=SECTION,
)
def scan_events_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch replay of the change/event feed — the same schema the
    streaming sep_events source delivers (batch/stream duality,
    SURVEY §1.1 'Stream, not table').

    ts is emitted as a microsecond ISO string: the raw column is
    TIMESTAMP(µs) in Spark but TIMESTAMP_NS in DuckDB and the oracle
    compare must not depend on how the harness normalizes precision.
    """
    return t(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "user_id", "event_type", "value", "props",
    )


@register(
    "events_payload_extract",
    oracle=f"""
    SELECT event_id,
           user_id,
           event_type,
           {json_int_sql()} AS payload_k,
           value
    FROM events
    """,
    section=SECTION,
)
def events_payload_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from the opaque payload — the PayloadExtractor
    analog ([R: sep-api/.../BasePayloadExtractor.java — UNVERIFIED]):
    SEP pulls payload bytes from a designated cell; here a typed field
    from the JSON props blob."""
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        json_int("props").alias("payload_k"),
        "value",
    )


@register(
    "events_table_filter",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_type IN ('purchase', 'signup')
    """,
    section=SECTION,
)
def events_table_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subscription-scoped filtering: SEP subscriptions receive only
    replication-scoped tables/column-families; the analog is a
    predicate on the event class, pushed to the scan."""
    return (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "signup"))
        .select("event_id", "user_id", "event_type", "value")
    )


@register(
    "events_latest_per_key",
    oracle="""
    SELECT user_id, event_id, event_type, value
    FROM (
        SELECT user_id, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
    section=SECTION,
)
def events_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Current value' view — HBase latest-cell-version semantics
    (SURVEY §1.1 multi-version): newest event per row key."""
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        t(spark, sf_dir, "events")
        .select("user_id", "event_id", "event_type", "value", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "events_dedup_redelivery",
    oracle="""
    SELECT DISTINCT event_id, user_id, event_type, value
    FROM (
        SELECT event_id, user_id, event_type, value FROM events
        UNION ALL
        SELECT event_id, user_id, event_type, value FROM events
        WHERE user_id % 3 = 0
    )
    """,
    section=SECTION,
)
def events_dedup_redelivery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once → exactly-once: SEP redelivers unacked batches
    ([R: sep-api/.../EventListener.java — UNVERIFIED]; listeners must
    be idempotent). Simulated by re-appending a slice of the feed,
    then deduplicating on the idempotency key."""
    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    redelivered = ev.filter(F.col("user_id") % 3 == 0)
    return ev.unionByName(redelivered).dropDuplicates(["event_id"])


@register(
    "events_per_key_ordered",
    oracle="""
    SELECT user_id,
           event_id,
           event_type,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS seq
    FROM events
    WHERE ts IS NOT NULL
    """,
    section=SECTION,
)
def events_per_key_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key ordered change log — the reference's one concurrency
    guarantee (row-hash → dedicated dispatch thread, [R: sep-impl/...
    /SepConsumer.java — UNVERIFIED]) as a sequence number per key."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        t(spark, sf_dir, "events")
        # null-time dead-letter (round-8 null-ts sweep): a record with
        # no event time has no position in the per-key order, and the
        # engines disagree on where NULL sorts (Spark NULLS FIRST,
        # DuckDB NULLS LAST).
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.row_number().over(w).alias("seq"),
        )
    )


@register(
    "sink_parquet_roundtrip",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(round(sum(CAST((CASE WHEN isnan(value) OR isinf(value) THEN NULL ELSE value END) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    section=SECTION,
)
def sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write an aggregate to parquet and read it back (sink + source
    round trip). The oracle recomputes the aggregate from the source
    feed — proving the sink round trip is lossless, not merely that
    it runs. Writes under the session scratch dir — never to the
    read-only testdata. Non-finite measures pass the fin() gate
    before dsum's decimal cast (ANSI CAST_OVERFLOW on NaN — round-7
    non-finite sweep)."""
    from hbase_sep_spark.functions import dsum, fin

    out = os.path.join(scratch_dir(spark, "sink"), "events_by_type")
    agg = (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(fin("value")).alias("sum_value"),
        )
    )
    agg.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@register(
    "events_sep_cell_model",
    oracle="""
    SELECT event_id, user_id, event_type, value, props
    FROM events
    """,
    section=SECTION,
)
def events_sep_cell_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SepEvent cell-model roundtrip: flat feed → SepEvent shape
    (table, row_key, cell bag, payload — operators/sep_model.py,
    [R: sep-api/.../SepEvent.java — UNVERIFIED]) → back to the typed
    feed. The oracle is the identity: the cell model must be lossless."""
    from hbase_sep_spark.operators.sep_model import from_sep_events, to_sep_events

    ev = t(spark, sf_dir, "events")
    return from_sep_events(to_sep_events(ev)).select(
        "event_id", "user_id", "event_type", "value", "props"
    )


@register(
    "sink_bucketed_join",
    oracle="""
    SELECT l.l_orderkey,
           o.o_orderstatus,
           count(*) AS n_lines,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS order_total
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY l.l_orderkey, o.o_orderstatus
    """,
    section=SECTION,
)
def sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table co-located join — the 100 TB shuffle-elimination
    story made concrete: lineitem is written once bucketed by
    l_orderkey (`bucketBy(8)` + saveAsTable), after which every join
    or aggregation on l_orderkey reads pre-partitioned buckets and
    skips its shuffle entirely (the plan shows no Exchange on the
    bucketed side). The oracle recomputes the same join+aggregate from
    the original tables — the bucketed path must be value-identical."""
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    table_name = "lineitem_bucketed"
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # A previous session may have left the managed location behind
    # (its catalog is gone, so DROP TABLE can't see it) — clear the
    # physical path too or saveAsTable fails LOCATION_ALREADY_EXISTS.
    import shutil
    from urllib.parse import urlparse

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(warehouse, table_name), ignore_errors=True)
    (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable(table_name)
    )
    bucketed = spark.table(table_name)
    per_order = bucketed.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("order_total"),
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    return per_order.join(o, per_order.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "o_orderstatus", "n_lines", "order_total"
    )


@register(
    "events_scd2_history",
    oracle="""
    SELECT user_id,
           event_id,
           value,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
           (lead(ts) OVER w IS NULL) AS is_current
    FROM events
    WHERE ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    section=SECTION,
)
def events_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 history from the change feed: each event version of
    a key gets [valid_from, valid_to) effectivity and an is_current
    flag — the MERGE-INTO-free emulation (window lead over the
    ordered feed; with Delta/Iceberg this is the MERGE path). The
    other half of the SEP consumer story next to the latest-per-key
    snapshot."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    lead_ts = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        "value",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("valid_from"),
        F.date_format(lead_ts, "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("valid_to"),
        lead_ts.isNull().alias("is_current"),
    )


@register(
    "sink_partitioned_prune",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           strftime(ts, '%Y-%m-%d') AS event_date
    FROM events
    WHERE strftime(ts, '%Y-%m-%d') IN ('2024-01-05', '2024-01-06')
    """,
    section=SECTION,
)
def sink_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-partitioned sink + partition-pruned read — the standard
    100 TB CDC landing layout: events written
    `partitionBy(event_date)`, then a two-day query reads ONLY those
    two directories (the plan's PartitionFilters prune the rest;
    asserted in tests/test_plans.py). The oracle recomputes the same
    slice from the original feed, proving the layout is lossless and
    the pruned read complete. The read pins the WRITER's schema
    instead of inferring: an empty feed writes zero partitions and
    schema inference then fails outright (round-7 empty-feed sweep)
    — and at 100 TB the schema comes from the table catalog anyway,
    never from footer sniffing."""
    out = os.path.join(scratch_dir(spark, "sink"), "events_by_date")
    ev = t(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    written = ev.select("event_id", "user_id", "event_type", "value", "event_date")
    written.write.mode("overwrite").partitionBy("event_date").parquet(out)
    return (
        spark.read.schema(written.schema).parquet(out)
        .filter(F.col("event_date").isin("2024-01-05", "2024-01-06"))
        .select("event_id", "user_id", "event_type", "value", F.col("event_date").cast("string"))
    )


@register("sink_compaction", oracle=None, section=SECTION)
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance op every
    long-running CDC sink needs: a fragmented landing zone (40
    per-batch files) is rewritten into a few right-sized files.
    Returns before/after file counts + row totals (rows-only; the
    invariant is rows_before == rows_after and files shrink)."""
    import glob
    import shutil

    root = os.path.join(scratch_dir(spark, "compaction"))
    shutil.rmtree(root, ignore_errors=True)
    frag, compact = os.path.join(root, "frag"), os.path.join(root, "compact")

    ev = t(spark, sf_dir, "events")
    ev.repartition(40).write.mode("overwrite").parquet(frag)
    fragmented = spark.read.parquet(frag)
    n_files_before = len(glob.glob(f"{frag}/part-*.parquet"))
    fragmented.coalesce(4).write.mode("overwrite").parquet(compact)
    n_files_after = len(glob.glob(f"{compact}/part-*.parquet"))
    compacted = spark.read.parquet(compact)
    return spark.createDataFrame(
        [
            (
                n_files_before,
                n_files_after,
                fragmented.count(),
                compacted.count(),
            )
        ],
        "files_before int, files_after int, rows_before long, rows_after long",
    ).withColumn("lossless", F.col("rows_before") == F.col("rows_after"))


@register(
    "events_compact_changelog",
    oracle="""
    WITH states AS (
        SELECT user_id, event_id, ts,
               CAST(floor((CASE WHEN isnan(value) OR isinf(value) THEN NULL ELSE value END) / 100) AS BIGINT) AS state
        FROM events
        WHERE ts IS NOT NULL
    ),
    ordered AS (
        SELECT user_id, event_id, ts, state,
               lag(state) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_state
        FROM states
    )
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           state
    FROM ordered
    WHERE prev_state IS NULL OR state <> prev_state
    """,
    section=SECTION,
)
def events_compact_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction — drop no-op updates: a CDC feed often
    re-emits a row whose materialized cell did not actually change
    (touch writes, full-row upserts); a consumer building history
    only needs TRANSITIONS. The materialized cell here is the
    value's century bucket (the fixture's raw doubles never repeat,
    so the bucket stands in for a real row's coarse state — ~20% of
    updates are no-ops at this granularity). Keep each key's first
    version and every version whose state differs from its
    predecessor — one window lag over the per-key order, no
    self-join. (HBase itself drops identical cell versions at
    compaction; this is that semantics over the feed.) A non-finite
    measure maps to a NULL state via the fin() gate (ANSI
    CAST_OVERFLOW otherwise — round-7 non-finite sweep); the
    NULL-vs-prev comparison then follows identical 3VL on both
    engines."""
    from pyspark.sql import Window

    from hbase_sep_spark.functions import fin

    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    state = F.floor(fin("value") / 100).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    with_state = ev.select("user_id", "event_id", "ts", state.alias("state"))
    prev = F.lag("state").over(w)
    return (
        with_state.withColumn("prev_state", prev)
        .filter(F.col("prev_state").isNull() | (F.col("state") != F.col("prev_state")))
        .select(
            "user_id",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            "state",
        )
    )


@register(
    "events_cdc_net_changes",
    oracle="""
    WITH snapa AS (
        SELECT user_id, event_id, value, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '2024-01-15'
    ),
    a AS (SELECT user_id, event_id, value FROM snapa
          WHERE rn = 1 AND event_type <> 'error'),
    snapb AS (
        SELECT user_id, event_id, value, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ),
    b AS (SELECT user_id, event_id, value FROM snapb
          WHERE rn = 1 AND event_type <> 'error')
    SELECT coalesce(a.user_id, b.user_id) AS user_id,
           CASE WHEN a.user_id IS NULL THEN 'added'
                WHEN b.user_id IS NULL THEN 'removed'
                WHEN a.event_id <> b.event_id THEN 'changed'
                ELSE 'unchanged' END AS status,
           a.value AS old_value,
           b.value AS new_value,
           round(b.value - a.value, 2) + 0.0 AS delta
    FROM a FULL JOIN b ON a.user_id = b.user_id
    """,
    section="2.1",
)
def events_cdc_net_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net-changes diff between two snapshot positions of the change
    feed — the CDC consumer's reconciliation primitive ("what changed
    since my last sync"): per key, compare the tombstone-aware latest
    state at a boundary position vs at the head, and classify
    added / removed / changed / unchanged with the value delta.
    Tombstone semantics match events_latest_op_wins (an `error` event
    masks the key).

    delta = round(new − old, 2): both operands are exact 2-decimal
    values, so the difference sits ON the rounding grid (never halfway
    between points) — per-row rounding is tie-free here, unlike the
    short-decimal quotients portable.py bans.

    Scale shape: both snapshots are one user_id window each (the
    boundary snapshot's ts predicate pushes to the scan), sharing the
    same partitioning as the full-outer reconciliation join — one
    shuffle serves all three; output is key-cardinality."""
    boundary = F.lit("2024-01-15").cast("timestamp")
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))

    def snapshot(df):
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
            .select("user_id", "event_id", "value")
        )

    a = snapshot(ev.filter(F.col("ts") < boundary)).alias("a")
    b = snapshot(ev).alias("b")
    status = (
        F.when(F.col("a.user_id").isNull(), "added")
        .when(F.col("b.user_id").isNull(), "removed")
        .when(F.col("a.event_id") != F.col("b.event_id"), "changed")
        .otherwise("unchanged")
    )
    return a.join(b, F.col("a.user_id") == F.col("b.user_id"), "full").select(
        F.coalesce(F.col("a.user_id"), F.col("b.user_id")).alias("user_id"),
        status.alias("status"),
        F.col("a.value").alias("old_value"),
        F.col("b.value").alias("new_value"),
        (F.round(F.col("b.value") - F.col("a.value"), 2) + F.lit(0.0)).alias("delta"),
    )


@register(
    "events_silence_alert",
    oracle="""
    WITH head AS (SELECT max(ts) AS head_ts FROM events),
    last_seen AS (
        SELECT user_id, max(ts) AS last_ts, count(*) AS n_events
        FROM events GROUP BY user_id
    )
    SELECT l.user_id,
           strftime(l.last_ts, '%Y-%m-%d %H:%M:%S.%f') AS last_seen,
           CAST(l.n_events AS BIGINT) AS n_events,
           CAST((epoch_us(h.head_ts) - epoch_us(l.last_ts)) // 3600000000
                AS BIGINT) AS silent_hours
    FROM last_seen l, head h
    WHERE l.last_ts < h.head_ts - INTERVAL 24 HOUR
    """,
    section="2.1",
)
def events_silence_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-health silence alert — the CDC monitoring query: keys
    whose newest event is more than 24 h behind the feed head have
    gone silent (a stuck producer, a dropped subscription, a churned
    entity). Integer hour arithmetic, no floats anywhere.

    Scale shape: one map-side-combinable (key → max ts, count)
    aggregate; the feed-head scalar is a broadcast 1-row crossJoin;
    the 24 h threshold is evaluated post-aggregate on key-cardinality
    data. At 100 TB the per-key aggregate is the only data-sized
    work and it partial-aggregates before the shuffle."""
    ev = t(spark, sf_dir, "events")
    head = ev.agg(F.max("ts").alias("head_ts"))
    last_seen = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"), F.count(F.lit(1)).alias("n_events")
    )
    silent_hours = (
        (F.unix_micros("head_ts") - F.unix_micros("last_ts")) / 3600000000
    ).cast("bigint")
    return (
        last_seen.crossJoin(F.broadcast(head))
        .filter(F.col("last_ts") < F.col("head_ts") - F.expr("INTERVAL 24 HOUR"))
        .select(
            "user_id",
            F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_seen"),
            F.col("n_events").cast("bigint").alias("n_events"),
            silent_hours.alias("silent_hours"),
        )
    )


@register(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS cur_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
        WHERE ts IS NOT NULL
    ),
    trans AS (
        SELECT cur_type, next_type, count(*) AS n_transitions
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY cur_type, next_type
    )
    SELECT cur_type, next_type,
           CAST(n_transitions AS BIGINT) AS n_transitions,
           CAST(sum(n_transitions) OVER (PARTITION BY cur_type) AS BIGINT)
               AS n_from_cur
    FROM trans
    """,
    section="2.5",
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix — the Markov-chain view of the
    clickstream (what follows a view? how often does an error
    interrupt a purchase flow?): per-user lead() pairs each event
    with its successor, counted into a (cur, next) matrix with the
    per-row denominator alongside. Counts stay INTEGER end to end —
    emitting P(next|cur) as a rounded double is a portability trap
    (p/q with q a power of 2·5 lands EXACTLY on rounding ties, where
    Spark's HALF_UP and DuckDB's half-even disagree); consumers
    divide the two exact columns at whatever precision they need.

    Scale shape: one user_id window pass over the feed, then a
    map-side-combinable count into a (types × types)-sized matrix;
    the denominator is a window over that tiny matrix. Null-time
    rows are dead-lettered on both sides (round-8 null-ts sweep)."""
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur_type"),
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    trans = seq.groupBy("cur_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    wc = Window.partitionBy("cur_type")
    return trans.select(
        "cur_type",
        "next_type",
        F.col("n_transitions").cast("bigint").alias("n_transitions"),
        F.sum("n_transitions").over(wc).cast("bigint").alias("n_from_cur"),
    )


def _iavg4():
    """Exact integer half-away-from-zero 4-dp average of `value` over
    count(*) — the davg form without the double rounding-tie.

    round(sum/count, s) on a DOUBLE quotient diverges between engines
    whenever the quotient TERMINATES exactly one digit past the scale
    (found by the round-6 null sweep: sum 319.03 / count 8 = 39.87875
    exactly — Spark's round works on the shortest decimal repr and
    HALF_UPs to .8788, DuckDB rounds the binary, which sits below the
    tie, to .8787). The integer form computes
    sign · (2·|S₆| + C·10^(6-s)) div (2·C·10^(6-s)) over exact micros
    — no double ever holds an unrounded quotient, so no tie exists.
    SQL mirror: the CASE/abs/`//` expression in the oracle above.
    Floor-vs-truncate is moot: both operands are non-negative after
    abs. The quotient is computed with `div` (Spark's IntegralDivide
    over longs — bit-exact at ANY magnitude), not floor(a/b): double
    division loses ulps once 2·|Σ value_micros| exceeds 2^53, i.e. a
    per-group |value| sum of ~4.5e9, which a 100 TB feed can reach
    (ADVICE-r6). DuckDB's `//` on BIGINTs is the exact mirror.
    Non-finite measures pass the fin() gate before the micros cast
    (ANSI CAST_OVERFLOW on NaN — round-7 non-finite sweep).
    """
    s6 = F.sum(F.round(fin("value") * 1000000, 0).cast("long"))
    d = (F.count(F.lit(1)) * 100).cast("long")  # C · 10^(6-4)
    q = F.call_function("div", 2 * F.abs(s6) + d, 2 * d)
    return (
        F.when(s6.isNull(), F.lit(None).cast("double"))
        .otherwise(
            (F.when(s6 < 0, -1).otherwise(1) * q).cast("double") / F.lit(10000.0)
        )
    )


@register(
    "events_hourly_seasonality",
    oracle="""
    SELECT CAST(date_part('dow', ts) AS INT) AS dow,
           CAST(date_part('hour', ts) AS INT) AS hour,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(CASE WHEN sum(CAST(round(v * 1000000, 0) AS BIGINT))
                          IS NULL THEN NULL
                ELSE (CASE WHEN sum(CAST(round(v * 1000000, 0) AS BIGINT))
                                < 0 THEN -1 ELSE 1 END)
                     * ((2 * abs(sum(CAST(round(v * 1000000, 0) AS BIGINT)))
                         + count(*) * 100)
                        // (2 * count(*) * 100)) END AS DOUBLE) / 10000.0
               AS avg_value
    FROM (SELECT ts, user_id,
                 CASE WHEN isnan(value) OR isinf(value) THEN NULL ELSE value END AS v
          FROM events)
    GROUP BY 1, 2
    """,
    section="2.5",
)
def events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × day-of-week seasonality profile — the traffic
    heatmap behind capacity planning and anomaly baselines. Calendar
    quirk handled per FIXTURES.md: Spark dayofweek is 1=Sunday..7,
    DuckDB dow is 0=Sunday..6 — the Spark side subtracts 1 so both
    engines emit the same integers. The average goes through the
    exact-decimal sum (davg form) for order independence.

    Scale shape: one map-side-combinable aggregate into a ≤168-cell
    matrix; the distinct-user count is the only per-cell state that
    grows (the HLL variant is the 100 TB swap, cf.
    stream_windowed_distinct_hll)."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy(
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        _iavg4().alias("avg_value"),
    )


@register(
    "events_interarrival_stats",
    oracle="""
    WITH g AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events
    )
    SELECT user_id,
           CAST(count(gap_us) AS BIGINT) AS n_gaps,
           CAST(min(gap_us) AS BIGINT) AS min_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us,
           CAST(round(CAST(CAST(CAST(sum(gap_us) AS BIGINT) / 1000000.0 / count(gap_us) AS VARCHAR) AS DECIMAL(38,18)), 3) AS DOUBLE)
               + 0.0 AS avg_gap_s
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY user_id
    """,
    section="2.1",
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key inter-arrival statistics over the change feed — the
    CDC burstiness profile (is this key a steady trickle or a bursty
    batch producer?) that sizes consumer buffers and watermark
    delays. Gaps are computed in integer microseconds (exact, no
    float drift); only the final average touches doubles.

    Scale shape: one user_id window (lag) feeding one
    map-side-combinable aggregate on the same key — Catalyst reuses
    the window's hash partitioning for the groupBy, so the plan has
    a single Exchange. The long-typed gap sum is exact at any count,
    order-independent by construction."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    g = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    return g.groupBy("user_id").agg(
        F.count("gap_us").cast("bigint").alias("n_gaps"),
        F.min("gap_us").cast("bigint").alias("min_gap_us"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
        (
            F.round(
                F.sum("gap_us").cast("double")
                / F.lit(1000000.0)
                / F.count("gap_us"),
                3,
            )
            + F.lit(0.0)
        ).alias("avg_gap_s"),
    )


@register(
    "events_offset_islands",
    oracle="""
    WITH received AS (
        SELECT event_id FROM events WHERE event_type <> 'error'
    ),
    r AS (
        SELECT event_id,
               event_id - row_number() OVER (ORDER BY event_id) AS k
        FROM received
    )
    SELECT CAST(min(event_id) AS BIGINT) AS island_start,
           CAST(max(event_id) AS BIGINT) AS island_end,
           CAST(count(*) AS BIGINT) AS n_offsets
    FROM r GROUP BY k
    """,
    section="2.1",
)
def events_offset_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguity audit of the feed's offset sequence — the CDC
    bookkeeping query behind every at-least-once consumer: which runs
    of offsets have been received (here: non-error events, errors
    standing in for unacked deliveries) and where the holes are.
    Classic gaps-and-islands: offset − global_rank is constant within
    a contiguous run.

    Scale shape — the point of this operator: the oracle's
    `row_number() OVER (ORDER BY event_id)` is a SINGLE-PARTITION
    window (the one window shape that cannot scale), so the impl
    computes the global rank with the two-level decomposition
    instead: per-bucket row_number (bucket = offset div 4096,
    partition-parallel) plus each bucket's cumulative predecessor
    count. The cumulative counts come from a window over the
    BUCKET-cardinality aggregate — 4096× smaller than the data, and
    at extreme scale the same decomposition recurses. The
    bucket-offset table broadcasts back; no data-sized single
    partition anywhere (pinned in tests/test_plans.py)."""
    ev = t(spark, sf_dir, "events")
    received = ev.filter(F.col("event_type") != "error").select("event_id")
    bucketed = received.withColumn("bucket", (F.col("event_id") / 4096).cast("long"))
    counts = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "bucket",
        F.coalesce(F.sum("cnt").over(w_cum), F.lit(0)).alias("rank_before"),
    )
    w_bucket = Window.partitionBy("bucket").orderBy("event_id")
    ranked = bucketed.join(F.broadcast(offsets), "bucket").select(
        "event_id",
        (
            F.col("event_id")
            - (F.row_number().over(w_bucket) + F.col("rank_before"))
        ).alias("k"),
    )
    return ranked.groupBy("k").agg(
        F.min("event_id").cast("bigint").alias("island_start"),
        F.max("event_id").cast("bigint").alias("island_end"),
        F.count(F.lit(1)).cast("bigint").alias("n_offsets"),
    ).drop("k")


@register(
    "events_incremental_agg_merge",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS total_value
    FROM events WHERE ts IS NOT NULL GROUP BY 1
    """,
    section="2.4",
)
def events_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the delta-merge ETL
    pattern: a stored daily snapshot (here: partials over everything
    older than head−66h) is merged with the fresh tail's partials by
    RE-AGGREGATING the union, not recomputing history. The 66-hour
    seam deliberately splits a day across snapshot and delta, so the
    merge is a real partial-combine, not a disjoint union. The
    ORACLE is the direct one-shot aggregate: the query proves
    snapshot ⊕ delta == recompute — the associativity contract
    incremental pipelines rely on — because count and decimal-sum
    partials merge exactly.

    Scale shape: at 100 TB the snapshot side is a stored
    day-cardinality table (read, not recomputed); only the tail
    scans raw events. Both partial aggregates are map-side
    combinable; the merge re-aggregate runs over day-cardinality
    rows. Null-time rows are dead-lettered on both sides (round-8
    null-ts sweep) — the explicit filter makes the policy visible;
    the seam comparisons would silently drop them anyway (NULL < seam
    and NULL >= seam are both unknown), which is how the 30-vs-31
    group-count divergence surfaced."""
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    head = ev.agg(F.max("ts").alias("head_ts"))
    seam = F.col("head_ts") - F.expr("INTERVAL 66 HOURS")
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")

    def partials(df):
        return df.groupBy(day).agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("pv"),
        )

    with_seam = ev.crossJoin(F.broadcast(head))
    snapshot = partials(with_seam.filter(F.col("ts") < seam))
    delta = partials(with_seam.filter(F.col("ts") >= seam))
    return (
        snapshot.unionByName(delta)
        .groupBy("day")
        .agg(
            F.sum("pn").cast("bigint").alias("n_events"),
            F.round(F.sum("pv"), 2).cast("double").alias("total_value"),
        )
    )


@register(
    "events_watermark_lag_audit",
    oracle="""
    WITH head AS (SELECT max(epoch_us(ts)) AS gmax FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS latest_ts,
           CAST(max(gmax) - max(epoch_us(ts)) AS BIGINT) AS staleness_us,
           CAST(round(CAST(CAST(100.0 * sum(CASE WHEN epoch_us(ts) >= gmax - 86400000000
                                       THEN 1 ELSE 0 END) / count(*) AS VARCHAR) AS DECIMAL(38,18)), 3) AS DOUBLE) + 0.0
               AS pct_last_day
    FROM events, head
    GROUP BY event_type, gmax
    """,
    section="2.1",
)
def events_watermark_lag_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-freshness / watermark-lag audit per event type — the CDC
    health dashboard row: how far each type's newest event trails
    the feed head (staleness), and what share of its volume arrived
    in the head's trailing day. A type with large staleness means a
    stuck producer or a dropped subscription — the first thing a SEP
    operator checks. All time math in exact integer microseconds;
    the only double is the final rounded percentage.

    Scale shape: the global head timestamp is a 1-row aggregate
    broadcast to the scan (no second pass over the data), then one
    map-side-combinable aggregate keyed by event_type. Two scans
    total at any scale — and the first reads only `ts`."""
    ev = t(spark, sf_dir, "events")
    glob = ev.agg(F.max(F.unix_micros("ts")).alias("gmax"))
    day_us = 86400000000
    return (
        ev.crossJoin(F.broadcast(glob))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("latest_ts"),
            (F.max("gmax") - F.max(F.unix_micros("ts")))
            .cast("bigint")
            .alias("staleness_us"),
            (
                F.round(
                    100.0
                    * F.sum(
                        F.when(
                            F.unix_micros("ts") >= F.col("gmax") - F.lit(day_us), 1
                        ).otherwise(0)
                    )
                    / F.count(F.lit(1)),
                    3,
                )
                + F.lit(0.0)
            ).alias("pct_last_day"),
        )
    )


@register(
    "events_order_repair",
    oracle="""
    WITH r AS (
        SELECT user_id, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS r_ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY event_id) AS r_id
        FROM events
        WHERE ts IS NOT NULL
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(abs(r_ts - r_id)) AS BIGINT) AS max_displacement,
           CAST(round(CAST(CAST(sum(abs(r_ts - r_id)) * 1.0 / count(*) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) + 0.0
               AS avg_displacement,
           CAST(round(CAST(CAST(100.0 * sum(CASE WHEN r_ts = r_id THEN 1 ELSE 0 END)
                      / count(*) AS VARCHAR) AS DECIMAL(38,18)), 3) AS DOUBLE) + 0.0 AS pct_in_place
    FROM r
    GROUP BY user_id
    """,
    section="2.1",
)
def events_order_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed order-repair audit: per key, how far the feed's commit
    order (event_id) diverges from event-time order — each event's
    displacement is |rank-by-time − rank-by-id| within its key. The
    max displacement IS the reorder-buffer size a consumer needs for
    perfect replay, and avg/pct-in-place quantify how close the
    transport comes to the per-key ordering it promises. Pure
    integer rank math; doubles only in the two final rounded ratios.

    Scale shape: ONE user_id exchange feeding two sorts (one per
    rank order) and then a map-side-combinable aggregate on the same
    key — Catalyst reuses the window partitioning for all three, so
    the plan holds a single shuffle at any scale. Null-time rows are
    dead-lettered on both sides (round-8 null-ts sweep): an event
    with no time has no time-rank to displace from."""
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w_ts = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_id = Window.partitionBy("user_id").orderBy("event_id")
    disp = ev.select(
        "user_id",
        F.row_number().over(w_ts).alias("r_ts"),
        F.row_number().over(w_id).alias("r_id"),
    )
    d = F.abs(F.col("r_ts") - F.col("r_id"))
    return disp.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max(d).cast("bigint").alias("max_displacement"),
        (F.round(F.sum(d) * 1.0 / F.count(F.lit(1)), 4) + F.lit(0.0)).alias(
            "avg_displacement"
        ),
        (
            F.round(
                100.0 * F.sum(F.when(F.col("r_ts") == F.col("r_id"), 1).otherwise(0))
                / F.count(F.lit(1)),
                3,
            )
            + F.lit(0.0)
        ).alias("pct_in_place"),
    )


@register(
    "events_session_duration_histogram",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS seq
        FROM flagged
    ),
    durations AS (
        SELECT user_id, seq,
               epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
        FROM sessions GROUP BY user_id, seq
    )
    SELECT CAST(CASE WHEN dur_us = 0 THEN 0
                     WHEN dur_us >= 1800000000 THEN 4
                     ELSE floor(dur_us / 600000000) + 1 END AS INT)
               AS duration_bin,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(min(dur_us) AS BIGINT) AS min_dur_us,
           CAST(max(dur_us) AS BIGINT) AS max_dur_us
    FROM durations
    GROUP BY duration_bin
    """,
    section="2.5",
)
def events_session_duration_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-duration distribution: 30-minute-gap sessionization
    (win_sessionize_batch's convention) composed with equi-width
    duration bucketing — the engagement histogram every product
    dashboard opens with. Bins: 0 = single-event sessions, 1-3 =
    10-minute buckets, 4 = ≥30 min. Durations are exact integer
    microseconds end to end.

    Scale shape: the sessionize windows and the per-session
    aggregate all share ONE user_id exchange (the session group key
    is a superset of the window partitioning); only the 5-bin
    histogram aggregate re-shuffles, and its input is one row per
    session. Null-time rows are dead-lettered on both sides (round-8
    null-ts sweep)."""
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_new = (
        F.lag("ts").over(w).isNull()
        | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > 1800 * 1000000)
    ).cast("int")
    flagged = ev.select("user_id", "event_id", "ts", gap_new.alias("new_session"))
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = flagged.select(
        "user_id", "ts", F.sum("new_session").over(w_run).alias("seq")
    )
    durations = sessions.groupBy("user_id", "seq").agg(
        (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))).alias("dur_us")
    )
    ten_min_us = 600000000
    bin_col = (
        F.when(F.col("dur_us") == 0, 0)
        .when(F.col("dur_us") >= 3 * ten_min_us, 4)
        .otherwise(F.floor(F.col("dur_us") / ten_min_us) + 1)
        .cast("int")
    )
    return (
        durations.select(bin_col.alias("duration_bin"), "dur_us")
        .groupBy("duration_bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.min("dur_us").cast("bigint").alias("min_dur_us"),
            F.max("dur_us").cast("bigint").alias("max_dur_us"),
        )
    )


@register("scan_rowgroup_stats_audit", section="ext", memoize=True)
def scan_rowgroup_stats_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet row-group statistics audit — the format-internals
    check behind every sort-on-write decision: read each row group's
    (min, max) envelope for l_quantity from the file FOOTER (pyarrow,
    metadata only — no data pages touched) and report, per row group,
    whether a representative range predicate (10 ≤ q ≤ 20, the
    filter_range_between predicate) could PRUNE it. The pruned
    fraction is what parquet predicate pushdown actually buys on this
    layout; a clustered rewrite (layout_zorder_stats) raises it.
    Rows-only: row-group boundaries aren't visible to SQL engines by
    design. Driver-side work is O(row groups) — footer metadata, a
    bounded list at any file size (row groups are ~128 MB each, and
    the audit parallelizes per file on a cluster via mapInPandas over
    file paths; the fixture has one file, so the driver path is the
    honest local form)."""
    import pyarrow.parquet as pq

    schema_str = (
        "row_group INT, n_rows BIGINT, q_min DOUBLE, q_max DOUBLE, prunable BOOLEAN"
    )
    table_path = f"{sf_dir}/lineitem.parquet"
    # A table can be one file or a DIRECTORY of part files (round-9
    # layout sweep); audit the files the scan reads (io.listing) in
    # sorted-filename order with a global running index, so the report
    # is deterministic for either layout.
    files = listing(table_path)[0]
    rows = []
    g_global = 0
    for fp in files:
        md = pq.ParquetFile(fp).metadata
        if md.num_row_groups == 0:
            continue
        paths = [
            md.row_group(0).column(i).path_in_schema for i in range(md.num_columns)
        ]
        if "l_quantity" not in paths:  # renamed/nested column: skip file
            continue
        qi = paths.index("l_quantity")
        for g in range(md.num_row_groups):
            col = md.row_group(g).column(qi)
            st = col.statistics
            try:
                has_stats = st is not None and st.has_min_max
                lo_hi = (float(st.min), float(st.max)) if has_stats else None
            except Exception as exc:  # noqa: BLE001
                # pyarrow cannot DECODE statistics for some physical
                # types (ArrowNotImplementedError on DECIMAL row-group
                # stats — round-10 decimal-money sweep). An envelope
                # we can't read is an envelope we can't prune on:
                # degrade to the stats-less branch, don't crash.
                if type(exc).__name__ not in (
                    "ArrowNotImplementedError",
                    "NotImplementedError",
                ):
                    raise
                lo_hi = None
            if lo_hi is not None:
                lo, hi = lo_hi
                # Prunable ⇔ the envelope is disjoint from [10, 20].
                rows.append(
                    (g_global, col.num_values, lo, hi, bool(hi < 10.0 or lo > 20.0))
                )
            else:
                # Stats-less file (writer choice): no envelope, never
                # prunable — report the row group rather than crash.
                rows.append((g_global, col.num_values, None, None, False))
            g_global += 1
    return spark.createDataFrame(rows, schema_str)


@register("scan_incremental_manifest", section="ext", memoize=True)
def scan_incremental_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental file-level ingest — the manifest pattern every
    lakehouse table format formalizes: a landing directory receives
    day-files; the consumer records processed FILE NAMES in a
    manifest and each run reads only the anti-join of the listing
    against it. Here the landing dir is materialized from the events
    fixture (3 hash-bucketed files), the manifest holds the first
    two, and the result aggregates ONLY the unprocessed file's rows,
    tagged with its source file. Rows-only (file paths aren't SQL-
    oracle-able); the invariant test proves the output equals a
    direct read of the third bucket.

    Scale shape: the anti-join runs on input_file_name() against a
    broadcast manifest — file-count-sized, not row-count-sized; rows
    from processed files are skipped after the listing but without
    any shuffle (the filter is a per-row broadcast-hash lookup). At
    production scale the same shape prunes at the LISTING instead
    (pass the unprocessed paths to spark.read directly); the
    post-scan form shown here is the one that also works mid-stream
    on directories that keep growing."""
    import os

    from hbase_sep_spark.io import fixture_key, scratch_dir

    # Keyed like the plan memo, on the fixture's path and listing: two
    # sf_dirs with equal basenames get distinct landings (ADVICE-r12),
    # and an events table rewritten at the same path lands afresh.
    landing = scratch_dir(spark, "incremental_landing", fixture_key(sf_dir))

    done_flag = os.path.join(landing, "_written")
    ev = t(spark, sf_dir, "events")
    landed = ev.withColumn("bucket", F.pmod(F.col("event_id"), F.lit(3)))
    if not os.path.exists(done_flag):
        (
            landed.repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(landing + "/files")
        )
        open(done_flag, "w").write("ok")
    # Writer-schema read: an empty feed lands zero files and schema
    # inference fails (round-7 empty-feed sweep); a real manifest
    # consumer gets the schema from the table format's metadata.
    src = spark.read.schema(landed.schema).parquet(landing + "/files")
    fname = F.input_file_name()
    # Manifest: every file under bucket=0 and bucket=1 is processed.
    listed = src.select(fname.alias("f"), "bucket").distinct()
    manifest = listed.filter(F.col("bucket") < 2).select("f")
    fresh = src.withColumn("f", fname).join(
        F.broadcast(manifest), "f", "left_anti"
    )
    return (
        fresh.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_new_rows"))
        .orderBy("event_type")
    )


@register(
    "events_rolling_wau",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    days AS (SELECT DISTINCT d FROM pairs),
    hits AS (
        SELECT p.user_id, p.d + CAST(o.off AS INT) AS td
        FROM pairs p, (SELECT unnest(generate_series(0, 6)) AS off) o
    )
    SELECT strftime(h.td, '%Y-%m-%d') AS day,
           CAST(count(DISTINCT h.user_id) AS BIGINT) AS wau
    FROM hits h JOIN days dd ON h.td = dd.d
    GROUP BY h.td
    """,
    section="2.4",
)
def events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users for every day the feed covers —
    the WAU curve. A sliding DISTINCT has no window-frame form
    (distinct isn't decomposable over frames), so each (user, day)
    activity pair is exploded to the 7 future days it keeps the
    user "active" for, and one exact distinct-count aggregate per
    target day does the rest; the day spine semi-join trims the
    tail days past the feed's range.

    Scale shape: the distinct pair set is users × days (itself a
    map-side-combined aggregate); the ×7 explode is a constant
    fan-out projection, not a join; the final count-distinct
    shuffles (day, user) once. At 100 TB this beats the
    self-join-range form by never producing a data × data join."""
    pairs = (
        t(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
    )
    days = pairs.select("d").distinct().select(F.col("d").alias("dd"))
    hits = pairs.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "d",
    ).select("user_id", F.date_add(F.col("d"), F.col("off")).alias("td"))
    return (
        hits.join(F.broadcast(days), F.col("td") == F.col("dd"), "left_semi")
        .groupBy("td")
        .agg(F.count_distinct(F.col("user_id")).cast("bigint").alias("wau"))
        .select(F.date_format("td", "yyyy-MM-dd").alias("day"), "wau")
    )


@register(
    "events_uptime_pct",
    oracle="""
    WITH span AS (
        SELECT CAST(floor(epoch(min(ts)) / 60) AS BIGINT) AS m0,
               CAST(floor(epoch(max(ts)) / 60) AS BIGINT) AS m1
        FROM events
    ),
    active AS (
        SELECT event_type,
               CAST(count(DISTINCT CAST(floor(epoch(ts) / 60) AS BIGINT))
                    AS BIGINT) AS active_min
        FROM events GROUP BY event_type
    )
    SELECT event_type, active_min,
           CAST(m1 - m0 + 1 AS BIGINT) AS span_min,
           round(CAST(active_min AS DOUBLE) / (m1 - m0 + 1), 4) + 0.0
               AS uptime_pct
    FROM active, span
    """,
    section="2.4",
)
def events_uptime_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type feed uptime: distinct active epoch-minutes over the
    feed's total minute span — the SLA availability number. Minutes
    are exact integers (floor of epoch seconds / 60), the span is an
    exact integer difference, and only the final ratio is a rounded
    double.

    Scale shape: one distinct-minute aggregate per type (map-side
    combined — minute cardinality is wall-clock-bounded however big
    the feed) plus a 1-row global span broadcast; the span subtree
    re-plans the scan but re-executes nothing data-sized beyond a
    min/max fold."""
    ev = t(spark, sf_dir, "events")
    minute = F.floor(F.col("ts").cast("long") / 60).cast("bigint")
    span = ev.agg(
        F.floor(F.min(F.col("ts").cast("long")) / 60).cast("bigint").alias("m0"),
        F.floor(F.max(F.col("ts").cast("long")) / 60).cast("bigint").alias("m1"),
    )
    active = ev.groupBy("event_type").agg(
        F.count_distinct(minute).cast("bigint").alias("active_min")
    )
    return active.crossJoin(F.broadcast(span)).select(
        "event_type",
        "active_min",
        (F.col("m1") - F.col("m0") + 1).cast("bigint").alias("span_min"),
        (
            F.round(
                F.col("active_min").cast("double")
                / (F.col("m1") - F.col("m0") + 1),
                4,
            )
            + F.lit(0.0)
        ).alias("uptime_pct"),
    )


@register(
    "events_type_cooccurrence_lift",
    oracle="""
    WITH items AS (
        SELECT DISTINCT user_id,
               CAST(floor(epoch(ts) / 60) AS BIGINT) AS minute,
               event_type
        FROM events
    ),
    baskets AS (
        SELECT CAST(count(DISTINCT (user_id, minute)) AS BIGINT) AS nb
        FROM items
    ),
    per_type AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS nt
        FROM items GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM items a JOIN items b
          ON a.user_id = b.user_id AND a.minute = b.minute
         AND a.event_type < b.event_type
        GROUP BY type_a, type_b
    )
    SELECT type_a, type_b, n_ab,
           round(CAST(n_ab AS DOUBLE) * nb / (CAST(x.nt AS DOUBLE) * y.nt), 4)
               + 0.0 AS lift
    FROM pairs
    JOIN per_type x ON type_a = x.event_type
    JOIN per_type y ON type_b = y.event_type
    CROSS JOIN baskets
    """,
    section="2.4",
)
def events_type_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift over (user, minute) baskets: for each
    unordered type pair, P(A∩B)/(P(A)·P(B)) — which operations
    cluster in the same instant of the same key's activity. All
    supports are exact integer basket counts; lift is the single
    rounded ratio.

    Scale shape: the basket item set is a distinct aggregate; the
    pair self-join is equi on the basket key with fan-out bounded
    by the TYPE-DOMAIN size per basket (≤C(5,2) pairs), never row
    count; per-type supports and the basket total broadcast onto
    the ≤10-row pair frame."""
    items = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.floor(F.col("ts").cast("long") / 60).cast("bigint").alias("minute"),
            "event_type",
        )
        .distinct()
    )
    baskets = items.select("user_id", "minute").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("nb")
    )
    per_type = items.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("nt")
    )
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.minute") == F.col("b.minute"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    px = per_type.select(F.col("event_type").alias("ta"), F.col("nt").alias("na"))
    py = per_type.select(F.col("event_type").alias("tb"), F.col("nt").alias("nb_t"))
    return (
        pairs.join(F.broadcast(px), F.col("type_a") == F.col("ta"))
        .join(F.broadcast(py), F.col("type_b") == F.col("tb"))
        .crossJoin(F.broadcast(baskets))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            (
                F.round(
                    F.col("n_ab").cast("double")
                    * F.col("nb")
                    / (F.col("na").cast("double") * F.col("nb_t")),
                    4,
                )
                + F.lit(0.0)
            ).alias("lift"),
        )
    )


def _fmt2(col: F.Column) -> F.Column:
    """2-dp string formatting via round-then-decimal-cast, NOT printf:
    Java format_string %.2f rounds HALF_UP where DuckDB printf is C
    round-half-even, so a .xx5 tie would diverge. round() first (Spark
    HALF_UP == DuckDB half-away-from-zero on an exact grid point, and
    never a tie on ≤2-decimal inputs), nz the -0.0, then DECIMAL(18,2)
    → string renders the fixed 2-dp form identically on both engines.
    SQL mirror: CAST(CAST(round(x, 2) + 0.0 AS DECIMAL(18,2)) AS VARCHAR).
    """
    return (F.round(col, 2) + F.lit(0.0)).cast("decimal(18,2)").cast("string")


@register(
    "scan_table_profile",
    oracle="""
    WITH s AS (
        SELECT CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS q_null,
               CAST(count(DISTINCT l_quantity) AS BIGINT) AS q_dist,
               CAST(CAST(round(min(l_quantity), 2) + 0.0 AS DECIMAL(18,2)) AS VARCHAR) AS q_min,
               CAST(CAST(round(max(l_quantity), 2) + 0.0 AS DECIMAL(18,2)) AS VARCHAR) AS q_max,
               CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS p_null,
               CAST(count(DISTINCT l_extendedprice) AS BIGINT) AS p_dist,
               CAST(CAST(round(min(l_extendedprice), 2) + 0.0 AS DECIMAL(18,2)) AS VARCHAR) AS p_min,
               CAST(CAST(round(max(l_extendedprice), 2) + 0.0 AS DECIMAL(18,2)) AS VARCHAR) AS p_max,
               CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS d_null,
               CAST(count(DISTINCT l_discount) AS BIGINT) AS d_dist,
               CAST(CAST(round(min(l_discount), 2) + 0.0 AS DECIMAL(18,2)) AS VARCHAR) AS d_min,
               CAST(CAST(round(max(l_discount), 2) + 0.0 AS DECIMAL(18,2)) AS VARCHAR) AS d_max,
               CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS f_null,
               CAST(count(DISTINCT l_returnflag) AS BIGINT) AS f_dist,
               min(l_returnflag) AS f_min,
               max(l_returnflag) AS f_max
        FROM lineitem
    )
    SELECT 'l_quantity' AS col, q_null AS n_null, q_dist AS n_distinct,
           q_min AS min_val, q_max AS max_val FROM s
    UNION ALL SELECT 'l_extendedprice', p_null, p_dist, p_min, p_max FROM s
    UNION ALL SELECT 'l_discount', d_null, d_dist, d_min, d_max FROM s
    UNION ALL SELECT 'l_returnflag', f_null, f_dist, f_min, f_max FROM s
    """,
    section="2.1",
)
def scan_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of lineitem's measure columns:
    null count, exact distinct count, min, max — the
    data-quality/table-stats report that seeds CBO statistics and
    ingest validation. Doubles format at their native 2-decimal
    precision via `_fmt2` (round-then-decimal-cast — printf tie
    semantics differ between engines); strings pass through.

    Scale shape: ONE scan, one global aggregate carrying all 16
    statistics (distinct counts expand to grouping sets internally
    but stay map-side partial), then a constant 4-row stack —
    per-column scans would read the table four times."""
    li = t(spark, sf_dir, "lineitem")
    s = li.agg(
        F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0)).cast("bigint").alias("q_null"),
        F.count_distinct(F.col("l_quantity")).cast("bigint").alias("q_dist"),
        _fmt2(F.min("l_quantity")).alias("q_min"),
        _fmt2(F.max("l_quantity")).alias("q_max"),
        F.sum(F.when(F.col("l_extendedprice").isNull(), 1).otherwise(0)).cast("bigint").alias("p_null"),
        F.count_distinct(F.col("l_extendedprice")).cast("bigint").alias("p_dist"),
        _fmt2(F.min("l_extendedprice")).alias("p_min"),
        _fmt2(F.max("l_extendedprice")).alias("p_max"),
        F.sum(F.when(F.col("l_discount").isNull(), 1).otherwise(0)).cast("bigint").alias("d_null"),
        F.count_distinct(F.col("l_discount")).cast("bigint").alias("d_dist"),
        _fmt2(F.min("l_discount")).alias("d_min"),
        _fmt2(F.max("l_discount")).alias("d_max"),
        F.sum(F.when(F.col("l_returnflag").isNull(), 1).otherwise(0)).cast("bigint").alias("f_null"),
        F.count_distinct(F.col("l_returnflag")).cast("bigint").alias("f_dist"),
        F.min("l_returnflag").alias("f_min"),
        F.max("l_returnflag").alias("f_max"),
    )
    return s.select(
        F.expr(
            "stack(4, "
            "'l_quantity', q_null, q_dist, q_min, q_max, "
            "'l_extendedprice', p_null, p_dist, p_min, p_max, "
            "'l_discount', d_null, d_dist, d_min, d_max, "
            "'l_returnflag', f_null, f_dist, f_min, f_max) "
            "AS (col, n_null, n_distinct, min_val, max_val)"
        )
    )


_SLOTS = 8


@register(
    "events_consumer_rebalance_plan",
    oracle=f"""
    WITH vol AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT x,
               row_number() OVER (ORDER BY x DESC, user_id) AS r
        FROM vol
    ),
    slotted AS (
        SELECT CAST((r - 1) % {_SLOTS} AS INT) AS slot, x
        FROM ranked
    ),
    agg AS (
        SELECT slot, CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(x) AS BIGINT) AS load
        FROM slotted GROUP BY slot
    )
    SELECT slot, n_keys, load,
           round(CAST(max(load) OVER () AS DOUBLE) * {_SLOTS}
                 / CAST(sum(load) OVER () AS BIGINT), 4) + 0.0
               AS imbalance
    FROM agg
    """,
    section="2.4",
)
def events_consumer_rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-group rebalance plan: deal per-key volumes across 8
    slots in descending-volume round-robin (rank r → slot
    (r−1) mod 8) and report each slot's key count, load, and the
    common imbalance factor max·slots/total (1.0 = perfect). The
    heuristic guarantees no slot carries two of the top-8 keys —
    what a naive hash assignment cannot promise on a skewed feed.

    Scale shape: one per-key aggregate; the descending volume rank
    uses the two-level bucket decomposition (bucket counts →
    bucket-frame cumulative → broadcast offsets → parallel
    within-bucket rank — a global ordered window over keys would
    serialize); slot arithmetic and the 8-row imbalance windows are
    constant-space."""
    vol = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    # Descending two-level rank: bucket by -x so bucket order matches
    # the descending sort, offsets count the keys in heavier buckets.
    bucketed = vol.withColumn("bucket", F.floor(-F.col("x") / 16.0).cast("long"))
    bcounts = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bcounts.select(
        "bucket",
        F.coalesce(F.sum("cnt").over(w_cum), F.lit(0)).cast("bigint").alias("before"),
    )
    w_in = Window.partitionBy("bucket").orderBy(F.col("x").desc(), "user_id")
    ranked = bucketed.join(F.broadcast(offsets), "bucket").select(
        "x",
        (F.row_number().over(w_in) + F.col("before")).cast("bigint").alias("r"),
    )
    slotted = ranked.select(
        ((F.col("r") - 1) % _SLOTS).cast("int").alias("slot"), "x"
    )
    agg = slotted.groupBy("slot").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("x").cast("bigint").alias("load"),
    )
    wall = Window.partitionBy()
    return agg.select(
        "slot",
        "n_keys",
        "load",
        (
            F.round(
                F.max("load").over(wall).cast("double")
                * _SLOTS
                / F.sum("load").over(wall).cast("bigint"),
                4,
            )
            + F.lit(0.0)
        ).alias("imbalance"),
    )


@register(
    "events_retention_cohort",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    ),
    coh AS (
        SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id
    )
    SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(date_diff('day', c.cohort_day, d.day) AS INT) AS day_offset,
           CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_users
    FROM days d JOIN coh c ON d.user_id = c.user_id
    GROUP BY 1, 2
    """,
    section="2.5",
)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle — the canonical product-analytics
    rollup: users are cohorted by first-active day, and each
    (cohort, day-offset) cell counts distinct users still active that
    many days later.

    Scale shape: the distinct-day set shuffles once on
    (user_id, day); the cohort min and the self-join both key on
    user_id, so Catalyst reuses one hash partitioning for the
    aggregate and the join (no broadcast needed — both sides are
    user-cardinality and co-partitioned); the final cell aggregate is
    map-side-combinable into a tiny (cohorts × offsets) result."""
    ev = t(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    coh = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(coh, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff(F.to_date("day"), F.to_date("cohort_day"))
            .cast("int")
            .alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
    )
