"""§2.5 Window functions.

Window evaluation shuffles once on the partition key and sorts within
partitions — at 100 TB the partition key choice (user_id / custkey:
high-cardinality, low skew) keeps state per partition bounded. Every
orderBy carries a unique tie-break key so results are deterministic
across engines (SURVEY §2 rule).

Rank-style outputs are INT in Spark but BIGINT in DuckDB; oracles
cast to INT to align.

NULL event-times (round-8 null-ts sweep): Spark default-sorts ASC
NULLS FIRST, DuckDB NULLS LAST, so ANY window/rank ordered by a
nullable time key silently diverges the moment a feed ships NULL
timestamps. Policy: time-ordered operators DROP null-time rows on
both sides (`ts IS NOT NULL` — the dead-letter route; a record
without an event time has no position in the order), a no-op on
clean feeds. Pinned by the nullts class of tests/mutations.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hbase_sep_spark.functions import fin, msum_window
from hbase_sep_spark.functions.portable import DEC
from hbase_sep_spark.io import t
from hbase_sep_spark.registry import register

SECTION = "2.5"


@register(
    "win_row_number",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           CAST(row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS INT) AS order_seq
    FROM orders
    WHERE o_orderdate IS NOT NULL
    """,
    section=SECTION,
)
def win_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())  # null-time dead-letter
        .select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("order_seq"),
        )
    )


@register(
    "win_rank_dense",
    oracle="""
    SELECT l_orderkey,
           l_linenumber,
           l_quantity,
           CAST(rank() OVER (PARTITION BY l_orderkey ORDER BY l_quantity DESC) AS INT) AS qty_rank,
           CAST(dense_rank() OVER (PARTITION BY l_orderkey ORDER BY l_quantity DESC) AS INT) AS qty_dense_rank
    FROM lineitem
    WHERE l_orderkey <= 2000
    """,
    section=SECTION,
)
def win_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank with real ties (l_quantity repeats within an
    order). Rank outputs are tie-invariant so no tie-break needed."""
    w = Window.partitionBy("l_orderkey").orderBy(F.desc("l_quantity"))
    return (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 2000)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            F.rank().over(w).alias("qty_rank"),
            F.dense_rank().over(w).alias("qty_dense_rank"),
        )
    )


@register(
    "win_ntile",
    oracle="""
    SELECT c_custkey,
           c_acctbal,
           CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS INT) AS bal_quartile
    FROM customer
    """,
    section=SECTION,
)
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartiles by account balance. Single unpartitioned window —
    fine at dim-table cardinality; at fact scale you'd bucket by
    percentile_approx instead (documented trade-off)."""
    w = Window.orderBy("c_acctbal", "c_custkey")
    return t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        F.ntile(4).over(w).alias("bal_quartile"),
    )


@register(
    "win_lag_lead",
    oracle="""
    SELECT user_id,
           event_id,
           value,
           lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
           lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value,
           value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
    FROM events
    WHERE ts IS NOT NULL
    """,
    section=SECTION,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Previous/next event value per user — the CDC 'compare with
    prior version of the row' pattern (SURVEY §1.1 multi-version)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return ev.select(
        "user_id",
        "event_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@register(
    "win_running_sum",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           round(sum(CAST(round(o_totalprice * 1000000, 0) AS BIGINT))
                 OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 1000000.0, 2)
               AS running_spend
    FROM orders
    WHERE o_orderdate IS NOT NULL
    """,
    section=SECTION,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())  # null-time dead-letter
        .select(
            "o_custkey",
            "o_orderkey",
            msum_window("o_totalprice", w).alias("running_spend"),
        )
    )


@register(
    "win_moving_avg",
    oracle="""
    SELECT user_id,
           event_id,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS value_ma3
    FROM events
    WHERE ts IS NOT NULL
    """,
    section=SECTION,
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return (
        t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())  # null-time dead-letter
        .select(
            "user_id",
            "event_id",
            F.round(F.avg("value").over(w), 4).alias("value_ma3"),
        )
    )


@register(
    "win_first_last",
    oracle="""
    SELECT user_id,
           event_id,
           first_value(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS first_event_type,
           last_value(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS last_event_type
    FROM events
    WHERE ts IS NOT NULL
    """,
    section=SECTION,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last value over the full partition frame — the 'first and
    latest version of a key' CDC view."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return ev.select(
        "user_id",
        "event_id",
        F.first("event_type").over(w).alias("first_event_type"),
        F.last("event_type").over(w).alias("last_event_type"),
    )


@register(
    "win_percent_rank_cume",
    oracle="""
    SELECT c_custkey,
           c_acctbal,
           round(percent_rank() OVER (ORDER BY c_acctbal, c_custkey), 6) AS bal_pct_rank,
           round(cume_dist() OVER (ORDER BY c_acctbal, c_custkey), 6) AS bal_cume_dist
    FROM customer
    """,
    section=SECTION,
)
def win_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.orderBy("c_acctbal", "c_custkey")
    return t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        F.round(F.percent_rank().over(w), 6).alias("bal_pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("bal_cume_dist"),
    )


@register(
    "win_range_frame",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           o_totalprice,
           CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                               RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_similar_cheaper,
           round(sum(CAST(round(o_totalprice * 1000000, 0) AS BIGINT))
                 OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                       RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) / 1000000.0, 2)
               AS sum_similar_cheaper
    FROM orders
    """,
    section=SECTION,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric ordering — value-based peers, so
    ties are frame-peers and the result is tie-order-invariant."""
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice").rangeBetween(-10000, 0)
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.count(F.lit(1)).over(w).alias("n_similar_cheaper"),
        msum_window("o_totalprice", w).alias("sum_similar_cheaper"),
    )


@register(
    "win_nth_value",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS second_order_key
    FROM orders
    WHERE o_custkey <= 300 AND o_orderdate IS NOT NULL
    """,
    section=SECTION,
)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value over the full partition frame: each customer's
    second-ever order attached to every row (null for single-order
    customers)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        t(spark, sf_dir, "orders")
        .filter((F.col("o_custkey") <= 300) & F.col("o_orderdate").isNotNull())
        .select(
            "o_custkey",
            "o_orderkey",
            F.nth_value("o_orderkey", 2).over(w).alias("second_order_key"),
        )
    )


@register(
    "win_sessionize_batch",
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
        SELECT user_id, event_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM flagged
    )
    SELECT user_id,
           CAST(session_seq AS INT) AS session_seq,
           count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end
    FROM sessions
    GROUP BY user_id, session_seq
    """,
    section=SECTION,
)
def win_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization — the gaps-and-islands twin of the
    streaming session window (stream_session_window): a 30-minute
    inactivity gap starts a new session; session id = running count
    of gap flags. Both windows and the final aggregate share the
    user_id partitioning, so the whole query is ONE shuffle — the
    at-scale shape for sessionizing a 100 TB event log."""
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(wo)
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(gap.isNull() | (gap > 30 * 60), F.lit(1)).otherwise(F.lit(0)).alias("new_session"),
    )
    sess = flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(wo.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
    )


@register(
    "win_funnel_conversion",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, event_id, ts, event_type,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM flagged
    ),
    s1 AS (
        SELECT user_id, session_seq, event_type, ts,
               min(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id, session_seq) AS t_view
        FROM sessions
    ),
    s2 AS (
        SELECT user_id, session_seq, event_type, ts, t_view,
               min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
                   OVER (PARTITION BY user_id, session_seq) AS t_click
        FROM s1
    ),
    stages AS (
        SELECT user_id, session_seq,
               min(t_view) AS t_view,
               min(t_click) AS t_click,
               min(CASE WHEN event_type = 'purchase' AND ts > t_click
                        THEN ts END) AS t_purchase
        FROM s2
        GROUP BY user_id, session_seq
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_viewed,
           CAST(sum(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clicked_after_view,
           CAST(sum(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_converted,
           CASE WHEN sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) = 0
                THEN NULL
                ELSE round(CAST(sum(CASE WHEN t_purchase IS NOT NULL
                                         THEN 1 ELSE 0 END) AS DOUBLE)
                           / sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END),
                           4)
           END AS view_to_purchase_rate
    FROM stages
    """,
    section=SECTION,
)
def win_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel over sessionized events — the conversion metric
    every event-analytics engine ships: within each 30-minute-gap
    session, did the user view, then click strictly AFTER the view,
    then purchase strictly AFTER that click? Stage timestamps chain:
    t_view is the first view, t_click the first click after t_view,
    t_purchase the first purchase after t_click — so a click that
    precedes the view never counts, and a purchase between view and
    click never counts.

    Scale shape: same single-shuffle profile as win_sessionize_batch —
    the sessionize windows, both per-session stage windows, and the
    stage aggregate all share the user_id(-prefixed) partitioning, so
    Catalyst plans one exchange; the funnel rollup then reduces to one
    tiny global aggregate."""
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(wo)
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(gap.isNull() | (gap > 30 * 60), F.lit(1)).otherwise(F.lit(0)).alias("new_session"),
    )
    sess = flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(wo.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
    )
    wsess = Window.partitionBy("user_id", "session_seq")
    is_type = lambda ty: F.col("event_type") == ty  # noqa: E731
    s1 = sess.withColumn(
        "t_view", F.min(F.when(is_type("view"), F.col("ts"))).over(wsess)
    )
    s2 = s1.withColumn(
        "t_click",
        F.min(
            F.when(is_type("click") & (F.col("ts") > F.col("t_view")), F.col("ts"))
        ).over(wsess),
    )
    stages = s2.groupBy("user_id", "session_seq").agg(
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min(
            F.when(is_type("purchase") & (F.col("ts") > F.col("t_click")), F.col("ts"))
        ).alias("t_purchase"),
    )
    b2l = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    n_viewed = b2l(F.col("t_view").isNotNull())
    n_converted = b2l(F.col("t_purchase").isNotNull())
    return stages.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        n_viewed.alias("n_viewed"),
        b2l(F.col("t_click").isNotNull()).alias("n_clicked_after_view"),
        n_converted.alias("n_converted"),
        F.when(n_viewed == 0, F.lit(None).cast("double"))
        .otherwise(F.round(n_converted.cast("double") / n_viewed, 4))
        .alias("view_to_purchase_rate"),
    )


@register(
    "win_pct_of_total",
    oracle="""
    WITH rev AS (
        SELECT n.n_name,
               sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                        AS DECIMAL(28,6))) AS r
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name
    )
    SELECT n_name,
           CAST(round(r, 2) AS DOUBLE) AS revenue,
           round(CAST(r AS DOUBLE) / CAST(sum(r) OVER () AS DOUBLE) * 100, 4)
               AS pct_of_total
    FROM rev
    """,
    section="2.5",
)
def win_pct_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total — the two-level report every dashboard carries:
    per-nation revenue and its percentage of the global total, the
    total coming from an unpartitioned full-frame window over the
    ALREADY-AGGREGATED 25-row result (the window's single-partition
    cost is group-cardinality, never data-sized; the data-sized work
    is the map-side-combinable decimal revenue aggregate below it).
    Exact decimal sums make numerator and denominator
    order-independent; the ratio is one double division per group.

    Scale shape: dims broadcast into the fact scan, one fact shuffle
    for the group aggregate, O(groups) for the total."""
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(28,6)"
                )
            ).alias("r")
        )
    )
    wtot = Window.partitionBy()
    return rev.select(
        "n_name",
        F.round("r", 2).cast("double").alias("revenue"),
        F.round(
            F.col("r").cast("double") / F.sum("r").over(wtot).cast("double") * 100, 4
        ).alias("pct_of_total"),
    )


@register(
    "win_period_over_period",
    oracle="""
    WITH monthly AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               sum(CAST(o_totalprice AS DECIMAL(28,6))) AS r
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    )
    SELECT month,
           CAST(round(r, 2) AS DOUBLE) AS revenue,
           round((CAST(r AS DOUBLE) - CAST(lag(r) OVER (ORDER BY month) AS DOUBLE))
                 / CAST(lag(r) OVER (ORDER BY month) AS DOUBLE) * 100, 4) + 0.0
               AS pct_change
    FROM monthly
    """,
    section="2.5",
)
def win_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period % change — the month-over-month revenue
    delta every reporting layer computes: lag over the monthly
    aggregate, (cur − prev)/prev·100. First month's change is NULL
    (no prior period) on both engines. Exact decimal monthly sums
    make numerator and denominator order-independent; the ratio's
    denominator (prev·100) is never a power of 2·5, so the 4-dp round
    cannot land on a tie.

    Scale shape: the window runs over the ~24-row monthly aggregate,
    not the fact table; the data-sized work is one
    map-side-combinable decimal sum. Null-time dead-letter on both
    sides (round-8 null-ts sweep): a dateless order has no period,
    and the engines disagree on where a NULL month sorts in the lag
    order."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    monthly = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(28,6)")).alias("r"))
    w = Window.orderBy("month")
    prev = F.lag("r").over(w)
    return monthly.select(
        "month",
        F.round("r", 2).cast("double").alias("revenue"),
        (
            F.round(
                (F.col("r").cast("double") - prev.cast("double"))
                / prev.cast("double")
                * 100,
                4,
            )
            + F.lit(0.0)
        ).alias("pct_change"),
    )


@register(
    "win_running_distinct",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN row_number() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) = 1
                    THEN 1 ELSE 0 END AS f
        FROM events WHERE ts IS NOT NULL
    )
    SELECT user_id, event_id,
           CAST(sum(f) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
               AS n_distinct_types
    FROM flagged
    """,
    section="2.5",
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-count over a window — the one distinct form
    window frames can't express directly (COUNT(DISTINCT) OVER is
    unsupported in both engines): per user, how many distinct event
    types have been seen up to and including each event. Classic
    first-occurrence decomposition: flag each (user, type)'s first
    event, then running-sum the flags — integer arithmetic end to
    end, so the result is exact and order-independent.

    Scale shape: ONE user_id shuffle. The first-occurrence flag uses
    a lag() over (user_id ORDER BY event_type, ts, event_id) rather
    than the oracle's (user_id, event_type)-partitioned row_number,
    so both windows share the same hash partitioning and Catalyst
    plans a single Exchange with two sorts (pinned in
    tests/test_plans.py). State per row is O(1) in both passes.
    Null-time rows are dead-lettered on both sides (round-8 null-ts
    sweep). The first-occurrence flag is NULL-SAFE (round-8
    null-keys sweep): an unclassified (NULL event_type) stream
    counts as ONE distinct type — the oracle's (user_id, event_type)
    partition puts all NULLs in one group natively, and the Spark
    flag uses row_number==1 OR NOT eqNullSafe(prev, cur) so a NULL
    block is flagged exactly once (the old `prev IS NULL OR prev <>
    cur` form re-flagged EVERY NULL-type row: `prev <> NULL` is
    unknown and lag's missing-first-row NULL is indistinguishable
    from a NULL type)."""
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w_flag = Window.partitionBy("user_id").orderBy("event_type", "ts", "event_id")
    prev_type = F.lag("event_type").over(w_flag)
    first_row = F.row_number().over(w_flag) == 1
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        (first_row | ~prev_type.eqNullSafe(F.col("event_type")))
        .cast("int")
        .alias("f"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return flagged.select(
        "user_id",
        "event_id",
        F.sum("f").over(w_run).cast("int").alias("n_distinct_types"),
    )


@register(
    "win_trailing_time_frame",
    oracle="""
    SELECT user_id, event_id,
           CAST(count(*) OVER w AS BIGINT) AS n_1h,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))) OVER w, 2) AS DOUBLE)
               AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    section="2.5",
)
def win_trailing_time_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing TIME-interval window frame — the value-based RANGE
    frame over event time ('activity in the last hour, per event')
    that complements win_range_frame's numeric ordering and
    ts_rolling_zscore's row-count frame. The frame bound is integer
    microseconds (3 600 000 000 µs), so frame membership is exact —
    no float time arithmetic — and same-timestamp peers enter the
    frame together under identical RANGE semantics in both engines.
    The windowed sum runs in exact decimal, making it
    order-independent across shuffle configs.

    Scale shape: one user_id shuffle; the running frame is
    incremental (Spark's bounded-preceding RANGE frame slides two
    pointers over the sorted partition, O(1) amortized per row, O(
    frame) memory)."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3600000000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_1h"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).over(w), 2)
        .cast("double")
        .alias("sum_1h"),
    )


@register(
    "win_conditional_reset_sum",
    oracle="""
    WITH seg AS (
        SELECT user_id, event_id, ts, value,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS segment_id
        FROM events
        WHERE ts IS NOT NULL
    )
    SELECT user_id, event_id, CAST(segment_id AS BIGINT) AS segment_id,
           round(sum(CAST(round(value * 1000000, 0) AS BIGINT))
                 OVER (PARTITION BY user_id, segment_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / 1000000.0, 2) AS run_sum
    FROM seg
    """,
    section="2.5",
)
def win_conditional_reset_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum that RESETS at marker events (each 'purchase'
    closes a segment) — the gas-gauge / odometer pattern. No window
    frame expresses a conditional reset directly; the classic
    decomposition is two stacked windows: a running marker count
    assigns each row its segment id, then the running sum restarts
    per (key, segment). The sum itself uses the int64-micros portable
    form (functions/portable.msum_window — exact, order-independent).

    Scale shape: both windows order by (ts, event_id) and the second
    partitions by a superset key of the first, so Catalyst plans ONE
    user_id exchange; the segment re-partition is satisfied by the
    existing distribution (pinned in tests/test_plans.py). Null-time
    rows are dead-lettered on both sides (round-8 null-ts sweep)."""
    from hbase_sep_spark.functions.portable import msum_window

    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w1 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .over(w1)
        .cast("bigint")
        .alias("segment_id"),
    )
    w2 = (
        Window.partitionBy("user_id", "segment_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return seg.select(
        "user_id",
        "event_id",
        "segment_id",
        msum_window("value", w2, 2).alias("run_sum"),
    )


@register(
    "win_leave_one_out_avg",
    oracle="""
    WITH f AS (
        SELECT user_id, event_id,
               sum(CAST(round(value * 1000000, 0) AS BIGINT)) OVER w
                   - CAST(round(value * 1000000, 0) AS BIGINT) AS loo_us,
               count(*) OVER w - 1 AS loo_n
        FROM events
        WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    )
    SELECT user_id, event_id,
           CASE WHEN loo_n > 0
                THEN CAST(round(CAST(CAST(CAST(loo_us AS DOUBLE) / 1000000.0 / loo_n AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) + 0.0
           END AS loo_avg
    FROM f
    """,
    section="2.5",
)
def win_leave_one_out_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out neighborhood average: each event's ±3-row frame
    mean EXCLUDING the event itself — the baseline every 'is this
    point anomalous vs its neighbors' check wants (including the
    point biases the baseline toward it). ANSI frames express this
    with EXCLUDE CURRENT ROW; DuckDB has it, Spark 4.1 does not
    (probed) — the portable decomposition subtracts the current row
    from the inclusive frame: sum(frame) - x over count(frame) - 1,
    with the sums in exact int64 micros (functions/portable's msum
    argument) so both engines compute identical integers before the
    single rounded division.

    Scale shape: one user_id shuffle, one sort, both frame aggregates
    evaluated in the same Window operator, O(frame) state per row.
    Null-time rows are dead-lettered on both sides (round-8 null-ts
    sweep)."""
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, 3)
    )
    micros = F.round(F.col("value") * F.lit(1000000), 0).cast("long")
    loo_sum = (F.sum(micros).over(w) - micros).cast("double")
    loo_cnt = F.count(F.lit(1)).over(w) - 1
    # Singleton partitions have no neighbors: guard the /0 (ANSI) and
    # emit NULL, mirrored by the oracle's CASE.
    loo = F.when(
        loo_cnt > 0,
        F.round(loo_sum / F.lit(1000000.0) / loo_cnt, 4) + F.lit(0.0),
    )
    return ev.select("user_id", "event_id", loo.alias("loo_avg"))


@register(
    "win_rolling_median",
    oracle="""
    WITH daily AS (
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
               CAST(sum(CAST((CASE WHEN isnan(value) OR isinf(value)
                                   THEN NULL ELSE value END)
                             AS DECIMAL(18,6))) AS DOUBLE) AS v
        FROM events WHERE ts IS NOT NULL GROUP BY event_type, d
        HAVING v IS NOT NULL
    ),
    rolled AS (
        SELECT event_type, d,
               list_sort(list(v) OVER w) AS arr,
               len(list(v) OVER w) AS n
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, d,
           round((arr[CAST((n + 1) // 2 AS INT)]
                  + arr[CAST(n // 2 + 1 AS INT)]) / 2, 4) + 0.0
               AS roll_median
    FROM rolled
    """,
    section="2.5",
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling 7-day median of each feed's daily value total —
    the robust moving level (a single spike day drags a moving mean
    for a week; the median shrugs it off). Median of the ≤7-row
    trailing frame via sorted-array middle picks: odd frames take
    the middle, even frames average the two middles. The output
    rounds at 4 dp, one digit PAST the value's true precision (the
    half-sum of 2-decimal dailies has exactly 3 decimals), so the
    round can never sit on a tie — at 2 dp a 537.925 median is a
    live tie that Spark (shortest-repr HALF_UP) and DuckDB (binary
    C round) resolve differently.

    Scale shape: daily-grain aggregate, then ONE window pass per
    key; the frame is a constant 7 rows so per-row work and state
    are O(7) — this never becomes the holistic full-partition median
    (that case is agg_weighted_median's two-level decomposition)."""
    daily = (
        t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())  # null-time dead-letter (round-8)
        .groupBy("event_type", F.date_format("ts", "yyyy-MM-dd").alias("d"))
        # fin() gate + all-garbage-day drop: the analytics_r6d
        # _DAILY_SQL rationale (round-7 non-finite sweep).
        .agg(F.sum(fin("value").cast(DEC)).cast("double").alias("v"))
        .filter(F.col("v").isNotNull())
    )
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-6, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list("v").over(w7))
    rolled = daily.select(
        "event_type", "d", arr.alias("arr"), F.size(arr).alias("n")
    )
    lo = F.element_at("arr", F.expr("CAST((n + 1) DIV 2 AS INT)"))
    hi = F.element_at("arr", F.expr("CAST(n DIV 2 + 1 AS INT)"))
    return rolled.select(
        "event_type",
        "d",
        (F.round((lo + hi) / 2, 4) + F.lit(0.0)).alias("roll_median"),
    )


# Non-finite measures pass the fin() gate before the decimal cast
# (ANSI CAST_OVERFLOW on NaN — round-7 non-finite sweep), and a day
# whose measures were ALL garbage (v IS NULL) drops before the
# rank/median/frame logic downstream: a NULL sort key would otherwise
# place NULLS FIRST on Spark and NULLS LAST on DuckDB.
_DAILY_SQL = """
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
               CAST(sum(CAST((CASE WHEN isnan(value) OR isinf(value)
                                   THEN NULL ELSE value END)
                             AS DECIMAL(18,6))) AS DOUBLE) AS v
        FROM events WHERE ts IS NOT NULL GROUP BY event_type, d
        HAVING v IS NOT NULL
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts IS NOT NULL = the null-time dead-letter (round-8 null-ts
    # sweep): a NULL day would sort differently per engine downstream.
    return (
        t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .agg(F.sum(fin("value").cast(DEC)).cast("double").alias("v"))
        .filter(F.col("v").isNotNull())
    )


@register(
    "win_hampel_outlier",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    rolled AS (
        SELECT event_type, d, v,
               list_sort(list(v) OVER w) AS arr,
               len(list(v) OVER w) AS n
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ),
    med AS (
        SELECT event_type, d, v,
               (arr[CAST((n + 1) // 2 AS INT)]
                + arr[CAST(n // 2 + 1 AS INT)]) / 2 AS m
        FROM rolled
    ),
    dev AS (
        SELECT event_type, d, v, m,
               list_sort(list(abs(v - m)) OVER w) AS darr,
               len(list(abs(v - m)) OVER w) AS dn
        FROM med
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, d,
           round(abs(v - m), 4) + 0.0 AS abs_dev,
           CAST(CASE WHEN abs(v - m) > 3 * 1.4826 *
                          ((darr[CAST((dn + 1) // 2 AS INT)]
                            + darr[CAST(dn // 2 + 1 AS INT)]) / 2)
                     THEN 1 ELSE 0 END AS INT) AS is_outlier
    FROM dev
    """,
    section="2.5",
)
def win_hampel_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter per feed day: flag |v − rollmed₇| > 3·1.4826·
    rollMAD₇ (MAD scaled to σ-equivalent) — the robust spike
    detector. A rolling z-score (ts_rolling_zscore) inflates its own
    σ with the spike it's testing; median/MAD don't. Emits every day
    with its deviation and flag (not only outliers, so the result is
    non-empty at every SF). The flag compares identically-derived
    doubles, so it cannot straddle engines.

    Scale shape: daily grain, then TWO constant-frame (7-row) window
    passes sharing the event_type partitioning — per-row state O(7),
    one shuffle after the aggregate."""
    daily = _daily(spark, sf_dir)
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-6, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list("v").over(w7))
    n = F.size(arr)
    med = daily.select(
        "event_type",
        "d",
        "v",
        (
            (
                F.element_at(arr, ((n + 1) / 2).cast("int"))
                + F.element_at(arr, (n / 2 + 1).cast("int"))
            )
            / 2
        ).alias("m"),
    )
    darr = F.array_sort(F.collect_list(F.abs(F.col("v") - F.col("m"))).over(w7))
    dn = F.size(darr)
    dev = med.select(
        "event_type",
        "d",
        "v",
        "m",
        (
            (
                F.element_at(darr, ((dn + 1) / 2).cast("int"))
                + F.element_at(darr, (dn / 2 + 1).cast("int"))
            )
            / 2
        ).alias("mad"),
    )
    return dev.select(
        "event_type",
        "d",
        (F.round(F.abs(F.col("v") - F.col("m")), 4) + F.lit(0.0)).alias("abs_dev"),
        F.when(
            F.abs(F.col("v") - F.col("m")) > 3 * 1.4826 * F.col("mad"), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("is_outlier"),
    )


@register(
    "win_streak_longest",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events WHERE ts IS NOT NULL
    ),
    r AS (
        SELECT user_id, day,
               CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INT) AS rn
        FROM days
    ),
    g AS (
        SELECT user_id, day - rn AS anchor, count(*) AS len
        FROM r GROUP BY user_id, day - rn
    )
    SELECT user_id,
           CAST(max(len) AS INT) AS longest_streak,
           CAST(sum(len) AS BIGINT) AS n_active_days,
           CAST(count(*) AS INT) AS n_streaks
    FROM g GROUP BY user_id
    """,
    section="2.5",
)
def win_streak_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands pattern: rank active days per user, subtract the
    rank from the date so each consecutive run collapses to one
    anchor, then count runs.

    Scale shape: one shuffle on user_id serves the distinct, the
    window, and both aggregates (all key on user_id or a superset);
    the window state is one row_number counter, O(1) per user.
    Null-time rows are dead-lettered on both sides (round-8 null-ts
    sweep): a NULL day would rank differently per engine."""
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    days = ev.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).distinct()
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("day")).cast("int")
    runs = (
        days.withColumn("rn", rn)
        .withColumn("anchor", F.date_sub(F.col("day"), F.col("rn")))
        .groupBy("user_id", "anchor")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    return runs.groupBy("user_id").agg(
        F.max("len").cast("int").alias("longest_streak"),
        F.sum("len").cast("bigint").alias("n_active_days"),
        F.count(F.lit(1)).cast("int").alias("n_streaks"),
    )
