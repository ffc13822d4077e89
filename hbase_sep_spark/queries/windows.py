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

from hbase_sep_spark.functions import msum_window
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
