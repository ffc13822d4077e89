"""§2.7 Set operations.

UNION ALL is a zero-shuffle concatenation of children; the
distinct/intersect/except variants hash-aggregate on the full row —
Catalyst plans partial aggregation map-side so the shuffle carries
only distinct rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hbase_sep_spark.io import t
from hbase_sep_spark.registry import register

SECTION = "2.7"


def _purchases(spark, sf_dir):
    return (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_type")
    )


def _clicks(spark, sf_dir):
    return (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("user_id", "event_type")
    )


@register(
    "set_union_all",
    oracle="""
    SELECT user_id, event_type FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT user_id, event_type FROM events WHERE event_type = 'click'
    """,
    section=SECTION,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _purchases(spark, sf_dir).unionByName(_clicks(spark, sf_dir))


@register(
    "set_union_distinct",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'purchase'
    UNION
    SELECT user_id FROM events WHERE event_type = 'click'
    """,
    section=SECTION,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _purchases(spark, sf_dir)
        .select("user_id")
        .union(_clicks(spark, sf_dir).select("user_id"))
        .distinct()
    )


@register(
    "set_intersect",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
    section=SECTION,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users who both purchased and hit errors (INTERSECT is
    set-semantics: deduplicated)."""
    purchases = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase").select("user_id")
    errors = t(spark, sf_dir, "events").filter(F.col("event_type") == "error").select("user_id")
    return purchases.intersect(errors)


@register(
    "set_except",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'P'
    """,
    section=SECTION,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no pending orders (EXCEPT — the anti-join as a
    set op; compare join_left_anti for the join form). The status
    filter keeps the difference non-empty at every SF."""
    custs = t(spark, sf_dir, "customer").select("c_custkey")
    pending_custs = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return custs.exceptAll(pending_custs).distinct()


@register(
    "set_intersect_all",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT ALL
    SELECT user_id FROM events WHERE event_type = 'click'
    """,
    section=SECTION,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag intersect: per-user multiplicity = min(#purchases, #clicks)."""
    return (
        _purchases(spark, sf_dir)
        .select("user_id")
        .intersectAll(_clicks(spark, sf_dir).select("user_id"))
    )


@register(
    "set_except_all",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'purchase'
    EXCEPT ALL
    SELECT user_id FROM events WHERE event_type = 'click'
    """,
    section=SECTION,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag difference (EXCEPT ALL), completing the multiset pair
    with set_intersect_all: per-user multiplicity =
    max(0, #purchases − #clicks). Spark plans exceptAll as a
    count-and-replicate aggregate (sum of signed multiplicities then
    generate), not a per-row anti join — the same shape DuckDB uses,
    map-side-combinable and skew-tolerant at any scale."""
    return (
        _purchases(spark, sf_dir)
        .select("user_id")
        .exceptAll(_clicks(spark, sf_dir).select("user_id"))
    )


@register(
    "set_union_by_name_evolved",
    oracle="""
    WITH unioned AS (
        SELECT event_id, user_id, value
        FROM events WHERE event_id % 2 = 0
        UNION ALL BY NAME
        SELECT event_id, user_id, value, event_type AS channel
        FROM events WHERE event_id % 2 = 1
    )
    SELECT coalesce(channel, 'legacy') AS channel,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS total_value
    FROM unioned
    GROUP BY coalesce(channel, 'legacy')
    """,
    section="2.7",
)
def set_union_by_name_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: a feed's old epoch (3 columns) and new
    epoch (4 columns — `channel` was added mid-stream) union BY NAME
    with the missing column null-filled, then aggregate per channel
    with the legacy rows bucketed explicitly. Positional UNION would
    silently misalign or reject here; by-name union is the only form
    that survives additive schema evolution — the normal lifecycle of
    a long-lived CDC subscription.

    Scale shape: both branches are predicate-pushed scans of the same
    file (no shuffle to union — it's a bag concat), and the single
    aggregate is map-side combinable on the low-cardinality channel
    key."""
    ev = t(spark, sf_dir, "events")
    old = ev.filter(F.col("event_id") % 2 == 0).select("event_id", "user_id", "value")
    new = (
        ev.filter(F.col("event_id") % 2 == 1)
        .select("event_id", "user_id", "value", F.col("event_type").alias("channel"))
    )
    unioned = old.unionByName(new, allowMissingColumns=True)
    return unioned.groupBy(
        F.coalesce(F.col("channel"), F.lit("legacy")).alias("channel")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("total_value"),
    )
