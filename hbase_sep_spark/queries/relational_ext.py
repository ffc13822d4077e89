"""Relational-surface extensions: reshape (pivot/unpivot) and
subquery forms (correlated scalar, uncorrelated IN).

Pivot compiles to a single conditional aggregate (one pass, no
per-category shuffle) when the pivot values are declared; unpivot is
a zero-shuffle generator. Subqueries exercise Catalyst's
decorrelation rules (SURVEY §4: RewriteCorrelatedScalarSubquery) —
the correlated form becomes a plain aggregate + join, never a
per-row re-execution.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hbase_sep_spark.functions import dsum
from hbase_sep_spark.io import t
from hbase_sep_spark.registry import register

SECTION = "2.2-ext"

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "reshape_pivot",
    oracle="""
    SELECT user_id,
           {cols}
    FROM events
    GROUP BY user_id
    """.format(
        cols=",\n           ".join(
            "coalesce(CAST(round(sum(CAST(CASE WHEN event_type = '{et}' THEN value END"
            " AS DECIMAL(18,6))), 2) AS DOUBLE), 0.0) AS {et}".format(et=et)
            for et in _EVENT_TYPES
        )
    ),
    section=SECTION,
)
def reshape_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() with declared values → one conditional
    aggregate pass (declared values avoid the extra distinct-scan a
    dynamic pivot needs). Sums use the portable decimal path."""
    ev = t(spark, sf_dir, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(dsum("value"))
    )
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(et), F.lit(0.0)).alias(et) for et in _EVENT_TYPES],
    )


@register(
    "reshape_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, metric, metric_value
    FROM (
        SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
        FROM lineitem WHERE l_orderkey <= 500
    )
    UNPIVOT (metric_value FOR metric IN (l_quantity, l_discount, l_tax))
    """,
    section=SECTION,
)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide → long (melt): three metric columns become (metric,
    value) rows. Generator-side only, no shuffle."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 500)
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="metric_value",
    )


@register(
    "subq_scalar_correlated",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > 2 * (
        SELECT avg(o_totalprice) FROM orders i WHERE i.o_custkey = o.o_custkey
    )
    """,
    section=SECTION,
)
def subq_scalar_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders more than 2× their
    customer's average. Catalyst decorrelates to aggregate+join —
    verify no per-row subquery remains in the plan."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_subq_v")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders_subq_v o
        WHERE o_totalprice > 2 * (
            SELECT avg(o_totalprice) FROM orders_subq_v i WHERE i.o_custkey = o.o_custkey
        )
        """
    )


@register(
    "subq_in_uncorrelated",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey
    FROM supplier
    WHERE s_nationkey IN (
        SELECT n_nationkey FROM nation WHERE n_regionkey IN
            (SELECT r_regionkey FROM region WHERE r_name IN ('ASIA', 'EUROPE'))
    )
    """,
    section=SECTION,
)
def subq_in_uncorrelated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested uncorrelated IN subqueries → semi-join chain over
    broadcast dims."""
    t(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_subq_v")
    t(spark, sf_dir, "nation").createOrReplaceTempView("nation_subq_v")
    t(spark, sf_dir, "region").createOrReplaceTempView("region_subq_v")
    return spark.sql(
        """
        SELECT s_suppkey, s_name, s_nationkey
        FROM supplier_subq_v
        WHERE s_nationkey IN (
            SELECT n_nationkey FROM nation_subq_v WHERE n_regionkey IN
                (SELECT r_regionkey FROM region_subq_v WHERE r_name IN ('ASIA', 'EUROPE'))
        )
        """
    )


@register(
    "join_dpp_partition_prune",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS event_date,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
    FROM events
    WHERE strftime(ts, '%Y-%m-%d') IN ('2024-01-05', '2024-01-06', '2024-01-07')
    GROUP BY 1
    """,
    section=SECTION,
)
def join_dpp_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — the 100 TB fact⋈dim pattern where
    the dates to scan are only known after FILTERING the dim: the
    fact lands date-partitioned, the dim is a parquet date table with
    a selective predicate, and Catalyst injects the dim's surviving
    keys into the fact scan's PartitionFilters at RUNTIME
    (`dynamicpruning#` subquery — asserted in tests/test_plans.py).
    Static pruning (sink_partitioned_prune) covers literal predicates;
    this covers the join-driven case, which is how virtually every
    date-dim warehouse query prunes. The oracle recomputes the slice
    from the raw feed, proving the pruned scan is complete."""
    import os

    from hbase_sep_spark.io import scratch_dir

    root = scratch_dir(spark, "dpp")
    fact_dir = os.path.join(root, "events_by_date")
    dim_dir = os.path.join(root, "date_dim")
    ev = t(spark, sf_dir, "events")
    fact_written = ev.select(
        "event_id",
        "user_id",
        "value",
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
    )
    fact_written.write.mode("overwrite").partitionBy("event_date").parquet(fact_dir)
    # Dim: every feed date, tagged; the query filters on the tag so
    # the surviving dates are NOT statically derivable from the fact's
    # own predicates — exactly the DPP shape. The tag filter is a
    # string EQUALITY on purpose: the PartitionPruning rule only
    # injects the runtime subquery when the dim side carries a
    # "likely selective" predicate (EqualTo/In/comparison — a bare
    # boolean attribute does not qualify, verified empirically).
    dim_written = (
        ev.select(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .distinct()
        .withColumn(
            "tag",
            F.when(
                F.col("d").isin("2024-01-05", "2024-01-06", "2024-01-07"),
                F.lit("focus"),
            ).otherwise(F.lit("rest")),
        )
    )
    dim_written.write.mode("overwrite").parquet(dim_dir)
    # Writer-schema reads, never inference: an empty feed writes zero
    # partitions/files and inference fails (round-7 empty-feed sweep);
    # production reads resolve schema from the catalog.
    fact = spark.read.schema(fact_written.schema).parquet(fact_dir)
    dim = spark.read.schema(dim_written.schema).parquet(dim_dir).filter(
        F.col("tag") == "focus"
    )
    return (
        fact.join(F.broadcast(dim), fact.event_date == dim.d)
        .groupBy("event_date")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )


@register(
    "sql_recursive_cte",
    oracle="""
    WITH RECURSIVE spine(day) AS (
        SELECT CAST(date_trunc('day', min(ts)) AS DATE) FROM events
        UNION ALL
        SELECT CAST(day + INTERVAL 1 DAY AS DATE) FROM spine
        WHERE day < (SELECT CAST(date_trunc('day', max(ts)) AS DATE)
                     FROM events)
    ),
    daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n,
               count(DISTINCT user_id) AS nu
        FROM events GROUP BY 1
    )
    SELECT strftime(s.day, '%Y-%m-%d') AS day,
           CAST(coalesce(d.n, 0) AS BIGINT) AS n_events,
           CAST(coalesce(d.nu, 0) AS BIGINT) AS n_users,
           CAST(CASE WHEN d.n IS NULL THEN 1 ELSE 0 END AS INT) AS is_empty
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    """,
    section="2.2",
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE through the pure SQL API (Spark 4's WITH
    RECURSIVE): a recursive date spine over the feed's [first, last]
    day, left-joined to daily activity — the classic reporting-spine
    idiom, and the capability probe for the whole recursive-query
    family (hierarchy walks, bill-of-materials, reachability) that
    pre-4.0 Spark had to hand-roll as driver loops. Both engines run
    genuinely recursive plans here; the sequence()-based twin
    (ts_daily_gapfill_ffill) remains the preferred non-recursive form
    for plain spines.

    Scale shape: the recursion is day-cardinality (one row per step,
    ~30 steps) — the data-sized work is the map-side-combinable daily
    aggregate; the spine joins broadcast-small against it."""
    t(spark, sf_dir, "events").createOrReplaceTempView("sep_events_view")
    return spark.sql(
        """
        WITH RECURSIVE spine(day) AS (
            SELECT CAST(date_trunc('day', min(ts)) AS DATE)
            FROM sep_events_view
            UNION ALL
            SELECT date_add(day, 1) FROM spine
            WHERE day < (SELECT CAST(date_trunc('day', max(ts)) AS DATE)
                         FROM sep_events_view)
        ),
        daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   count(*) AS n,
                   count(DISTINCT user_id) AS nu
            FROM sep_events_view GROUP BY 1
        )
        SELECT date_format(s.day, 'yyyy-MM-dd') AS day,
               CAST(coalesce(d.n, 0) AS BIGINT) AS n_events,
               CAST(coalesce(d.nu, 0) AS BIGINT) AS n_users,
               CAST(CASE WHEN d.n IS NULL THEN 1 ELSE 0 END AS INT) AS is_empty
        FROM spine s LEFT JOIN daily d ON s.day = d.day
        """
    )
