"""TPC-H: 21 of the 22 queries, re-expressed over the reduced fixtures.

Q1 is `agg_groupby_basic` (aggregates.py, the `entry()` query); the
other 21 live here. The fixture schema has no partsupp table, no
l_shipmode/l_commitdate/l_receiptdate and no c_phone (FIXTURES.md),
so queries that need those columns are adapted shape-preservingly and
each docstring states its deviation:

- Q2  minimum-cost supplier    → per-(part, supplier) min shipped
  price stands in for ps_supplycost
- Q3  shipping priority        → exact (selective 3-way join, grouped
  revenue, top-k)
- Q4  order-priority checking  → EXISTS semi-join ("late-shipped"
  replaces the absent commit/receipt dates)
- Q5  local supplier volume    → exact (6-way snowflake join with a
  cycle-closing equi-constraint)
- Q6  forecast revenue change  → exact (pure scan predicate + sum)
- Q7  volume shipping          → cross-region nation-pair flows
- Q8  market share             → share-of-revenue ratio per year
- Q9  product-type profit      → 0.6·p_retailprice·qty stands in for
  ps_supplycost·qty in the profit term
- Q10 returned items           → exact (returned-item customer ranking)
- Q11 important parts          → a scale-invariant 1.5×-mean value
  bar replaces the absolute 0.0001 fraction
- Q12 shipmode priority class  → conditional agg (returnflag stands
  in for the absent l_shipmode)
- Q13 customer distribution    → left-join + two-level aggregate
- Q14 promo effect             → conditional revenue ratio
- Q15 top supplier             → derived view + scalar-max subquery
- Q16 parts/supplier counts    → supplier set per part derives from
  lineitem; the comment-based complaint exclusion is dropped
- Q17 small-quantity revenue   → per-part correlated average
- Q18 large orders             → grouped HAVING semi-join
- Q19 disjunctive predicates   → OR-of-ANDs join filter
- Q20 excess-stock suppliers   → "holds >half the shipped volume of
  a part" replaces the available-quantity predicate
- Q21 waiting suppliers        → EXISTS + NOT-EXISTS double
  decorrelation ("late" = shipped >120 days after order)
- Q22 inactive customers       → anti-join + global scalar threshold
  (inactive-since-date replaces the absent phone-prefix predicate;
  the fixtures give every customer at least one order)

Portability: revenue/balance sums go through DECIMAL(18,6)
(functions/portable.py dsum rule); quantity sums round-then-cast to
BIGINT on BOTH sides (explicit round(q, 0) — a bare double→BIGINT
cast truncates in Spark but rounds-to-nearest in DuckDB, a live
divergence if a future fixture regeneration makes quantities
fractional; today they are integer-valued so the round is an exact
no-op); ratios divide two exact-decimal-derived doubles
then round to 4 dp with the -0.0 guard; Q15's max-revenue equality
compares EXACT decimals, never rounded doubles; counts cast to
BIGINT on both sides; dates emit as yyyy-MM-dd strings; every top-k
orderBy carries a unique-key tiebreak.

Reference parity: the reference (prazanna/hbase-sep [R: path-level
UNVERIFIED per SURVEY §0]) is a CDC transport with no relational
layer; this suite documents that the re-expressed engine covers the
full standard warehouse-join repertoire its feed consumers run.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from hbase_sep_spark.functions.portable import DEC
from hbase_sep_spark.io import t
from hbase_sep_spark.registry import register


def _revenue() -> Column:
    """Exact-decimal per-lineitem revenue: the double product has ≤4
    true decimals, DECIMAL(18,6) recovers it exactly on both engines."""
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)


_REV_SQL = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))"


def _ts(lit: str) -> Column:
    return F.lit(lit).cast("timestamp")


@register(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    """,
    section="2.3",
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 variant (order-priority checking): orders per priority
    in one quarter having at least one lineitem shipped more than 90
    days after the order date (the reduced schema has no
    commit/receipt dates, so "late-shipped" preserves the EXISTS
    shape with the columns available).

    Scale shape: Catalyst decorrelates the EXISTS into a LEFT SEMI
    join on l_orderkey with the 90-day condition as a join filter —
    one fact⋈fact shuffle, lineitem never duplicated per match; the
    quarter predicate pushes to the orders scan; output is
    priority-cardinality (5 rows)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("tpchs_orders_v")
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("tpchs_lineitem_v")
    return spark.sql(
        """
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM tpchs_orders_v o
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate <  TIMESTAMP '1996-10-01'
          AND EXISTS (SELECT 1 FROM tpchs_lineitem_v l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        GROUP BY o_orderpriority
        """
    )


@register(
    "tpch_q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(round(sum({_REV_SQL}), 2) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN supplier ON l_suppkey  = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND ((r1.r_name = 'ASIA' AND r2.r_name = 'EUROPE')
        OR (r1.r_name = 'EUROPE' AND r2.r_name = 'ASIA'))
    GROUP BY supp_nation, cust_nation, l_year
    """,
    section="2.3",
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 variant (volume shipping): bilateral trade flows —
    revenue per (supplier nation, customer nation, ship year) for
    flows between the ASIA and EUROPE regions, both directions, two
    ship years. Region-pair rather than the classic nation-pair so
    the query is non-empty at every fixture SF (sf0.001 has only 10
    suppliers).

    Scale shape: nation⋈region collapses into two tiny renamed
    broadcast dims (one per side — renaming the key columns before
    the join sidesteps the cached-DataFrame self-join trap); the ship
    predicate pushes to the lineitem scan; the only big shuffles are
    the two fact joins; the disjunctive region-pair filter runs on
    already-broadcast-joined string columns. Output ≤ 25×25×2."""
    lo, hi = _ts("1996-01-01"), _ts("1998-01-01")
    region = t(spark, sf_dir, "region")
    nation = t(spark, sf_dir, "nation")
    # Rename per side before joining: the t() cache returns the SAME
    # DataFrame for both nation references (io.py sharp edge).
    n_s = (
        nation.join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.col("n_nationkey").alias("s_nkey"),
            F.col("n_name").alias("supp_nation"),
            F.col("r_name").alias("supp_region"),
        )
    )
    n_c = (
        nation.join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.col("n_nationkey").alias("c_nkey"),
            F.col("n_name").alias("cust_nation"),
            F.col("r_name").alias("cust_region"),
        )
    )
    li = (
        t(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    )
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(
            ((F.col("supp_region") == "ASIA") & (F.col("cust_region") == "EUROPE"))
            | ((F.col("supp_region") == "EUROPE") & (F.col("cust_region") == "ASIA"))
        )
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.round(F.sum(_revenue()), 2).cast("double").alias("revenue"))
    )


@register(
    "tpch_q8_market_share",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           round(CAST(sum(CASE WHEN n1.n_name = 'NATION_5' THEN {_REV_SQL}
                               ELSE CAST(0.0 AS DECIMAL(18,6)) END) AS DOUBLE)
                 / CAST(sum({_REV_SQL}) AS DOUBLE), 4) + 0.0 AS mkt_share
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN part ON l_partkey = p_partkey
    WHERE r2.r_name = 'ASIA' AND p_type = 'ECONOMY'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY o_year
    """,
    section="2.3",
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 variant (national market share): NATION_5 suppliers'
    share of ECONOMY-part revenue sold to ASIA-region customers, per
    order year. The share divides two exact-decimal sums cast to
    double (numerator ⊆ denominator, so 0 ≤ share ≤ 1) and rounds to
    4 dp with the -0.0 guard.

    Scale shape: part + supplier-nation + customer-nation sides are
    all broadcast dims (renamed per side); date + type predicates
    push to the scans; two fact shuffles; 2-row output."""
    lo, hi = _ts("1996-01-01"), _ts("1998-01-01")
    nation = t(spark, sf_dir, "nation")
    n_c = (
        nation.join(
            t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("c_nkey"))
    )
    n_s = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    part = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = (
        t(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    joined = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("s_nkey"))
    )
    zero = F.lit(0.0).cast(DEC)
    num = F.sum(F.when(F.col("supp_nation") == "NATION_5", _revenue()).otherwise(zero))
    den = F.sum(_revenue())
    return (
        joined.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (F.round(num.cast("double") / den.cast("double"), 4) + F.lit(0.0)).alias(
                "mkt_share"
            )
        )
    )


@register(
    "tpch_q12_priority_class",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    GROUP BY l_returnflag
    """,
    section="2.3",
)
def tpch_q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 variant (priority class of late shipments): for
    lineitems shipped in one year more than 60 days after their
    order, count high- vs low-priority orders per return flag (the
    reduced schema has no l_shipmode, so l_returnflag carries the
    grouping role; the conditional-aggregation shape is identical).

    Scale shape: the ship-year predicate pushes to the lineitem
    scan; one fact⋈fact shuffle on the order key; the lateness
    condition is a post-join filter on two present columns; the
    conditional counts are map-side-combinable longs; 3-row output."""
    lo, hi = _ts("1997-01-01"), _ts("1998-01-01")
    li = (
        t(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .select("l_orderkey", "l_returnflag", "l_shipdate")
    )
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


@register(
    "tpch_q13_customer_distribution",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
        SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
    section="2.4",
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): the orders-per-customer
    histogram — LEFT join with the priority filter in the JOIN
    condition (so match-less customers keep count 0), per-customer
    count, then a second aggregate over the counts.

    Scale shape: the filter folds into the join's streamed side
    before the shuffle; the first aggregate reuses the join's
    c_custkey partitioning (no second fact shuffle); the histogram
    aggregate shuffles only (count, 1) pairs — tiny. The left join
    preserves the zero bucket that a WHERE-clause filter would
    destroy."""
    cust = t(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )


@register(
    "tpch_q14_promo_effect",
    oracle=f"""
    SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN {_REV_SQL}
                                       ELSE CAST(0.0 AS DECIMAL(18,6)) END) AS DOUBLE)
                 / CAST(sum({_REV_SQL}) AS DOUBLE), 4) + 0.0 AS promo_revenue_pct
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
    section="2.4",
)
def tpch_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): PROMO parts' percentage of one
    month's revenue — the canonical conditional-ratio aggregate.
    Numerator and denominator are exact decimal sums cast to double
    before the division; 4-dp round with the -0.0 guard.

    Scale shape: month predicate pushes to the lineitem scan; part
    broadcasts; single global aggregate with map-side partials."""
    lo, hi = _ts("1997-09-01"), _ts("1997-10-01")
    li = (
        t(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    part = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    zero = F.lit(0.0).cast(DEC)
    num = F.sum(F.when(F.col("p_type") == "PROMO", _revenue()).otherwise(zero))
    den = F.sum(_revenue())
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.round(F.lit(100.0) * num.cast("double") / den.cast("double"), 4)
                + F.lit(0.0)
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey, sum({_REV_SQL}) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(round(total_rev, 2) AS DOUBLE) AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM rev)
    ORDER BY s_suppkey
    """,
    section="2.4",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the supplier(s) with the maximum
    quarter revenue — derived aggregate view + scalar-max subquery.
    The max-equality compares EXACT decimal sums (order-independent
    on both engines); only the emitted column is rounded. Ties all
    surface, ordered by s_suppkey.

    Scale shape: one lineitem shuffle builds the per-supplier view;
    the scalar max is a 1-row broadcast crossJoin (never a window
    over an unpartitioned frame); supplier names broadcast-join onto
    the winners."""
    lo, hi = _ts("1996-01-01"), _ts("1996-04-01")
    rev = (
        t(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy("l_suppkey")
        .agg(F.sum(_revenue()).alias("total_rev"))
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_rev"), 2).cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q17_small_qty_revenue",
    oracle="""
    WITH partavg AS (
        SELECT l_partkey AS ap_partkey,
               sum(CAST(round(l_quantity, 0) AS BIGINT)) / count(*) AS avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                 / 7.0, 2) + 0.0 AS avg_yearly
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN partavg ON l_partkey = ap_partkey
    WHERE p_brand = 'Brand#12'
      AND l_quantity < 0.5 * avg_qty
    """,
    section="2.4",
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 variant (small-quantity-order revenue): yearly-
    averaged revenue of Brand#12 lineitems whose quantity is below
    half that part's average quantity (0.5 rather than the classic
    0.2 so every fixture SF stays non-empty). l_quantity is
    integer-valued, so the per-part average divides an exact BIGINT
    sum by the count — bit-identical IEEE on both engines, and 0.5×
    halving is exact, so the threshold comparison can never diverge.

    Scale shape: the correlated average decorrelates into one
    lineitem aggregate shuffled on l_partkey that joins back on the
    same key (partitioning reused); the brand filter broadcasts from
    part and prunes BEFORE the threshold join's probe side. Single-
    row output."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    partavg = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (
            F.sum(F.round(F.col("l_quantity"), 0).cast("bigint")) / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    brand = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#12")
        .select("p_partkey")
    )
    return (
        li.join(F.broadcast(brand), F.col("l_partkey") == F.col("p_partkey"))
        .join(partavg, F.col("l_partkey") == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            (
                F.round(
                    F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / 7.0, 2
                )
                + F.lit(0.0)
            ).alias("avg_yearly")
        )
    )


@register(
    "tpch_q18_large_orders",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_date,
           o_totalprice,
           CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(CAST(round(l_quantity, 0) AS BIGINT)) > 250
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_date, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    section="2.4",
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume orders): the 20 priciest orders whose
    total quantity exceeds 250 units (threshold calibrated so every
    fixture SF qualifies rows; quantities sum exactly as BIGINT).

    Scale shape: the HAVING subquery is one lineitem aggregate on
    l_orderkey; its qualifying keys semi-join back into the same
    lineitem partitioning (no data duplication — the IN becomes a
    LEFT SEMI); orders and customer attach by broadcast-sized joins
    at fixture scale and key-partitioned joins beyond; top-20 via
    TakeOrderedAndProject with the o_orderkey tiebreak."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.round(F.col("l_quantity"), 0).cast("bigint")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
        .select(F.col("l_orderkey").alias("big_orderkey"), "sum_qty")
    )
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, F.col("big_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
            "o_totalprice",
            F.col("sum_qty").cast("bigint").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@register(
    "tpch_q19_disjunctive_revenue",
    oracle=f"""
    SELECT CAST(round(sum({_REV_SQL}), 2) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
    section="2.4",
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 variant (discounted revenue, OR-of-ANDs): revenue
    matched by any of three (brand, size-range, quantity-range)
    conjunctions — the classic disjunctive mixed-side join predicate
    (the reduced schema drops the shipmode/shipinstruct legs; the
    three-armed OR across both join sides is the shape under test).

    Scale shape: Catalyst extracts the common l_partkey equi-key so
    this stays a broadcast HASH join with the disjunction as a
    residual filter — never a nested-loop join; the per-arm brand
    OR-union prunes the part build side via in-filter pushdown."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    arm1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    )
    arm2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    )
    arm3 = (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(arm1 | arm2 | arm3)
        .agg(F.round(F.sum(_revenue()), 2).cast("double").alias("revenue"))
    )


@register(
    "tpch_q21_waiting_suppliers",
    oracle="""
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders    ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 120 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o3.o_orderdate + INTERVAL 120 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    section="2.3",
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 variant (suppliers who kept orders waiting): per
    supplier, finished multi-supplier orders where ONLY that supplier
    shipped late (>120 days after order — the reduced schema's
    receipt/commit stand-in). EXISTS + NOT EXISTS on the same fact
    table, the hardest decorrelation shape in the suite.

    Scale shape: Catalyst turns the EXISTS into a LEFT SEMI and the
    NOT EXISTS into a LEFT ANTI join, both hash-partitioned on
    l_orderkey like the main join — three co-partitioned passes over
    lineitem, no per-row re-execution, no nested loop (pinned in
    tests/test_plans.py). Output ≤ supplier cardinality, top-20 with
    the s_name tiebreak."""
    t(spark, sf_dir, "supplier").createOrReplaceTempView("tpchs_supplier_v")
    t(spark, sf_dir, "orders").createOrReplaceTempView("tpchs_orders_v")
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("tpchs_lineitem_v")
    return spark.sql(
        """
        SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM tpchs_supplier_v
        JOIN tpchs_lineitem_v l1 ON s_suppkey = l1.l_suppkey
        JOIN tpchs_orders_v    ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 120 DAY
          AND EXISTS (SELECT 1 FROM tpchs_lineitem_v l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM tpchs_lineitem_v l3
                          JOIN tpchs_orders_v o3 ON o3.o_orderkey = l3.l_orderkey
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o3.o_orderdate + INTERVAL 120 DAY)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
        """
    )


@register(
    "tpch_q22_inactive_customers",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS totacctbal
    FROM customer c
    WHERE c_mktsegment IN ('AUTOMOBILE', 'MACHINERY')
      AND c_acctbal > (
          SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*)
          FROM customer
          WHERE c_acctbal > 0
            AND c_mktsegment IN ('AUTOMOBILE', 'MACHINERY'))
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_mktsegment
    """,
    section="2.3",
)
def tpch_q22_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 variant (global sales opportunity): well-funded but
    lapsed customers — two segments, balance above the positive-
    balance segment average, and NO order since 2000 (the fixtures
    give every customer at least one order, so "never ordered" is
    re-anchored to a recency cutoff; the anti-join + global-scalar-
    threshold shape is intact). The average threshold derives from
    an exact decimal sum so the comparison is order-independent.

    Scale shape: the scalar average is a 1-row broadcast; the NOT
    EXISTS decorrelates to a LEFT ANTI hash join on o_custkey with
    the date predicate pushed below it; balance sums are decimal-
    exact; 2-row output."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("tpchs_customer_v")
    t(spark, sf_dir, "orders").createOrReplaceTempView("tpchs_orders_v")
    return spark.sql(
        """
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS numcust,
               CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS totacctbal
        FROM tpchs_customer_v c
        WHERE c_mktsegment IN ('AUTOMOBILE', 'MACHINERY')
          AND c_acctbal > (
              SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*)
              FROM tpchs_customer_v
              WHERE c_acctbal > 0
                AND c_mktsegment IN ('AUTOMOBILE', 'MACHINERY'))
          AND NOT EXISTS (
              SELECT 1 FROM tpchs_orders_v o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY c_mktsegment
        """
    )


@register(
    "tpch_q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           CAST(round(sum({_REV_SQL}), 2) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS o_date,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_date, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    section="2.3",
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 variant (shipping priority): the 10 highest-revenue
    unshipped orders for one market segment — selective dim filter,
    fact⋈fact join, grouped exact-decimal revenue, deterministic
    top-k (revenue DESC, l_orderkey tiebreak).

    Scale shape: both date predicates push to the parquet scans;
    the filtered customer dim broadcasts into orders (semi-form);
    the only big shuffle is lineitem⋈orders on the order key, whose
    partitioning the groupBy(l_orderkey, ...) then REUSES (no second
    fact shuffle); the top-10 is TakeOrderedAndProject — per
    partition heaps, no global sort. That plan is SF-invariant."""
    cutoff = F.lit("1998-01-01").cast("timestamp")
    cust = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"), "left_semi")
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
            "o_orderpriority",
        )
        .agg(F.round(F.sum(_revenue()), 2).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_date", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(round(sum({_REV_SQL}), 2) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
    section="2.3",
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 variant (local supplier volume): revenue per nation
    where customer and supplier share the nation, one region, one
    order-year — the 6-way snowflake join whose cycle-closing
    constraint (c_nationkey = s_nationkey) defeats naive star
    planning.

    Scale shape: region→nation→supplier collapse into one broadcast
    chain (dims); the year predicate pushes to the orders scan; the
    two fact joins shuffle on their keys and the cycle constraint is
    applied as a cheap post-join filter on two already-present int
    columns, never a second join. Aggregate output is
    nation-cardinality — trivially small."""
    cutoff_lo = F.lit("1996-01-01").cast("timestamp")
    cutoff_hi = F.lit("1997-01-01").cast("timestamp")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = t(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= cutoff_lo) & (F.col("o_orderdate") < cutoff_hi)
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
    )
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.round(F.sum(_revenue()), 2).cast("double").alias("revenue"),
    )


@register(
    "tpch_q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           CAST(round(sum({_REV_SQL}), 2) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-07-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    section="2.3",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 variant (returned-item ranking): the 20 customers
    who returned the most revenue in a half-year — the churn-risk
    report. Same portability discipline as Q3: exact-decimal revenue,
    deterministic (revenue DESC, c_custkey) top-k.

    Scale shape: returnflag + date predicates push to both fact
    scans; nation broadcasts; the customer join shuffles on
    c_custkey and the groupBy reuses that partitioning; top-20 via
    TakeOrderedAndProject."""
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1997-07-01").cast("timestamp")
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    orders = (
        t(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_custkey")
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    nation = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(_revenue()), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q11_important_parts",
    oracle="""
    WITH v AS (
        SELECT l_partkey,
               sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS s
        FROM lineitem GROUP BY l_partkey
    ),
    tot AS (
        SELECT CAST(sum(s) AS DOUBLE) AS ts,
               CAST(count(*) AS BIGINT) AS np
        FROM v
    )
    SELECT l_partkey, CAST(round(s, 2) AS DOUBLE) AS part_value
    FROM v, tot
    WHERE CAST(s AS DOUBLE) * np * 2.0 > 3.0 * ts
    """,
    section="2.4",
)
def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock) on the reduced schema:
    parts whose shipped value exceeds 1.5× the mean per-part value —
    the group-HAVING-vs-global-scalar form. The ×-mean threshold is
    scale-invariant (Q11's absolute 0.0001 fraction returns zero
    rows once part cardinality grows — verified empty at sf0.01);
    the compare multiplies identically-derived doubles on both
    sides (s·np·2 > 3·total), never dividing, so no rounding sits
    inside the predicate.

    Scale shape: one map-side-combinable part aggregate; the 1-row
    total broadcasts back (the aggregate subtree plans twice but
    executes once — ReusedExchange, the heavy-hitters pattern); the
    filter doesn't shuffle; only qualifying parts materialize."""
    v = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast(DEC)).alias("s"))
    )
    tot = v.agg(
        F.sum("s").cast("double").alias("ts"),
        F.count(F.lit(1)).cast("bigint").alias("np"),
    )
    return (
        v.crossJoin(F.broadcast(tot))
        .filter(F.col("s").cast("double") * F.col("np") * 2.0 > 3.0 * F.col("ts"))
        .select(
            "l_partkey",
            F.round(F.col("s"), 2).cast("double").alias("part_value"),
        )
    )


@register(
    "tpch_q2_min_cost_supplier",
    oracle="""
    WITH ps AS (
        SELECT l_partkey AS pk, l_suppkey AS sk,
               min(CAST(l_extendedprice AS DECIMAL(18,6))) AS cost
        FROM lineitem GROUP BY pk, sk
    ),
    eur AS (
        SELECT s_suppkey, s_name, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ),
    cand AS (
        SELECT pk, sk, cost, s_name, n_name,
               min(cost) OVER (PARTITION BY pk) AS best
        FROM ps JOIN eur ON sk = s_suppkey
    )
    SELECT c.pk AS p_partkey, c.s_name, c.n_name,
           CAST(round(c.cost, 2) AS DOUBLE) AS min_cost
    FROM cand c JOIN part ON c.pk = p_partkey
    WHERE p_size = 25 AND c.cost = c.best
    ORDER BY min_cost DESC, p_partkey, s_name
    LIMIT 20
    """,
    section="2.3",
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 variant (minimum-cost supplier): for each size-25
    part, the EUROPE supplier(s) with the lowest observed cost —
    ps_supplycost is absent, so the min shipped extended price per
    (part, supplier) stands in. The min-equality compares EXACT
    decimals (never rounded doubles), ties surface all suppliers,
    and the top-20 breaks ties on (p_partkey, s_name).

    Scale shape: one lineitem shuffle builds the derived partsupp;
    the EUROPE filter collapses into a broadcast supplier dim BEFORE
    the per-part min window (so the window ranks only qualifying
    rows — Q2's correlated subquery decorrelated by hand); the part
    size filter broadcasts onto the winner set."""
    ps = (
        t(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
        )
        .agg(F.min(F.col("l_extendedprice").cast(DEC)).alias("cost"))
    )
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eur = (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name")
    )
    cand = ps.join(F.broadcast(eur), F.col("sk") == F.col("s_suppkey")).withColumn(
        "best", F.min("cost").over(Window.partitionBy("pk"))
    )
    part25 = (
        t(spark, sf_dir, "part").filter(F.col("p_size") == 25).select("p_partkey")
    )
    return (
        cand.filter(F.col("cost") == F.col("best"))
        .join(F.broadcast(part25), F.col("pk") == F.col("p_partkey"))
        .select(
            F.col("pk").alias("p_partkey"),
            "s_name",
            "n_name",
            F.round(F.col("cost"), 2).cast("double").alias("min_cost"),
        )
        .orderBy(F.col("min_cost").desc(), "p_partkey", "s_name")
        .limit(20)
    )


@register(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT CAST(round(sum(CAST(l_extendedprice * l_discount
                              AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    section="2.4",
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change), exact: the revenue
    that would vanish if small-quantity mid-discount orders were
    dropped — one ship year, discount band, quantity cap. The
    price×discount product carries ≤4 true decimals, recovered
    exactly by the decimal cast.

    Scale shape: the purest pushdown showcase in the suite — all
    three predicates reach the parquet scan as PushedFilters, a
    two-column read feeds one map-side-combined global sum, nothing
    shuffles but 1-row partials (pinned in tests/test_plans.py)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= _ts("1997-01-01"))
            & (F.col("l_shipdate") < _ts("1998-01-01"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast(DEC)),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "tpch_q9_product_profit",
    oracle="""
    SELECT n_name AS supp_nation,
           CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                               - 0.6 * p_retailprice * l_quantity
                              AS DECIMAL(18,6))), 2) AS DOUBLE) AS profit
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN part     ON l_partkey = p_partkey
    WHERE p_name LIKE '%widget%'
    GROUP BY supp_nation, o_year
    """,
    section="2.4",
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 variant (product-type profit): profit on widget
    parts per supplier nation and order year. ps_supplycost is
    absent, so cost is proxied as 0.6·p_retailprice·quantity — the
    profit expression keeps Q9's exact shape (revenue minus
    cost-by-quantity). The term carries ≤4 true decimals
    (2-dec·2-dec and 1-dec·2-dec·int), exactly recovered by the
    decimal cast.

    Scale shape: the name filter broadcasts from part and prunes
    the fact FIRST; supplier→nation collapse into one broadcast;
    the only big shuffle is lineitem⋈orders; nation×year output."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
    )
    part = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
    ).cast(DEC)
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("supp_nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).cast("double").alias("profit"))
    )


@register(
    "tpch_q16_parts_supplier_counts",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#45'
      AND p_type <> 'ECONOMY'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    LIMIT 20
    """,
    section="2.4",
)
def tpch_q16_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 variant (parts/supplier relationship): how many
    distinct suppliers ship each (brand, type, size) combination,
    excluding one brand and one type — the supplier set derives
    from lineitem (no partsupp) and the comment-based complaint
    exclusion is dropped (no comment columns). Deterministic top-20
    with the full key as tiebreak.

    Scale shape: the negative predicates + size IN-list broadcast
    from part and prune the fact before the shuffle; the distinct
    count expands to a two-level aggregate (distinct pairs, then
    counts) — both map-side combinable; TakeOrderedAndProject."""
    part = (
        t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#45")
            & (F.col("p_type") != "ECONOMY")
            & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).cast("bigint").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
        .limit(20)
    )


@register(
    "tpch_q20_excess_stock_suppliers",
    oracle="""
    WITH shipped AS (
        SELECT l_partkey AS pk, l_suppkey AS sk,
               CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS sq
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY pk, sk
    ),
    tot AS (SELECT pk, CAST(sum(sq) AS BIGINT) AS t FROM shipped GROUP BY pk),
    dom AS (
        SELECT sk, CAST(count(*) AS BIGINT) AS ndom
        FROM shipped JOIN tot USING (pk)
        WHERE 2 * sq > t
        GROUP BY sk
    ),
    bar AS (SELECT CAST(sum(ndom) AS BIGINT) AS td,
                   CAST(count(*) AS BIGINT) AS ns FROM dom)
    SELECT s_suppkey, s_name, ndom AS n_dominated_parts
    FROM dom
    JOIN supplier ON sk = s_suppkey
    CROSS JOIN bar
    WHERE ndom * ns * 10 >= 12 * td
    ORDER BY n_dominated_parts DESC, s_suppkey
    LIMIT 20
    """,
    section="2.3",
)
def tpch_q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 variant (excess-stock suppliers): suppliers who
    dominate the shipped volume of unusually many parts — "held
    more than half a part's availability" is re-anchored to "shipped
    more than half a part's 1997 volume" (no partsupp availqty), and
    the final bar is a scale-invariant ≥1.2×-mean dominance count
    in EXACT integer arithmetic (ndom·ns·10 ≥ 12·Σndom — no
    division). Top-20 with the s_suppkey tiebreak.

    Scale shape: one fact shuffle to (part, supplier) grain; the
    per-part totals reuse the pk partitioning; the dominance filter
    is a broadcast-total compare; the supplier dim broadcasts onto
    the bounded dominator set."""
    lo, hi = _ts("1997-01-01"), _ts("1998-01-01")
    orders = (
        t(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey")
    )
    shipped = (
        t(spark, sf_dir, "lineitem")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
        .agg(F.sum(F.round(F.col("l_quantity"), 0).cast("bigint")).cast("bigint").alias("sq"))
    )
    tot = shipped.groupBy("pk").agg(F.sum("sq").cast("bigint").alias("t"))
    dom = (
        shipped.join(tot, "pk")
        .filter(2 * F.col("sq") > F.col("t"))
        .groupBy("sk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ndom"))
    )
    bar = dom.agg(
        F.sum("ndom").cast("bigint").alias("td"),
        F.count(F.lit(1)).cast("bigint").alias("ns"),
    )
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        dom.crossJoin(F.broadcast(bar))
        .filter(F.col("ndom") * F.col("ns") * 10 >= 12 * F.col("td"))
        .join(F.broadcast(supp), F.col("sk") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.col("ndom").alias("n_dominated_parts"))
        .orderBy(F.col("n_dominated_parts").desc(), "s_suppkey")
        .limit(20)
    )
