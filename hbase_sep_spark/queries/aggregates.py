"""§2.4 Aggregations.

All aggregates are expressed declaratively so Catalyst plans a
partial (map-side) + final hash aggregate — at 100 TB the partial
combine is what keeps the shuffle small. No driver-side collection
anywhere. Double aggregates are rounded per the SURVEY §2 determinism
rule; every computed column is aliased identically to the oracle SQL.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hbase_sep_spark.functions import arr_str, davg, dsum, fin, json_int, json_int_sql
from hbase_sep_spark.io import memo, t
from hbase_sep_spark.operators import quantiles
from hbase_sep_spark.registry import register

SECTION = "2.4"


@register(
    "agg_global",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
           CAST(round(CAST(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(l_extendedprice) AS VARCHAR) AS DECIMAL(38,18)), 2) AS DOUBLE) AS avg_price,
           round(min(l_discount), 2) AS min_disc,
           round(max(l_tax), 2) AS max_tax
    FROM lineitem
    """,
    section=SECTION,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no-group) aggregate over lineitem. Single-stage partial
    aggregate per partition + one tiny final reduce; scales linearly."""
    return t(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_quantity").alias("sum_qty"),
        davg("l_extendedprice").alias("avg_price"),
        F.round(F.min("l_discount"), 2).alias("min_disc"),
        F.round(F.max("l_tax"), 2).alias("max_tax"),
    )


@register(
    "agg_groupby_basic",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
           CAST(round(CAST(CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(l_quantity) AS VARCHAR) AS DECIMAL(38,18)), 2) AS DOUBLE) AS avg_qty,
           CAST(round(CAST(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(l_extendedprice) AS VARCHAR) AS DECIMAL(38,18)), 2) AS DOUBLE) AS avg_price,
           CAST(round(CAST(CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(l_discount) AS VARCHAR) AS DECIMAL(38,18)), 2) AS DOUBLE) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    section=SECTION,
)
def agg_groupby_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape (the flagship query; `entry()` runs this).

    Hash aggregate with automatic partial+final split; the group-by
    cardinality is tiny (|returnflag|x|linestatus| = 6) so the shuffle
    is a few KB regardless of input scale.
    """
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        dsum(disc_price).alias("sum_disc_price"),
        dsum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
        davg("l_quantity").alias("avg_qty"),
        davg("l_extendedprice").alias("avg_price"),
        davg("l_discount").alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "agg_having",
    oracle="""
    SELECT o_custkey,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 12
    """,
    section=SECTION,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING). The filter runs after the
    final aggregate — no extra shuffle."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .filter(F.col("n_orders") >= 12)
    )


@register(
    "agg_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_custs,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
    section=SECTION,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct count per group (expands to a two-phase
    aggregate; Catalyst plans the distinct-expansion automatically)."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_custs"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register("agg_approx_count_distinct", oracle=None, memoize=True, section=SECTION)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct estimate — the 100 TB path where exact distinct
    would shuffle every key. rows-only check (estimates differ across
    engines by design)."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.approx_count_distinct("o_custkey", 0.01).alias("approx_custs"))
    )


@register(
    "agg_min_max_stats",
    oracle="""
    SELECT l_returnflag,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price,
           round(stddev_samp(l_extendedprice), 2) AS std_price,
           round(var_samp(l_quantity), 2) AS var_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    section=SECTION,
)
def agg_min_max_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
            F.round(F.stddev_samp("l_extendedprice"), 2).alias("std_price"),
            F.round(F.var_samp("l_quantity"), 2).alias("var_qty"),
        )
    )


@register(
    "agg_median_percentile",
    oracle="""
    SELECT l_linestatus,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 2) AS median_price,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9), 2) AS p90_price
    FROM lineitem
    GROUP BY l_linestatus
    """,
    section=SECTION,
)
def agg_median_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated percentile (== DuckDB `quantile_cont`),
    computed statistics-assisted via operators/quantiles.py — the
    at-scale shape for exact quantiles, replacing the per-group sort
    buffer entirely.  See that module's docstring for the full
    histogram → locate → (skew-refine) → bounded-sort design; the
    table's histogram comes from `price_stats`, shared by every
    percentile query against the table.  `agg_approx_percentile`
    remains the one-pass sketch alternative."""
    li = t(spark, sf_dir, "lineitem")
    pq = quantiles.exact_percentiles(
        spark,
        li,
        "l_extendedprice",
        "l_linestatus",
        {"median": 0.5, "p90": 0.9},
        stats=price_stats(spark, sf_dir),
    )
    return pq.groupBy("l_linestatus").agg(
        F.round(
            F.max(F.when(F.col("qname") == "median", F.col("value"))), 2
        ).alias("median_price"),
        F.round(
            F.max(F.when(F.col("qname") == "p90", F.col("value"))), 2
        ).alias("p90_price"),
    )


def price_stats(spark: SparkSession, sf_dir: str) -> dict:
    """The l_extendedprice-by-l_linestatus histogram behind the exact
    percentile queries (quantiles.compute_stats, one Spark job),
    memoized on lineitem's listing: a lineitem rewritten at the same
    path gets fresh stats, so a re-planned query never locates its
    percentiles in the old table's bins. Small dicts, 32 at most."""
    return memo(
        "price_stats",
        f"{sf_dir}/lineitem.parquet",
        lambda: quantiles.compute_stats(
            t(spark, sf_dir, "lineitem"), "l_extendedprice", "l_linestatus"
        ),
        spark=spark,
        maxsize=32,
    )


@register("agg_approx_percentile", oracle=None, memoize=True, section=SECTION)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB percentile path: approx_percentile (KLL-style
    mergeable sketch — bounded memory per group, partial-aggregates
    merge associatively, no per-group value buffer). rows-only: the
    sketch's answers are accuracy-bounded, not value-identical across
    engines; tests/test_operators.py gates it against the exact
    percentile within the sketch's rank-error bound."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
            F.approx_percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.9)), F.lit(10000)).alias("ps")
        )
        .select(
            "l_linestatus",
            F.round(F.element_at("ps", 1), 2).alias("median_price_approx"),
            F.round(F.element_at("ps", 2), 2).alias("p90_price_approx"),
        )
    )


@register(
    "agg_corr",
    oracle="""
    WITH guarded AS (
        SELECT l_returnflag, l_quantity, l_extendedprice,
               count(*) OVER w >= 2
                 AND min(l_quantity) OVER w <> max(l_quantity) OVER w
                 AND min(l_extendedprice) OVER w <> max(l_extendedprice) OVER w
                 AS ok
        FROM lineitem WINDOW w AS (PARTITION BY l_returnflag)
    )
    SELECT l_returnflag,
           round(corr(CASE WHEN ok THEN l_quantity END,
                      CASE WHEN ok THEN l_extendedprice END), 4) + 0.0
               AS corr_qty_price
    FROM guarded GROUP BY l_returnflag
    """,
    section=SECTION,
)
def agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per return flag, with the degenerate-group
    guard (the agg_spearman_corr / ts_autocorrelation pattern): under
    ANSI (the driver's plain session) `F.corr` THROWS DIVIDE_BY_ZERO
    on a 1-row or zero-variance group where DuckDB returns NULL, so
    both inputs are nulled on degenerate groups via same-exchange
    window min/max — degrading them to the safe n=0 → NULL case
    identically on both engines. The window's l_returnflag hash
    partitioning satisfies the groupBy's distribution, so the guard
    adds NO extra exchange. `+ 0.0` normalizes a rounded -0.0 (the
    maybe-negative rounded-float rule)."""
    w = Window.partitionBy("l_returnflag")
    ok = (
        (F.count(F.lit(1)).over(w) >= 2)
        & (F.min("l_quantity").over(w) != F.max("l_quantity").over(w))
        & (F.min("l_extendedprice").over(w) != F.max("l_extendedprice").over(w))
    )
    guarded = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.when(ok, F.col("l_quantity")).alias("q"),
        F.when(ok, F.col("l_extendedprice")).alias("p"),
    )
    return guarded.groupBy("l_returnflag").agg(
        (F.round(F.corr("q", "p"), 4) + F.lit(0.0)).alias("corr_qty_price")
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT r_name,
           n_name,
           count(*) AS n_custs,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    HAVING count(*) > 0
    """,
    section=SECTION,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals region→nation. The dim joins broadcast
    (nation=25, region=5 rows); rollup expands grouping sets in one
    aggregate.

    Empty-input policy (zero-row sweep, round 10): Spark's grouping
    sets expand to Expand + hash aggregate keyed by grouping id, so
    zero input rows → zero groups → ZERO output rows, while DuckDB
    follows the standard and still emits the grand-total `()` row.
    The engine's contract is Spark's (empty in → empty out); the
    oracle mirrors it with `HAVING count(*) > 0` — a no-op on any
    non-empty input (every grouping-set row aggregates ≥1 row), it
    only drops the lone ()-row when the whole input is empty."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    joined = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_custs"),
        dsum("c_acctbal").alias("sum_bal"),
    )


@register(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus,
           o_orderpriority,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    HAVING count(*) > 0
    """,
    section=SECTION,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Empty-input policy: empty in → empty out on both sides (the
    # HAVING is a no-op on non-empty input — see agg_rollup).
    return t(spark, sf_dir, "orders").cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("sum_price"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           CAST(grouping(l_returnflag) AS INTEGER) AS g_flag,
           CAST(grouping(l_linestatus) AS INTEGER) AS g_status,
           count(*) AS n_items
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    HAVING count(*) > 0
    """,
    section=SECTION,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping() markers, via spark.sql
    (SURVEY §3.2 EP2 — SQL entry point).

    Empty-input policy: empty in → empty out on both sides (the
    oracle HAVING is a no-op on non-empty input — see agg_rollup)."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag,
               l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_flag,
               CAST(grouping(l_linestatus) AS INT) AS g_status,
               count(*) AS n_items
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "agg_collect_sorted",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list_sort(list(l_linenumber)), ',') AS line_numbers,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_orderkey <= 100
    GROUP BY l_orderkey
    """,
    section=SECTION,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group sorted value list (array_sort makes the collect
    deterministic per SURVEY §2), serialized to a CSV string — the
    driver canonicalizer cannot sort list cells (round-1 FAIL)."""
    return (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 100)
        .groupBy("l_orderkey")
        .agg(
            arr_str(F.array_sort(F.collect_list("l_linenumber"))).alias("line_numbers"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "agg_conditional",
    oracle="""
    SELECT user_id,
           CAST(round(sum(CAST(CASE WHEN event_type = 'click' THEN (CASE WHEN isnan(value) OR isinf(value) THEN NULL ELSE value END) ELSE 0 END AS DECIMAL(18,6))), 2) AS DOUBLE) AS click_value,
           CAST(round(sum(CAST(CASE WHEN event_type = 'purchase' THEN (CASE WHEN isnan(value) OR isinf(value) THEN NULL ELSE value END) ELSE 0 END AS DECIMAL(18,6))), 2) AS DOUBLE) AS purchase_value,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
           count(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
    section=SECTION,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-style conditional aggregation (sum of CASE WHEN) — the
    scalable form of pivot: one pass, no per-category shuffle.
    `value` passes the fin() gate before the decimal cast: a NaN/Inf
    measure would otherwise throw CAST_OVERFLOW under ANSI (round-7
    non-finite sweep); gated it degrades to NULL, which sum skips
    identically in both engines."""
    ev = t(spark, sf_dir, "events")

    return ev.groupBy("user_id").agg(
        dsum(F.when(F.col("event_type") == "click", fin("value")).otherwise(F.lit(0.0))).alias("click_value"),
        dsum(F.when(F.col("event_type") == "purchase", fin("value")).otherwise(F.lit(0.0))).alias("purchase_value"),
        F.sum(F.when(F.col("event_type") == "error", F.lit(1)).otherwise(F.lit(0))).alias("n_errors"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "agg_bitwise",
    oracle=f"""
    SELECT user_id % 10 AS user_bucket,
           bit_and({json_int_sql()}) AS k_and,
           bit_or({json_int_sql()}) AS k_or,
           bit_xor({json_int_sql()}) AS k_xor
    FROM events
    GROUP BY user_bucket
    """,
    section=SECTION,
)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise AND/OR/XOR aggregates (flag-set accumulation) — fully
    associative/commutative, so shuffle order is irrelevant by
    construction."""
    ev = t(spark, sf_dir, "events")
    k = json_int("props")
    return (
        ev.select((F.col("user_id") % 10).alias("user_bucket"), k.alias("k"))
        .groupBy("user_bucket")
        .agg(
            F.bit_and("k").alias("k_and"),
            F.bit_or("k").alias("k_or"),
            F.bit_xor("k").alias("k_xor"),
        )
    )


@register(
    "agg_regr_slope",
    oracle=f"""
    SELECT user_id % 10 AS user_bucket,
           round(regr_slope(value, {json_int_sql()}), 6) AS slope,
           round(regr_intercept(value, {json_int_sql()}), 6) AS intercept,
           count(*) AS n
    FROM events
    GROUP BY user_bucket
    """,
    section=SECTION,
)
def agg_regr_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares fit (value ~ payload k) via the
    built-in regression aggregates — the grouped-analytics primitive
    (one pass, partial+final like any aggregate)."""
    ev = t(spark, sf_dir, "events")
    k = json_int("props")
    return (
        ev.select((F.col("user_id") % 10).alias("user_bucket"), F.col("value"), k.alias("k"))
        .groupBy("user_bucket")
        .agg(
            F.round(F.regr_slope("value", "k"), 6).alias("slope"),
            F.round(F.regr_intercept("value", "k"), 6).alias("intercept"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "agg_histogram",
    oracle="""
    SELECT CAST(CASE WHEN v < 0 THEN 0
                     WHEN v >= 500 THEN 11
                     ELSE floor(v / 50) + 1 END AS INT) AS bin,
           count(*) AS n_events,
           round(min(v), 2) + 0.0 AS bin_min,
           round(max(v), 2) + 0.0 AS bin_max
    FROM (SELECT CASE WHEN isnan(value) OR isinf(value) THEN NULL ELSE value END AS v
          FROM events)
    GROUP BY bin
    """,
    section=SECTION,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket — the profiling
    primitive; bin assignment is per-row, counts aggregate as usual.
    The fin() gate sends non-finite measures to the NULL bin on both
    sides: ungated, Spark's width_bucket(NaN) is NULL while DuckDB's
    total-order NaN >= 500 is TRUE (bin 11) — the engines disagree on
    which bucket garbage lands in (round-7 non-finite sweep).
    bin_min/bin_max carry the standing '+ 0.0' negative-zero
    normalization (ADVICE-r7): a feed holding both -0.0 and +0.0 in
    one bin lets min/max keep either representative of the equal pair
    per engine, and '-0.0' vs '0.0' diverge textually in the hash."""
    ev = t(spark, sf_dir, "events")
    v = fin("value")
    return (
        ev.select(F.width_bucket(v, F.lit(0), F.lit(500), F.lit(10)).cast("int").alias("bin"), v.alias("v"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.round(F.min("v"), 2) + F.lit(0.0)).alias("bin_min"),
            (F.round(F.max("v"), 2) + F.lit(0.0)).alias("bin_max"),
        )
    )


@register(
    "agg_argmax_misc",
    oracle="""
    SELECT user_id,
           arg_max(CASE WHEN event_type IS NOT NULL THEN event_type END,
                   CASE WHEN event_type IS NOT NULL THEN
                        printf('%020d-%010d', epoch_us(ts) + 4611686018427387904, CAST(event_id AS BIGINT)) END)
               AS latest_type,
           arg_min(CASE WHEN event_type IS NOT NULL THEN event_type END,
                   CASE WHEN event_type IS NOT NULL THEN
                        printf('%020d-%010d', epoch_us(ts) + 4611686018427387904, CAST(event_id AS BIGINT)) END)
               AS first_type,
           CAST(count(*) FILTER (WHERE value > 250) AS BIGINT) AS n_high,
           bool_or(value > 480) AS any_extreme,
           bool_and(value > 0) AS all_positive
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY user_id
    """,
    section=SECTION,
)
def agg_argmax_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax aggregates), count_if, bool_and/bool_or —
    the 'latest attribute per key' one-pass form that replaces a
    window + filter when only the argmax is needed. The argmax key is
    the composite (ts, event_id) ordering string (the ts_weekly_ohlc
    pattern): on a bare ts both engines pick an ARBITRARY row when two
    events share (user_id, ts) — the one divergence the round-6
    tie-injection sweep found across the registry. Values are
    unchanged on a ts-unique feed (every fixture SF to date). The
    epoch is biased by 2^62 (both sides) so a pre-1970 row can never
    format a sign into %020d and lexically invert the pick order.
    Null-time rows are dead-lettered on both sides (round-8 null-ts
    sweep): a NULL ts cannot rank in the argmax order and the
    engines' NULL-key pick semantics differ. NULL event_type rows
    are invisible to the picks on both sides too (round-8 null-keys
    sweep — DuckDB arg_max SKIPS rows whose VALUE argument is NULL
    while Spark max_by returns them; the ts_weekly_ohlc nulled-key
    pattern makes Spark skip the same rows)."""
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    okey = F.format_string(
        "%020d-%010d",
        F.unix_micros(F.col("ts")) + F.lit(4611686018427387904),
        F.col("event_id"),
    )
    vkey = F.when(F.col("event_type").isNotNull(), okey)
    return ev.groupBy("user_id").agg(
        F.max_by("event_type", vkey).alias("latest_type"),
        F.min_by("event_type", vkey).alias("first_type"),
        F.count_if(F.col("value") > 250).alias("n_high"),
        F.bool_or(F.col("value") > 480).alias("any_extreme"),
        F.bool_and(F.col("value") > 0).alias("all_positive"),
    )


@register(
    "agg_string_concat",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
           count(*) AS n_nations
    FROM nation
    GROUP BY n_regionkey
    """,
    section=SECTION,
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg/string_agg): per-region
    CSV of nation names — sorted inside the group so the collect is
    deterministic (SURVEY §2 rule)."""
    n = t(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations_csv"),
        F.count(F.lit(1)).alias("n_nations"),
    )


@register("agg_hll_sketch_union", oracle=None, memoize=True, section=SECTION)
def agg_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches — THE 100 TB distinct-user
    pattern: per-(event_type, day) HLL sketches (Apache DataSketches
    via hll_sketch_agg), then a second aggregation UNIONS the binary
    sketches across days and estimates distinct users per type. The
    two-level shape is what makes it scale: daily sketches are tiny
    (~KB), pre-computable, and re-aggregatable to ANY rollup (weekly,
    all-time) without touching raw data again — unlike exact
    count_distinct, whose partials are the full value sets.

    rows-only: sketch estimates are implementation-defined (DuckDB's
    approx_count_distinct uses a different HLL); the estimate is
    gated against exact distinct counts in tests/test_operators.py."""
    ev = t(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
        )
        .groupBy("event_type", "day")
        .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_distinct_users"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_mode_exact",
    oracle="""
    WITH counted AS (
        SELECT user_id, event_type, count(*) AS n,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY count(*) DESC, event_type) AS rn
        FROM events
        GROUP BY user_id, event_type
    )
    SELECT user_id,
           event_type AS modal_type,
           CAST(n AS BIGINT) AS n_events
    FROM counted WHERE rn = 1
    """,
    section=SECTION,
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group mode (most frequent event type per user) with a
    DETERMINISTIC tie-break (smallest type name wins) — built as
    count + window top-1 rather than the engines' mode() functions,
    whose tie-breaking is implementation-defined and would never
    hash-match across engines. Shape: partial+final count aggregate,
    then a WindowGroupLimit top-1 on the (already small) per-group
    count table — both shuffles on user_id, AQE-coalesced."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    counted = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"), "event_type")
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("modal_type"), "n_events")
    )
