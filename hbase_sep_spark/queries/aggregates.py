"""§2.4 Aggregations.

All aggregates are expressed declaratively so Catalyst plans a
partial (map-side) + final hash aggregate — at 100 TB the partial
combine is what keeps the shuffle small. No driver-side collection
anywhere. Double aggregates are rounded per the SURVEY §2 determinism
rule; every computed column is aliased identically to the oracle SQL.

Beyond the §2.4 primitives: robust and weighted location/spread
estimators, distribution tests (KS, Mann-Whitney, chi-square,
Jensen-Shannon), correlation and regression fits, and the sketches
(CMS, KMV, bitmap distinct).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hbase_sep_spark.functions import arr_str, davg, dsum, fin, json_int, json_int_sql
from hbase_sep_spark.functions.portable import DEC, knuth_hash
from hbase_sep_spark.io import memo, t
from hbase_sep_spark.operators import quantiles
from hbase_sep_spark.operators import text as T
from hbase_sep_spark.queries.windows import _DAILY_SQL, _daily
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


# Four independent integer hash rows (Knuth + xxhash-family odd
# multipliers). The id reduces mod 2^31 BEFORE the multiply
# (portable.knuth_hash rule): (2^31 - 1) * K < 2^63 for every
# multiplier, so ANSI can never ARITHMETIC_OVERFLOW at any id scale
# (a bare (user_id+1) * K throws once ids exceed ~2.8e9 — realistic
# at 100 TB), values unchanged for fixture-scale ids, and the oracle
# replays the sketch bit-for-bit in exact int64.
_CMS_KS = (2654435761, 2246822519, 3266489917, 668265263)
_CMS_W = 256
_CMS_M = 4294967296


def _cms_bucket_sql(i: int) -> str:
    return (
        f"((((CAST(user_id AS BIGINT) + 1) % 2147483648) * {_CMS_KS[i]}) % {_CMS_M}) % {_CMS_W}"
    )


@register(
    "agg_cms_freq_sketch",
    oracle=f"""
    WITH hashed AS (
        SELECT user_id, i,
               CASE i WHEN 0 THEN {_cms_bucket_sql(0)}
                      WHEN 1 THEN {_cms_bucket_sql(1)}
                      WHEN 2 THEN {_cms_bucket_sql(2)}
                      ELSE {_cms_bucket_sql(3)} END AS bucket
        FROM events CROSS JOIN generate_series(0, 3) t(i)
    ),
    counters AS (SELECT i, bucket, count(*) AS cnt FROM hashed GROUP BY i, bucket),
    keys AS (SELECT DISTINCT user_id, i, bucket FROM hashed),
    est AS (
        SELECT k.user_id, min(c.cnt) AS cms_est
        FROM keys k JOIN counters c ON c.i = k.i AND c.bucket = k.bucket
        GROUP BY k.user_id
    ),
    exact AS (SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY user_id)
    SELECT e.user_id, CAST(x.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(e.cms_est AS BIGINT) AS cms_est,
           CAST(e.cms_est - x.exact_cnt AS BIGINT) AS overcount
    FROM est e JOIN exact x ON e.user_id = x.user_id
    """,
    section="2.4",
)
def agg_cms_freq_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (d=4 × w=256), fully declarative: per-key
    frequency estimates from a fixed-size counter grid, the mergeable
    companion to agg_hll_sketch_union for the heavy-hitter side of
    stream monitoring. CMS guarantees est ≥ exact (the `overcount`
    column is the per-key witness), and the counter grid is additive —
    shards union by summing counters, which is what makes it THE
    frequency structure at 100 TB: the shuffle carries d×w=1024
    integers per map task, never per-key state.

    The hash rows use integer multiplicative hashing (odd constants,
    mod 2^32) — exact int64 arithmetic, so the DuckDB oracle rebuilds
    the identical sketch and the comparison is sql-hash, not
    rows-only: a rare case of an ESTIMATE structure with an exact
    oracle. Scale shape: one explode(×4) scan → 1024-cell aggregate;
    the per-key estimate joins keys to counters on (i, bucket) — the
    counter side is broadcast-sized by construction."""
    ev = t(spark, sf_dir, "events")
    hashed = ev.select(
        "user_id",
        F.posexplode(
            F.array(
                *[
                    knuth_hash(F.col("user_id") + 1, k=k, m=_CMS_M) % _CMS_W
                    for k in _CMS_KS
                ]
            )
        ).alias("i", "bucket"),
    )
    counters = hashed.groupBy("i", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    keys = hashed.distinct()
    est = (
        keys.join(F.broadcast(counters), ["i", "bucket"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("cms_est"))
    )
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    return est.join(exact, "user_id").select(
        "user_id",
        F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
        F.col("cms_est").cast("bigint").alias("cms_est"),
        (F.col("cms_est") - F.col("exact_cnt")).cast("bigint").alias("overcount"),
    )


_KMV_K = 32


@register(
    "agg_kmv_distinct_sketch",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT event_type,
               (((CAST(user_id AS BIGINT) + 1) % 2147483648) * 2654435761) % 4294967296 AS hv
        FROM events WHERE user_id IS NOT NULL
    ),
    rk AS (
        SELECT event_type, hv,
               row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        FROM h
    ),
    sk AS (
        SELECT event_type, count(*) AS n_kept,
               max(CASE WHEN rn = {_KMV_K} THEN hv END) AS h_k
        FROM rk WHERE rn <= {_KMV_K} GROUP BY event_type
    ),
    exact AS (
        SELECT event_type, count(DISTINCT user_id) AS n_exact
        FROM events GROUP BY event_type
    )
    SELECT s.event_type, CAST(x.n_exact AS BIGINT) AS n_exact,
           round(CASE WHEN s.n_kept < {_KMV_K} THEN CAST(s.n_kept AS DOUBLE)
                      ELSE ({_KMV_K} - 1) * 4294967296.0 / s.h_k END, 2)
               AS kmv_est,
           round((CASE WHEN s.n_kept < {_KMV_K} THEN CAST(s.n_kept AS DOUBLE)
                       ELSE ({_KMV_K} - 1) * 4294967296.0 / s.h_k END
                  - x.n_exact) / x.n_exact, 4) + 0.0 AS rel_err
    FROM sk s JOIN exact x ON s.event_type = x.event_type
    """,
    section="2.4",
)
def agg_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, fully
    declarative: per group keep the k smallest values of a uniform
    integer hash of the key; the k-th smallest h_k estimates the
    distinct count as (k-1)·M/h_k (the classic bottom-k estimator).
    Below k distinct hashes the sketch IS the exact distinct set.
    Mergeability is what matters at 100 TB: the union of two groups'
    sketches is the k smallest of the combined lists — a fixed-size
    state, same role as agg_hll_sketch_union but with an
    integer-portable hash the DuckDB oracle replays EXACTLY, so this
    estimate op is sql-hash graded, not rows-only.

    Scale shape: distinct (group, hash) is one map-side-combinable
    aggregate; the per-group bottom-k is a window top-k over
    group-partitioned integer hashes (k rows of state per group);
    everything after is group-cardinality.

    A NULL key has no hash: NULL user_id rows are excluded from the
    sketch on both sides (round-8 null-keys sweep — a NULL hv sorts
    NULLS FIRST into Spark's bottom-k but NULLS LAST out of
    DuckDB's); count(DISTINCT user_id) skips NULLs identically on
    both engines, so n_exact needs no filter."""
    ev = t(spark, sf_dir, "events")
    h = (
        ev.filter(F.col("user_id").isNotNull())
        .select(
            "event_type",
            knuth_hash(F.col("user_id") + 1).alias("hv"),
        )
        .distinct()
    )
    rn = F.row_number().over(Window.partitionBy("event_type").orderBy("hv"))
    sk = (
        h.withColumn("rn", rn)
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.max(F.when(F.col("rn") == _KMV_K, F.col("hv"))).alias("h_k"),
        )
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    est = F.when(
        F.col("n_kept") < _KMV_K, F.col("n_kept").cast("double")
    ).otherwise((_KMV_K - 1) * 4294967296.0 / F.col("h_k"))
    return sk.join(exact, "event_type").select(
        "event_type",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.round(est, 2).alias("kmv_est"),
        (F.round((est - F.col("n_exact")) / F.col("n_exact"), 4) + F.lit(0.0)).alias(
            "rel_err"
        ),
    )


@register(
    "agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS total_qty,
           round(CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(28,6)))
                      AS DOUBLE)
                 / CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4)
               AS qty_weighted_price
    FROM lineitem GROUP BY l_returnflag
    """,
    section="2.4",
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price — the reporting aggregate
    plain avg() silently gets wrong. Both sums run in exact decimal
    (the weighted numerator in DECIMAL(28,6): a 4-decimal short
    product summed without per-row rounding, per portable.py's rule),
    so the output is order-independent across engines; only the final
    quotient touches doubles.

    Scale shape: one map-side-combinable aggregate; decimal partials
    shuffle as fixed-width values."""
    li = t(spark, sf_dir, "lineitem")
    qty_dec = F.col("l_quantity").cast("decimal(18,6)")
    wsum = F.sum((F.col("l_extendedprice") * F.col("l_quantity")).cast("decimal(28,6)"))
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(qty_dec), 2).cast("double").alias("total_qty"),
        F.round(wsum.cast("double") / F.sum(qty_dec).cast("double"), 4).alias(
            "qty_weighted_price"
        ),
    )


@register(
    "agg_skew_kurtosis_portable",
    oracle="""
    WITH m AS (
        SELECT event_type,
               count(*) AS n,
               max(abs(value)) AS max_abs,
               CAST(sum(CAST(CASE WHEN abs(value) <= 100000 THEN value END
                             AS DECIMAL(38,8))) AS DOUBLE)
                   / count(*) AS m1,
               CAST(sum(CAST(CASE WHEN abs(value) <= 100000
                             THEN value * value END
                             AS DECIMAL(38,8))) AS DOUBLE)
                   / count(*) AS m2r,
               CAST(sum(CAST(CASE WHEN abs(value) <= 100000
                             THEN value * value * value END
                             AS DECIMAL(38,8)))
                    AS DOUBLE) / count(*) AS m3r,
               CAST(sum(CAST(CASE WHEN abs(value) <= 100000
                             THEN value * value * value * value END
                             AS DECIMAL(38,8)))
                    AS DOUBLE) / count(*) AS m4r
        FROM (SELECT event_type,
                     CASE WHEN isnan(value) OR isinf(value) THEN NULL ELSE value END AS value
              FROM events)
        GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CASE WHEN max_abs > 100000 THEN CAST(NULL AS DOUBLE)
                WHEN m2r - m1 * m1 > 0
                THEN round((m3r - 3 * m1 * m2r + 2 * m1 * m1 * m1)
                     / pow(m2r - m1 * m1, 1.5), 4) + 0.0
                ELSE CAST(NULL AS DOUBLE) END AS skewness_pop,
           CASE WHEN max_abs > 100000 THEN CAST(NULL AS DOUBLE)
                WHEN m2r - m1 * m1 > 0
                THEN round((m4r - 4 * m1 * m3r + 6 * m1 * m1 * m2r
                            - 3 * m1 * m1 * m1 * m1)
                     / pow(m2r - m1 * m1, 2) - 3, 4) + 0.0
                ELSE CAST(NULL AS DOUBLE) END AS excess_kurtosis_pop
    FROM m
    """,
    section="2.4",
)
def agg_skew_kurtosis_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis from explicit raw
    moments — deliberately NOT Spark's skewness()/kurtosis() against
    DuckDB's skewness()/kurtosis(): the built-ins apply different
    sample-bias corrections (DuckDB's carries the n/((n-1)(n-2))
    factor, Spark's is the population estimator), so the same data
    produces different numbers. Writing the central-moment identities
    over raw power sums on BOTH engines makes the definition — not
    the engine's choice of correction — the contract. The shape
    distribution profiling pass every feature store runs.

    The raw power sums run in exact DECIMAL(38,8) on both engines
    (value is 2-decimal, so v..v^4 are exact at 8 decimals): decimal
    summation is order-independent across shuffle configs, per the
    portable.py decimal-cast-sums rule. Only the post-aggregate
    moment algebra touches doubles.

    ENVELOPE: exactness costs range — Σv⁴ must fit DECIMAL(38,8),
    i.e. |v|⁴·n < 10^30 (|v| ≤ 1e5 keeps 10^13 rows/group safe).
    Round-8 (VERDICT-r7 item 5): out-of-envelope groups now DEGRADE
    to NULL moments instead of an ANSI ARITHMETIC_OVERFLOW throw —
    each summand is guarded with WHEN abs(v) <= 1e5 (so the decimal
    cast never sees an overflowing power) and a per-group max(abs(v))
    NULLs skewness/kurtosis for any group that had an out-of-envelope
    value, identically on both engines. One pass, still map-side
    combinable. Off-envelope groups are byte-identical to the round-7
    green (the guard is a no-op when every |v| ≤ 1e5). Pinned by
    tests/test_extreme_fixture.py::test_skew_kurtosis_envelope_degrades_to_null;
    the fixture-assumption canary (tests/test_fixture_assumptions.py)
    still documents the fixture's observed range.

    Scale shape: one map-side-combinable aggregate (4 power sums per
    group); the moment algebra is post-aggregate scalar math on
    group-cardinality rows. Non-finite measures pass the fin() gate
    before the decimal casts (ANSI CAST_OVERFLOW on NaN — round-7
    non-finite sweep); the envelope above applies to FINITE values."""
    ev = t(spark, sf_dir, "events")
    v = fin("value")
    in_env = F.abs(v) <= F.lit(100000.0)

    def _msum(expr):
        guarded = F.when(in_env, expr)
        return F.sum(guarded.cast("decimal(38,8)")).cast("double") / F.count(F.lit(1))

    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.abs(v)).alias("max_abs"),
        _msum(v).alias("m1"),
        _msum(v * v).alias("m2r"),
        _msum(v * v * v).alias("m3r"),
        _msum(v * v * v * v).alias("m4r"),
    )
    m1, m2r, m3r, m4r = F.col("m1"), F.col("m2r"), F.col("m3r"), F.col("m4r")
    var = m2r - m1 * m1
    skew = (m3r - 3 * m1 * m2r + 2 * m1 * m1 * m1) / F.pow(var, 1.5)
    kurt = (m4r - 4 * m1 * m3r + 6 * m1 * m1 * m2r - 3 * m1 * m1 * m1 * m1) / F.pow(
        var, 2
    ) - 3
    # var = 0 (a constant or single-row group) would divide by zero:
    # ANSI Spark throws where DuckDB yields inf/NaN (found by the
    # pathological-fixture sweep, round 6). Guard both sides to NULL.
    over_env = F.col("max_abs") > F.lit(100000.0)
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.when(over_env, F.lit(None).cast("double"))
        .when(var > 0, F.round(skew, 4) + F.lit(0.0))
        .otherwise(F.lit(None).cast("double"))
        .alias("skewness_pop"),
        F.when(over_env, F.lit(None).cast("double"))
        .when(var > 0, F.round(kurt, 4) + F.lit(0.0))
        .otherwise(F.lit(None).cast("double"))
        .alias("excess_kurtosis_pop"),
    )


@register(
    "agg_bitmap_distinct_users",
    oracle="""
    WITH b AS (
        SELECT event_type,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               (user_id - ((user_id % 32) + 32) % 32) // 32 AS bucket,
               bit_or(1::BIGINT << CAST(((user_id % 32) + 32) % 32 AS INT)) AS bm,
               count(*) AS n
        FROM events GROUP BY 1, 2, 3
    )
    SELECT event_type, day,
           CAST(sum(bit_count(bm)) AS BIGINT) AS n_users,
           CAST(sum(n) AS BIGINT) AS n_events
    FROM b GROUP BY 1, 2
    """,
    section="2.4",
)
def agg_bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct count via bitmap OR-aggregation — the
    roaring-bitmap pattern for dense integer keys, and the third
    point on the repo's distinct-count spectrum (exact expansion:
    agg_count_distinct; mergeable estimate: agg_hll_sketch_union;
    exact AND mergeable when keys are dense ints: this). Each
    (group, key-chunk) partial is ONE long whose bits mark present
    keys; bit_or partials merge associatively and commutatively, so
    the shuffle carries fixed-width longs and the result is exact —
    COUNT(DISTINCT)'s two-phase row expansion never happens.

    Chunks are 32 bits wide so the shift distance stays ≤ 31 on both
    engines (DuckDB raises on 1::BIGINT << 63 overflow; Spark wraps).
    Bit index and bucket both use the FLOOR-mod pair (round-8
    negative-id sweep): a negative user_id makes plain `%` negative
    on both engines — DuckDB then ERRORS on the negative shift while
    Spark silently wraps, and Spark's trunc-division bucket disagrees
    with DuckDB's floor `//`. `((uid % 32) + 32) % 32` plus the
    exactly-divisible `(uid - pmod) / 32` bucket keep (bucket, bit)
    a bijection over ALL longs, identically on both engines.

    Scale shape: two map-side-combinable aggregates, both keyed by
    (event_type, day[, bucket]) — the second input is already
    bucket-level, orders of magnitude smaller than the events. At
    100 TB with user ids up to 2^40 this exact shape still works:
    bitmap partials stay proportional to live chunks, not key
    range."""
    ev = t(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    b = ev.groupBy(
        "event_type",
        day.alias("day"),
        # integral `div` (not double /): the numerator is exactly
        # divisible, so trunc == floor at ANY id magnitude — a double
        # round-trip would lose exactness past 2^53.
        F.expr(
            "(user_id - (((user_id % 32) + 32) % 32)) div 32"
        ).alias("bucket"),
    ).agg(
        # PySpark's shiftleft() only takes a literal bit count, so the
        # per-row shift distance goes through the SQL form.
        F.bit_or(
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(((user_id % 32) + 32) % 32 AS INT))"
            )
        ).alias("bm"),
        F.count(F.lit(1)).alias("n"),
    )
    return b.groupBy("event_type", "day").agg(
        F.sum(F.bit_count("bm")).cast("bigint").alias("n_users"),
        F.sum("n").cast("bigint").alias("n_events"),
    )


@register(
    "agg_heavy_hitters_exact",
    oracle="""
    WITH pairs AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY user_id, event_type
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t,
                   CAST(count(*) AS BIGINT) AS np FROM pairs)
    SELECT user_id, event_type, n,
           round(100.0 * n / t, 4) + 0.0 AS share_pct
    FROM pairs, tot
    WHERE n * np * 10 > 13 * t
    """,
    section="2.4",
)
def agg_heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy-hitters (iceberg aggregate): every (user, type)
    pair holding more than 1.3× the MEAN pair volume, with its
    share. This is the hot-key detector that DECIDES skew handling —
    the keys it returns are the ones join_skew_salted's salting
    exists for. The relative-to-mean threshold is scale-invariant
    (an absolute share cutoff returns nothing once cardinality
    grows — verified empty at sf0.1 — while ×mean tracks the
    distribution at every SF), and the compare is exact integer
    math (n·np·10 > 13·t — no division); the share is the only
    rounded double.

    Scale shape: one map-side-combinable pair aggregate (the iceberg
    property: partials shrink to the distinct-pair count per mapper;
    the pair subtree appears twice in the plan but executes once —
    ReusedExchange at runtime, verified), a 1-row total broadcast,
    then a non-shuffling filter. The heavy tail never materializes
    anywhere."""
    ev = t(spark, sf_dir, "events")
    pairs = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = pairs.agg(
        F.sum("n").cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("np"),
    )
    return (
        pairs.crossJoin(F.broadcast(tot))
        .filter(F.col("n") * F.col("np") * 10 > 13 * F.col("t"))
        .select(
            "user_id",
            "event_type",
            "n",
            (F.round(100.0 * F.col("n") / F.col("t"), 4) + F.lit(0.0)).alias(
                "share_pct"
            ),
        )
    )


@register(
    "agg_geometric_mean",
    oracle="""
    WITH l AS (
        SELECT event_type,
               CAST(round(ln(v), 6) AS DECIMAL(18,6)) AS lnv
        FROM (SELECT event_type,
                     CASE WHEN isnan(value) OR isinf(value) THEN NULL ELSE value END AS v
              FROM events)
        WHERE v > 0
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(exp(CAST(sum(lnv) AS DOUBLE) / count(*)), 4) + 0.0
               AS geo_mean
    FROM l
    GROUP BY event_type
    """,
    section="2.4",
)
def agg_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean per group — the correct average for
    multiplicative quantities (rates, ratios, relative changes),
    where the arithmetic mean over-weights spikes. Decomposed as
    exp(mean(ln x)) with the per-row ln pre-rounded to 6 dp and
    summed in exact DECIMAL(18,6) (the text_unigram_logprob
    portability pattern), so the group sum is order-independent and
    only the final exp/divide touch floating point.

    Scale shape: one map-side-combinable aggregate — partials carry
    (decimal sum, count), identical to any avg. Zero-filter guards
    the ln domain on both sides; the fin() gate guards it against
    non-finite measures (ungated, DuckDB's total-order NaN > 0 is
    TRUE where Spark's IEEE NaN > 0 is false, and ln(Inf) crashes
    the decimal cast — round-7 non-finite sweep)."""
    v = fin("value")
    ev = t(spark, sf_dir, "events").filter(v > 0)
    lnv = F.round(F.log(v), 6).cast("decimal(18,6)")
    return (
        ev.select("event_type", lnv.alias("lnv"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (
                F.round(
                    F.exp(F.sum("lnv").cast("double") / F.count(F.lit(1))), 4
                )
                + F.lit(0.0)
            ).alias("geo_mean"),
        )
    )


@register(
    "agg_weighted_median",
    oracle="""
    WITH o AS (
        SELECT l_returnflag, l_extendedprice,
               CAST(l_quantity AS BIGINT) AS w,
               sum(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING) AS cum,
               sum(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_returnflag) AS tot
        FROM lineitem
    )
    SELECT l_returnflag,
           CAST(max(tot) AS BIGINT) AS total_weight,
           min(CASE WHEN 2 * cum >= tot THEN l_extendedprice END)
               AS weighted_median_price
    FROM o
    GROUP BY l_returnflag
    """,
    section="2.4",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: the price at which half the QUANTITY (not
    half the rows) has been shipped — the inventory-weighted central
    price. Exact form: order by price, accumulate integer weights,
    take the first price whose running weight reaches half the
    total. All weight math is exact int64 (l_quantity is
    integer-valued); the median itself is a raw per-row value, never
    rounded. Composite (price, orderkey, linenumber) ordering makes
    the cumulative sum deterministic under price ties, and min() over
    the crossing rows is tie-stable by construction.

    Scale shape — the point of this operator: the oracle's
    per-group ordered cumulative window serializes each group (3
    return flags ⇒ parallelism 3 at ANY scale — measured 0.53 s at
    sf0.1, the one structural straggler of the round-5 additions),
    so the impl computes the running weight with the two-level
    bucket decomposition instead (events_offset_islands' pattern):
    per-(flag, price-bucket) weight partials (map-side combinable),
    a cumulative window over the BUCKET-cardinality frame (4096×
    smaller than the data; recurses at extreme scale), broadcast
    back, then a fully parallel within-bucket window partitioned by
    (flag, bucket). All weight math stays exact int64, so the result
    is bit-identical to the serial form."""
    li = t(spark, sf_dir, "lineitem")
    wt = F.col("l_quantity").cast("bigint")
    rows = li.select(
        "l_returnflag",
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        wt.alias("w"),
        (F.col("l_extendedprice") / 4096).cast("long").alias("bucket"),
    )
    per_bucket = rows.groupBy("l_returnflag", "bucket").agg(
        F.sum("w").alias("wsum")
    )
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_flag = Window.partitionBy("l_returnflag")
    offsets = per_bucket.select(
        "l_returnflag",
        "bucket",
        F.coalesce(F.sum("wsum").over(w_cum), F.lit(0)).alias("w_before"),
        F.sum("wsum").over(w_flag).alias("tot"),
    )
    w_in = (
        Window.partitionBy("l_returnflag", "bucket")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        rows.join(F.broadcast(offsets), ["l_returnflag", "bucket"])
        .select(
            "l_returnflag",
            "l_extendedprice",
            "tot",
            (F.col("w_before") + F.sum("w").over(w_in)).alias("cum"),
        )
    )
    return cum.groupBy("l_returnflag").agg(
        F.max("tot").cast("bigint").alias("total_weight"),
        F.min(
            F.when(2 * F.col("cum") >= F.col("tot"), F.col("l_extendedprice"))
        ).alias("weighted_median_price"),
    )


@register(
    "agg_trimmed_mean",
    oracle="""
    WITH q AS (
        SELECT l_linestatus,
               quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.05) AS p05,
               quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95) AS p95
        FROM lineitem GROUP BY l_linestatus
    )
    SELECT l.l_linestatus,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(round(CAST(CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6)))
                           AS DOUBLE) / count(*) AS VARCHAR) AS DECIMAL(38,18)), 2) AS DOUBLE) + 0.0 AS trimmed_mean
    FROM lineitem l JOIN q ON l.l_linestatus = q.l_linestatus
    WHERE l.l_extendedprice >= q.p05 AND l.l_extendedprice <= q.p95
    GROUP BY l.l_linestatus
    """,
    section="2.4",
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean per group — the robust average that survives
    fat tails and data-entry spikes. Thresholds are the EXACT
    interpolated p05/p95 (operators/quantiles.py's histogram →
    locate → bounded-sort machinery, the same engine behind
    agg_median_percentile — interpolation arithmetic is identical to
    DuckDB's quantile_cont, so the boundary filter agrees on both
    engines); the interior mean is an exact decimal sum over the
    kept rows.

    Scale shape: the threshold pass is statistics-assisted (O(bins)
    driver state, no per-group sort buffer); the mean is one
    map-side-combinable aggregate over the filtered scan with the
    1-row-per-group thresholds joined back by broadcast."""
    from hbase_sep_spark.operators import quantiles as _q
    from hbase_sep_spark.queries.aggregates import price_stats

    li = t(spark, sf_dir, "lineitem")
    pq = _q.exact_percentiles(
        spark,
        li,
        "l_extendedprice",
        "l_linestatus",
        {"p05": 0.05, "p95": 0.95},
        stats=price_stats(spark, sf_dir),
    )
    thresholds = pq.groupBy("l_linestatus").agg(
        F.max(F.when(F.col("qname") == "p05", F.col("value"))).alias("p05"),
        F.max(F.when(F.col("qname") == "p95", F.col("value"))).alias("p95"),
    )
    kept = li.join(
        F.broadcast(thresholds.withColumnRenamed("l_linestatus", "g")),
        F.col("l_linestatus") == F.col("g"),
    ).filter(
        (F.col("l_extendedprice") >= F.col("p05"))
        & (F.col("l_extendedprice") <= F.col("p95"))
    )
    return kept.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        (
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                2,
            )
            + F.lit(0.0)
        ).alias("trimmed_mean"),
    )


@register(
    "agg_gini_activity",
    oracle="""
    WITH per_user AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT x, CAST(row_number() OVER (ORDER BY x, user_id) AS BIGINT) AS i
        FROM per_user
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s1,
               CAST(sum(i * x) AS BIGINT) AS s2
        FROM ranked
    )
    SELECT n AS n_users, s1 AS n_events,
           round(2.0 * s2 / (n * 1.0 * s1) - (n + 1.0) / n, 6) + 0.0
               AS gini
    FROM s
    """,
    section="2.4",
)
def agg_gini_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event volume — the one-number
    inequality audit (0 = uniform feed, →1 = a few keys dominate)
    that complements agg_heavy_hitters_exact's per-key list: Gini
    says WHETHER the feed is skewed, heavy-hitters says WHERE. Uses
    the rank formulation G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over
    ascending-sorted counts; every sum is exact int64 (i·x products
    of bigints), so the single rounded expression at the end is the
    only float.

    Scale shape: the oracle's global row_number is the one window
    that cannot scale, so the impl ranks with the two-level bucket
    decomposition (events_offset_islands / agg_weighted_median's
    pattern): per count-bucket partials, a bucket-frame cumulative
    for each bucket's predecessor count, broadcast back, and a fully
    parallel within-bucket rank. The final aggregate carries three
    int64s."""
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    bucketed = per_user.withColumn("bucket", (F.col("x") / 16).cast("long"))
    counts = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "bucket",
        F.coalesce(F.sum("cnt").over(w_cum), F.lit(0)).alias("rank_before"),
    )
    w_in = Window.partitionBy("bucket").orderBy("x", "user_id")
    ranked = bucketed.join(F.broadcast(offsets), "bucket").select(
        "x",
        (F.row_number().over(w_in) + F.col("rank_before")).cast("bigint").alias("i"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.col("i") * F.col("x")).cast("bigint").alias("s2"),
    )
    return s.select(
        F.col("n").alias("n_users"),
        F.col("s1").alias("n_events"),
        (
            F.round(
                2.0 * F.col("s2") / (F.col("n") * 1.0 * F.col("s1"))
                - (F.col("n") + 1.0) / F.col("n"),
                6,
            )
            + F.lit(0.0)
        ).alias("gini"),
    )


@register(
    "agg_median_abs_deviation",
    oracle="""
    WITH med AS (
        SELECT l_linestatus,
               quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS med
        FROM lineitem GROUP BY l_linestatus
    )
    SELECT l.l_linestatus,
           round(max(m.med), 2) AS median_price,
           round(quantile_cont(abs(CAST(l.l_extendedprice AS DOUBLE) - m.med), 0.5), 2)
               AS mad_price
    FROM lineitem l JOIN med m ON l.l_linestatus = m.l_linestatus
    GROUP BY l.l_linestatus
    """,
    section="2.4",
)
def agg_median_abs_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation — the robust dispersion measure
    (immune to the outliers that inflate stddev) behind every
    robust-z anomaly threshold: MAD = median(|x − median(x)|) per
    group. Two passes of the statistics-assisted exact-percentile
    engine (operators/quantiles.py, agg_median_percentile's
    machinery): group medians first (table stats cached and shared
    with the other percentile queries), then the deviation median
    over |x − med| with the median joined back by broadcast. The
    interpolation arithmetic is identical to DuckDB's quantile_cont
    on both passes, so the derived deviations are bit-equal before
    the second pass ever runs.

    Scale shape: both passes are histogram-locate-bounded-sort —
    O(bins) driver state, no per-group sort buffer; the deviation
    frame adds one broadcast join over the scan."""
    from hbase_sep_spark.operators import quantiles as _q
    from hbase_sep_spark.queries.aggregates import price_stats

    li = t(spark, sf_dir, "lineitem")
    med = (
        _q.exact_percentiles(
            spark,
            li,
            "l_extendedprice",
            "l_linestatus",
            {"med": 0.5},
            stats=price_stats(spark, sf_dir),
        )
        .groupBy("l_linestatus")
        .agg(F.max("value").alias("med"))
    )
    dev = li.join(
        F.broadcast(med.withColumnRenamed("l_linestatus", "g")),
        F.col("l_linestatus") == F.col("g"),
    ).select(
        "l_linestatus",
        F.abs(F.col("l_extendedprice") - F.col("med")).alias("adev"),
        "med",
    )
    mad = (
        _q.exact_percentiles(spark, dev, "adev", "l_linestatus", {"mad": 0.5})
        .groupBy("l_linestatus")
        .agg(F.max("value").alias("mad"))
    )
    meds = med.select(
        F.col("l_linestatus").alias("gm"), F.round("med", 2).alias("median_price")
    )
    return (
        mad.join(F.broadcast(meds), F.col("l_linestatus") == F.col("gm"))
        .select(
            "l_linestatus",
            "median_price",
            F.round("mad", 2).alias("mad_price"),
        )
    )


@register(
    "agg_jensen_shannon_drift",
    oracle="""
    WITH cnts AS (
        SELECT event_type,
               CAST(sum(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END)
                    AS BIGINT) AS we,
               CAST(sum(CASE WHEN dayofweek(ts) IN (0, 6) THEN 0 ELSE 1 END)
                    AS BIGINT) AS wd
        FROM events GROUP BY event_type
    ),
    pq AS (
        SELECT CASE WHEN CAST(sum(wd) OVER () AS BIGINT) > 0
                    THEN CAST(wd AS DOUBLE) / CAST(sum(wd) OVER () AS BIGINT)
                    ELSE 0.0 END AS p,
               CASE WHEN CAST(sum(we) OVER () AS BIGINT) > 0
                    THEN CAST(we AS DOUBLE) / CAST(sum(we) OVER () AS BIGINT)
                    ELSE 0.0 END AS q
        FROM cnts
    ),
    pqm AS (SELECT p, q, (p + q) / 2 AS m FROM pq)
    SELECT round(sum(0.5 * (CASE WHEN p > 0 THEN p * ln(p / m) ELSE 0 END)
                    + 0.5 * (CASE WHEN q > 0 THEN q * ln(q / m) ELSE 0 END)),
                 4) + 0.0 AS js_nats
    FROM pqm
    """,
    section="2.4",
)
def agg_jensen_shannon_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the weekday and weekend
    event-type distributions — the bounded symmetric drift scalar
    (0 = identical mixes, ln 2 = disjoint) that mixture-monitoring
    uses where KL's asymmetry and unboundedness hurt. Zero-mass
    guards on both terms AND on both class totals (an all-weekday
    fixture must degrade to p=0 identically on both engines —
    Spark nulls a double division by zero where DuckDB yields
    inf/NaN); probabilities are exact count ratios; the final
    5-term sum rounds at 4 dp.

    Scale shape: ONE scan — a conditional-count aggregate over the
    feed (the weekend test folds into map-side partials); the totals
    come from unbounded windows over the TYPE-CARDINALITY grouped
    frame (bounded domain, so the single-partition window is a no-op
    — and it avoids the aggregate-branch re-scan a crossJoin of a
    derived total would cost); divergence arithmetic never touches
    data-sized rows."""
    weekend = F.dayofweek("ts").isin(1, 7)
    cnts = (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(weekend, 1).otherwise(0)).cast("bigint").alias("we"),
            F.sum(F.when(weekend, 0).otherwise(1)).cast("bigint").alias("wd"),
        )
    )
    wall = Window.partitionBy()
    swd = F.sum("wd").over(wall).cast("bigint")
    swe = F.sum("we").over(wall).cast("bigint")
    p = F.when(swd > 0, F.col("wd").cast("double") / swd).otherwise(F.lit(0.0))
    q = F.when(swe > 0, F.col("we").cast("double") / swe).otherwise(F.lit(0.0))
    pq = cnts.select(p.alias("p"), q.alias("q")).select(
        "p", "q", ((F.col("p") + F.col("q")) / 2).alias("m")
    )
    term_p = F.when(F.col("p") > 0, F.col("p") * F.log(F.col("p") / F.col("m"))).otherwise(0.0)
    term_q = F.when(F.col("q") > 0, F.col("q") * F.log(F.col("q") / F.col("m"))).otherwise(0.0)
    return pq.agg(
        (F.round(F.sum(0.5 * term_p + 0.5 * term_q), 4) + F.lit(0.0)).alias("js_nats")
    )


@register(
    "agg_cohens_kappa",
    oracle="""
    WITH lab AS (
        SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
               CASE WHEN len(string_split(text, ' ')) >= 55 THEN 1 ELSE 0 END
                   AS b
        FROM documents
    ),
    c AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(a) AS BIGINT) AS na,
               CAST(sum(b) AS BIGINT) AS nb,
               CAST(sum(a * b) AS BIGINT) AS n11
        FROM lab
    )
    SELECT CAST(round(CAST(CAST(CAST(2 * n11 + n - na - nb AS DOUBLE) / n AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) + 0.0
               AS po,
           CAST(round(CAST(CAST((CAST(na AS DOUBLE) / n) * (CAST(nb AS DOUBLE) / n)
                      + (CAST(n - na AS DOUBLE) / n)
                        * (CAST(n - nb AS DOUBLE) / n) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) + 0.0 AS pe,
           CASE WHEN ((CAST(na AS DOUBLE) / n) * (CAST(nb AS DOUBLE) / n)
                      + (CAST(n - na AS DOUBLE) / n)
                        * (CAST(n - nb AS DOUBLE) / n)) < 1
                THEN CAST(round(CAST(CAST((CAST(2 * n11 + n - na - nb AS DOUBLE) / n
                  - ((CAST(na AS DOUBLE) / n) * (CAST(nb AS DOUBLE) / n)
                     + (CAST(n - na AS DOUBLE) / n)
                       * (CAST(n - nb AS DOUBLE) / n)))
                 / (1 - ((CAST(na AS DOUBLE) / n) * (CAST(nb AS DOUBLE) / n)
                         + (CAST(n - na AS DOUBLE) / n)
                           * (CAST(n - nb AS DOUBLE) / n))) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) + 0.0
                ELSE CAST(NULL AS DOUBLE) END AS kappa
    FROM c
    """,
    section="2.11",
)
def agg_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ between two heuristic document labelers (length
    labeler: n_chars ≥ 300; verbosity labeler: ≥ 55 whitespace
    tokens) — the annotation-QA statistic: raw agreement (po) minus
    chance agreement (pe), normalized. Under label imbalance po
    alone overstates consensus; κ is what dataset-curation sign-offs
    quote. All inputs are exact integer counts; po/pe/κ derive with
    identical double expressions on both engines and round at 4 dp.

    Scale shape: ONE scan, one 4-counter global aggregate
    (map-side-combined), then constant-space arithmetic — the
    confusion matrix never materializes per row."""
    a = F.when(F.col("n_chars") >= 300, 1).otherwise(0)
    b = F.when(T.token_count_ws() >= 55, 1).otherwise(0)
    c = (
        t(spark, sf_dir, "documents")
        .select(a.alias("a"), b.alias("b"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("a").cast("bigint").alias("na"),
            F.sum("b").cast("bigint").alias("nb"),
            F.sum(F.col("a") * F.col("b")).cast("bigint").alias("n11"),
        )
    )
    po = (2 * F.col("n11") + F.col("n") - F.col("na") - F.col("nb")).cast(
        "double"
    ) / F.col("n")
    pe = (F.col("na").cast("double") / F.col("n")) * (
        F.col("nb").cast("double") / F.col("n")
    ) + ((F.col("n") - F.col("na")).cast("double") / F.col("n")) * (
        (F.col("n") - F.col("nb")).cast("double") / F.col("n")
    )
    return c.select(
        (F.round(po, 4) + F.lit(0.0)).alias("po"),
        (F.round(pe, 4) + F.lit(0.0)).alias("pe"),
        # pe = 1 (both labelers saturated — possible if a regenerated
        # fixture makes every doc long) would put 0/0 here: Spark
        # nulls it, DuckDB yields NaN. Guard so both degrade to NULL.
        F.when(pe < 1, F.round((po - pe) / (1 - pe), 4) + F.lit(0.0))
        .otherwise(F.lit(None).cast("double"))
        .alias("kappa"),
    )


@register(
    "agg_theil_sen_slope",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    idx AS (
        SELECT event_type, v,
               row_number() OVER (PARTITION BY event_type ORDER BY d) AS i
        FROM daily
    ),
    slopes AS (
        SELECT a.event_type,
               (b.v - a.v) / (b.i - a.i) AS s
        FROM idx a JOIN idx b
          ON a.event_type = b.event_type AND b.i > a.i
    ),
    agg AS (
        SELECT event_type, list_sort(list(s)) AS arr,
               CAST(count(*) AS BIGINT) AS n
        FROM slopes GROUP BY event_type
    )
    SELECT event_type,
           round((arr[CAST((n + 1) // 2 AS INT)]
                  + arr[CAST(n // 2 + 1 AS INT)]) / 2, 4) + 0.0
               AS ts_slope,
           n AS n_pairs
    FROM agg
    """,
    section="2.4",
)
def agg_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per feed: the median over all pairwise
    slopes (vⱼ−vᵢ)/(j−i) of the daily series — the slope estimate
    that survives ~29% contaminated days where agg_regr_slope's OLS
    fit chases every spike. Median via sorted-array middle picks
    (even counts average the two middles; 4-dp round, one digit past
    any tie).

    Scale shape: the O(d²) pair join runs on the DAILY frame — d is
    calendar-bounded (30/key here, 365/key for a year), so pairs per
    key are bounded regardless of data SF; the join is equi on
    event_type with the i<j band as a residual filter, and the
    per-type collect is over the bounded pair set. The data-sized
    work is only the daily aggregate."""
    idx = _daily(spark, sf_dir).select(
        "event_type",
        "v",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("d"))
        .alias("i"),
    )
    a = idx.alias("a")
    b = idx.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.i") > F.col("a.i")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        ((F.col("b.v") - F.col("a.v")) / (F.col("b.i") - F.col("a.i"))).alias("s"),
    )
    agg = slopes.groupBy("event_type").agg(
        F.array_sort(F.collect_list("s")).alias("arr"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    lo = F.element_at("arr", F.expr("CAST((n + 1) DIV 2 AS INT)"))
    hi = F.element_at("arr", F.expr("CAST(n DIV 2 + 1 AS INT)"))
    return agg.select(
        "event_type",
        (F.round((lo + hi) / 2, 4) + F.lit(0.0)).alias("ts_slope"),
        F.col("n").alias("n_pairs"),
    )


@register(
    "agg_chi_square_independence",
    oracle="""
    WITH cell AS (
        SELECT event_type, dayofweek(ts) AS dow,
               CAST(count(*) AS BIGINT) AS o
        FROM events GROUP BY event_type, dow
    ),
    m AS (
        SELECT event_type, dow, o,
               CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS rt,
               CAST(sum(o) OVER (PARTITION BY dow) AS BIGINT) AS ct,
               CAST(sum(o) OVER () AS BIGINT) AS n
        FROM cell
    )
    SELECT round(sum((CAST(o AS DOUBLE)
                      - CAST(rt AS DOUBLE) * ct / n)
                     * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * ct / n)
                     / (CAST(rt AS DOUBLE) * ct / n)), 4) AS chi2,
           CAST((count(DISTINCT event_type) - 1)
                * (count(DISTINCT dow) - 1) AS INT) AS dof,
           CAST(max(n) AS BIGINT) AS n_events
    FROM m
    """,
    section="2.4",
)
def agg_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson χ² independence test, event type × day-of-week: is
    the feed's type mix a function of weekday? The categorical
    drift statistic behind seasonality triage (large χ² at 24 dof →
    route to per-weekday monitoring). Expected counts derive from
    exact margin sums with mirrored double arithmetic; the cell sum
    spans 35 bounded terms; 4-dp round. The weekday key uses each
    engine's native encoding — a bijection that changes no margin,
    so the statistic is identical and the key never leaves the
    query.

    Scale shape: one scan to the 35-cell contingency aggregate
    (map-side combined); margins come from windows over the bounded
    cell frame; the statistic is a constant-space fold."""
    cell = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.dayofweek("ts").alias("dow"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    m = cell.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).cast("bigint").alias("rt"),
        F.sum("o").over(Window.partitionBy("dow")).cast("bigint").alias("ct"),
        F.sum("o").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    e = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    dev = F.col("o").cast("double") - e
    return m.agg(
        F.round(F.sum(dev * dev / e), 4).alias("chi2"),
        (
            (F.count_distinct(F.col("event_type")) - 1)
            * (F.count_distinct(F.col("dow")) - 1)
        )
        .cast("int")
        .alias("dof"),
        F.max("n").cast("bigint").alias("n_events"),
    )


@register(
    "agg_mannwhitney_u",
    oracle="""
    WITH vals AS (
        SELECT value AS v,
               CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS a
        FROM events
        WHERE value IS NOT NULL AND NOT (isnan(value) OR isinf(value))
    ),
    grouped AS (
        SELECT v, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(a) AS BIGINT) AS na
        FROM vals GROUP BY v
    ),
    ranked AS (
        SELECT v, n, na,
               CAST(sum(n) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cumn
        FROM grouped
    ),
    s AS (
        SELECT CAST(sum(na) AS BIGINT) AS n1,
               CAST(sum(n - na) AS BIGINT) AS n2,
               CAST(sum(na * (2 * cumn - n + 1)) AS BIGINT) AS r2
        FROM ranked
    )
    SELECT n1 AS n_weekend, n2 AS n_weekday,
           CAST(r2 - n1 * (n1 + 1) AS BIGINT) AS u2_weekend,
           CASE WHEN n1 > 0 AND n2 > 0
                THEN CAST(round(CAST(CAST(CAST(r2 - n1 * (n1 + 1) AS DOUBLE)
                                / (2.0 * n1 * n2) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) + 0.0
                ELSE CAST(NULL AS DOUBLE) END AS auc_weekend
    FROM s
    """,
    section="2.4",
)
def agg_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (weekend vs weekday event values): the
    nonparametric "did the value distribution shift" test, with
    exact tie handling — tied values share their block's average
    rank. Everything rides a ×2 integer grid (2·avg_rank =
    2·cum − n + 1 is always integral), so U is EXACT int64 on both
    engines and the AUC ratio U/(n₁n₂) is the only float (4 dp,
    NULL-guarded against an empty class: Spark nulls the zero
    division where DuckDB yields inf/NaN, so the guard makes the
    degenerate fixture case degrade identically).
    AUC ≈ 0.5 ⇒ no weekend shift; the same statistic read as
    P(weekend value > weekday value).

    Scale shape: the oracle's global ordered window is the one
    thing that cannot scale, so the impl ranks with the two-level
    bucket decomposition (agg_gini_activity's pattern): per-value
    grouping first (ties collapse), value-range buckets, a
    bucket-frame cumulative for each bucket's predecessor count,
    broadcast offsets, then a fully parallel within-bucket
    cumulative. The final aggregate carries three int64s."""
    weekend = F.dayofweek("ts").isin(1, 7)
    # Rank tests are defined over observed values: drop NULLs AND
    # non-finites on BOTH sides (a null-bearing fixture would
    # otherwise diverge — the impl's bucket equi-join silently drops
    # the NULL bucket while the oracle's global window ranks it; a
    # NaN-bearing one diverges on WHERE NaN ranks, Spark IEEE vs
    # DuckDB total order — round-7 non-finite sweep).
    grouped = (
        t(spark, sf_dir, "events")
        .filter(fin("value").isNotNull())
        .select(F.col("value").alias("v"), F.when(weekend, 1).otherwise(0).alias("a"))
        .groupBy("v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("a").cast("bigint").alias("na"),
        )
    )
    bucketed = grouped.withColumn("bucket", F.floor(F.col("v") / 16.0).cast("long"))
    bcounts = bucketed.groupBy("bucket").agg(F.sum("n").alias("bn"))
    w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bcounts.select(
        "bucket",
        F.coalesce(F.sum("bn").over(w_cum), F.lit(0)).cast("bigint").alias("before"),
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = bucketed.join(F.broadcast(offsets), "bucket").select(
        "n",
        "na",
        (F.sum("n").over(w_in) + F.col("before")).cast("bigint").alias("cumn"),
    )
    s = ranked.agg(
        F.sum("na").cast("bigint").alias("n1"),
        F.sum(F.col("n") - F.col("na")).cast("bigint").alias("n2"),
        F.sum(F.col("na") * (2 * F.col("cumn") - F.col("n") + 1))
        .cast("bigint")
        .alias("r2"),
    )
    u2 = F.col("r2") - F.col("n1") * (F.col("n1") + 1)
    return s.select(
        F.col("n1").alias("n_weekend"),
        F.col("n2").alias("n_weekday"),
        u2.cast("bigint").alias("u2_weekend"),
        F.when(
            (F.col("n1") > 0) & (F.col("n2") > 0),
            F.round(u2.cast("double") / (2.0 * F.col("n1") * F.col("n2")), 4)
            + F.lit(0.0),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("auc_weekend"),
    )


@register(
    "agg_ks_test",
    oracle="""
    WITH vals AS (
        SELECT value AS v,
               CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS a
        FROM events
        WHERE value IS NOT NULL AND NOT (isnan(value) OR isinf(value))
    ),
    grouped AS (
        SELECT v, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(a) AS BIGINT) AS na
        FROM vals GROUP BY v
    ),
    ranked AS (
        SELECT CAST(sum(na) OVER w AS BIGINT) AS cuma,
               CAST(sum(n - na) OVER w AS BIGINT) AS cumb
        FROM grouped
        WINDOW w AS (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    tot AS (
        SELECT CAST(max(cuma) AS BIGINT) AS n1,
               CAST(max(cumb) AS BIGINT) AS n2
        FROM ranked
    ),
    d AS (
        SELECT max(CASE WHEN n1 > 0 AND n2 > 0
                   THEN abs(CAST(cuma AS DOUBLE) / n1
                            - CAST(cumb AS DOUBLE) / n2)
                   ELSE 0.0 END) AS ks
        FROM ranked, tot
    )
    SELECT n1 AS n_weekend, n2 AS n_weekday,
           round(ks, 6) + 0.0 AS ks_d,
           CASE WHEN n1 > 0 AND n2 > 0
                THEN round(1.358 * sqrt((CAST(n1 AS DOUBLE) + n2)
                                        / (CAST(n1 AS DOUBLE) * n2)),
                           6) + 0.0
                ELSE CAST(NULL AS DOUBLE) END AS crit_5pct,
           CAST(CASE WHEN n1 > 0 AND n2 > 0
                      AND ks > 1.358 * sqrt((CAST(n1 AS DOUBLE) + n2)
                                            / (CAST(n1 AS DOUBLE) * n2))
                     THEN 1 ELSE 0 END AS INT) AS reject_5pct
    FROM d, tot
    """,
    section="2.4",
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test, weekend vs weekday event
    values: D = sup|F̂₁ − F̂₂| over the pooled support, against the
    1.358·√((n₁+n₂)/(n₁n₂)) large-sample 5% critical value. The CDF
    gap only changes at observed values, so evaluating at each
    distinct value is exact, and both CDFs come from integer
    cumulative counts; gap, critical value, and flag use mirrored
    double arithmetic, all guarded on n1>0 AND n2>0 so an
    empty-class fixture degrades identically (Spark nulls a zero
    division where DuckDB yields inf/NaN).

    Scale shape: ties collapse in the per-value aggregate; the
    data-sized cumulative window partitions by value-range bucket
    with broadcast bucket offsets (the gini/Mann-Whitney two-level
    pattern — the oracle's single global ordered window is the
    thing that cannot scale); the final fold carries four numbers."""
    weekend = F.dayofweek("ts").isin(1, 7)
    # NULL and non-finite values drop on BOTH sides (the Mann-Whitney
    # rationale: the bucket equi-join would silently drop the NULL
    # bucket while the oracle's global window ranks it; and the
    # engines disagree on WHERE NaN ranks — Spark IEEE vs DuckDB
    # total order. A rank statistic over garbage is meaningless:
    # skip, don't guess).
    grouped = (
        t(spark, sf_dir, "events")
        .filter(fin("value").isNotNull())
        .select(F.col("value").alias("v"), F.when(weekend, 1).otherwise(0).alias("a"))
        .groupBy("v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("a").cast("bigint").alias("na"),
        )
    )
    bucketed = grouped.withColumn("bucket", F.floor(F.col("v") / 16.0).cast("long"))
    bcounts = bucketed.groupBy("bucket").agg(
        F.sum("na").alias("ba"), F.sum(F.col("n") - F.col("na")).alias("bb")
    )
    w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bcounts.select(
        "bucket",
        F.coalesce(F.sum("ba").over(w_cum), F.lit(0)).cast("bigint").alias("beforea"),
        F.coalesce(F.sum("bb").over(w_cum), F.lit(0)).cast("bigint").alias("beforeb"),
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = bucketed.join(F.broadcast(offsets), "bucket").select(
        (F.sum("na").over(w_in) + F.col("beforea")).cast("bigint").alias("cuma"),
        (F.sum(F.col("n") - F.col("na")).over(w_in) + F.col("beforeb"))
        .cast("bigint")
        .alias("cumb"),
    )
    tot = ranked.agg(
        F.max("cuma").cast("bigint").alias("n1"),
        F.max("cumb").cast("bigint").alias("n2"),
    )
    both = (F.col("n1") > 0) & (F.col("n2") > 0)
    d = (
        ranked.crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.when(
                    both,
                    F.abs(
                        F.col("cuma").cast("double") / F.col("n1")
                        - F.col("cumb").cast("double") / F.col("n2")
                    ),
                ).otherwise(F.lit(0.0))
            ).alias("ks"),
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
        )
    )
    crit = 1.358 * F.sqrt(
        (F.col("n1").cast("double") + F.col("n2"))
        / (F.col("n1").cast("double") * F.col("n2"))
    )
    return d.select(
        F.col("n1").alias("n_weekend"),
        F.col("n2").alias("n_weekday"),
        (F.round(F.col("ks"), 6) + F.lit(0.0)).alias("ks_d"),
        F.when(both, F.round(crit, 6) + F.lit(0.0))
        .otherwise(F.lit(None).cast("double"))
        .alias("crit_5pct"),
        F.when(both & (F.col("ks") > crit), 1)
        .otherwise(0)
        .cast("int")
        .alias("reject_5pct"),
    )


@register(
    "agg_spearman_corr",
    oracle="""
    WITH daily AS (
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
               CAST(sum(CAST((CASE WHEN isnan(value) OR isinf(value)
                                   THEN NULL ELSE value END)
                             AS DECIMAL(18,6))) AS DOUBLE) AS v
        FROM events WHERE ts IS NOT NULL GROUP BY event_type, d
        HAVING v IS NOT NULL
    ),
    ranked AS (
        SELECT event_type,
               CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
                    AS DOUBLE) AS i,
               CAST(rank() OVER (PARTITION BY event_type ORDER BY v)
                    AS DOUBLE)
               + (CAST(count(*) OVER (PARTITION BY event_type, v) AS DOUBLE)
                  - 1) / 2 AS r
        FROM daily
    ),
    guarded AS (
        SELECT event_type, i, r,
               count(*) OVER wt >= 2
                 AND min(r) OVER wt <> max(r) OVER wt AS ok
        FROM ranked WINDOW wt AS (PARTITION BY event_type)
    )
    SELECT event_type,
           round(corr(CASE WHEN ok THEN i END, CASE WHEN ok THEN r END), 4)
               + 0.0 AS spearman_rho,
           CAST(count(*) AS BIGINT) AS n_days
    FROM guarded GROUP BY event_type
    """,
    section="2.4",
)
def agg_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between time and each feed's daily
    value: Pearson corr of (day index, tie-averaged value rank) —
    the monotonic-trend detector. Ranks use rank() + (ties−1)/2
    (exact half-integer grid, identical both engines); the corr
    fold spans the 30-row bounded daily frame and rounds at 4 dp;
    degenerate groups (one day, or all ranks tied) are nulled out
    before corr on both sides — ANSI Spark corr would otherwise
    throw where DuckDB returns NULL.

    Scale shape: daily-grain aggregate, then windows over the
    CALENDAR-BOUNDED per-type frame (30 rows/key) sharing one
    event_type exchange; the corr aggregate reuses the same
    partitioning.

    Non-finite measures pass the fin() gate before the decimal cast
    (ANSI CAST_OVERFLOW on NaN — round-7 non-finite sweep), and a day
    whose measures were ALL garbage (v IS NULL) is dropped before
    ranking on both sides: a NULL rank key would otherwise sort
    NULLS FIRST on Spark and NULLS LAST on DuckDB."""
    daily = (
        t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())  # null-time dead-letter (round-8)
        .groupBy("event_type", F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .agg(F.sum(fin("value").cast(DEC)).cast("double").alias("v"))
        .filter(F.col("v").isNotNull())
    )
    ranked = daily.select(
        "event_type",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("d"))
        .cast("double")
        .alias("i"),
        (
            F.rank()
            .over(Window.partitionBy("event_type").orderBy("v"))
            .cast("double")
            + (
                F.count(F.lit(1))
                .over(Window.partitionBy("event_type", "v"))
                .cast("double")
                - 1
            )
            / 2
        ).alias("r"),
    )
    # Degenerate-group guard (the ts_autocorrelation pattern): ANSI
    # corr throws DIVIDE_BY_ZERO on a 1-row or all-tied-rank group;
    # nulling both inputs degrades those to the safe n=0 → NULL case
    # identically on both engines. Same event_type exchange, no extra
    # shuffle; i = row_number always varies when n ≥ 2.
    wt = Window.partitionBy("event_type")
    ok = (F.count(F.lit(1)).over(wt) >= 2) & (
        F.min("r").over(wt) != F.max("r").over(wt)
    )
    guarded = ranked.select("event_type", "i", "r", ok.alias("ok"))
    return guarded.groupBy("event_type").agg(
        (
            F.round(
                F.corr(
                    F.when(F.col("ok"), F.col("i")),
                    F.when(F.col("ok"), F.col("r")),
                ),
                4,
            )
            + F.lit(0.0)
        ).alias("spearman_rho"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )


@register(
    "agg_ols_two_factor",
    oracle="""
    WITH s AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx1,
               CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sx2,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
               CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS s11,
               CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS s12,
               CAST(sum(CAST(l_discount * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS s22,
               CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS s1y,
               CAST(sum(CAST(l_discount * l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS s2y
        FROM lineitem
    ),
    d AS (
        SELECT *,
               n * (s11 * s22 - s12 * s12)
               - sx1 * (sx1 * s22 - s12 * sx2)
               + sx2 * (sx1 * s12 - s11 * sx2) AS det
        FROM s
    )
    SELECT round((sy * (s11 * s22 - s12 * s12)
                  - sx1 * (s1y * s22 - s12 * s2y)
                  + sx2 * (s1y * s12 - s11 * s2y)) / det, 4) + 0.0
               AS intercept,
           round((n * (s1y * s22 - s12 * s2y)
                  - sy * (sx1 * s22 - s12 * sx2)
                  + sx2 * (sx1 * s2y - s1y * sx2)) / det, 4) + 0.0
               AS beta_qty,
           round((n * (s11 * s2y - s1y * s12)
                  - sx1 * (sx1 * s2y - s1y * sx2)
                  + sy * (sx1 * s12 - s11 * sx2)) / det, 4) + 0.0
               AS beta_disc
    FROM d
    """,
    section="2.4",
)
def agg_ols_two_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-predictor least squares in closed form: fit
    extendedprice ~ quantity + discount from the nine moment sums
    and solve the 3×3 normal equations by Cramer's rule — multiple
    regression as ONE aggregate pass, no iteration, no UDF. Every
    moment is a ≤4-decimal product recovered exactly by the decimal
    cast (order-independent); the determinant arithmetic mirrors
    expression-for-expression on both engines so the 4-dp rounds
    see identical doubles.

    Scale shape: one scan, one global 9-sum aggregate (map-side
    combined), constant-space solve."""
    li = t(spark, sf_dir, "lineitem")
    q, dc, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    s = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q.cast(DEC)).cast("double").alias("sx1"),
        F.sum(dc.cast(DEC)).cast("double").alias("sx2"),
        F.sum(y.cast(DEC)).cast("double").alias("sy"),
        F.sum((q * q).cast(DEC)).cast("double").alias("s11"),
        F.sum((q * dc).cast(DEC)).cast("double").alias("s12"),
        F.sum((dc * dc).cast(DEC)).cast("double").alias("s22"),
        F.sum((q * y).cast(DEC)).cast("double").alias("s1y"),
        F.sum((dc * y).cast(DEC)).cast("double").alias("s2y"),
    )
    n, sx1, sx2, sy = F.col("n"), F.col("sx1"), F.col("sx2"), F.col("sy")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    s1y, s2y = F.col("s1y"), F.col("s2y")
    det = (
        n * (s11 * s22 - s12 * s12)
        - sx1 * (sx1 * s22 - s12 * sx2)
        + sx2 * (sx1 * s12 - s11 * sx2)
    )
    intercept = (
        sy * (s11 * s22 - s12 * s12)
        - sx1 * (s1y * s22 - s12 * s2y)
        + sx2 * (s1y * s12 - s11 * s2y)
    ) / det
    beta_qty = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (sx1 * s22 - s12 * sx2)
        + sx2 * (sx1 * s2y - s1y * sx2)
    ) / det
    beta_disc = (
        n * (s11 * s2y - s1y * s12)
        - sx1 * (sx1 * s2y - s1y * sx2)
        + sy * (sx1 * s12 - s11 * sx2)
    ) / det
    return s.select(
        (F.round(intercept, 4) + F.lit(0.0)).alias("intercept"),
        (F.round(beta_qty, 4) + F.lit(0.0)).alias("beta_qty"),
        (F.round(beta_disc, 4) + F.lit(0.0)).alias("beta_disc"),
    )


@register(
    "agg_benford_price_audit",
    oracle="""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INT) AS d
        FROM orders
        WHERE o_totalprice > 0
    ),
    cnt AS (
        SELECT d, CAST(count(*) AS BIGINT) AS observed
        FROM digits GROUP BY d
    )
    SELECT d AS first_digit, observed,
           round(CAST(observed AS DOUBLE)
                 / CAST(sum(observed) OVER () AS BIGINT), 4) + 0.0
               AS obs_share,
           round(log10(1 + 1.0 / d), 4) + 0.0 AS benford_share
    FROM cnt
    """,
    section="2.4",
)
def agg_benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals: observed vs
    theoretical log₁₀(1+1/d) share per leading digit — the
    synthetic-data / fraud screen. The digit comes from the exact
    cents integer's decimal string (round(price·100) is exact for
    2-decimal money), sidestepping floor(log10) ulp hazards; the
    only floats are the two rounded shares.

    Scale shape: one scan, a 9-group aggregate (map-side combined),
    and the total from an unbounded window over the 9-row frame."""
    digits = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100, 0)
                .cast("bigint")
                .cast("string"),
                1,
                1,
            )
            .cast("int")
            .alias("d")
        )
    )
    cnt = digits.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("observed"))
    wall = Window.partitionBy()
    return cnt.select(
        F.col("d").alias("first_digit"),
        "observed",
        (
            F.round(
                F.col("observed").cast("double")
                / F.sum("observed").over(wall).cast("bigint"),
                4,
            )
            + F.lit(0.0)
        ).alias("obs_share"),
        (F.round(F.log10(1 + 1.0 / F.col("d")), 4) + F.lit(0.0)).alias(
            "benford_share"
        ),
    )
