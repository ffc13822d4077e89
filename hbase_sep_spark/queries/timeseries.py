"""Time-series operators over daily and weekly event series.

Calendar regularization (gap fill, interpolation), resampling (OHLC),
smoothing (EWMA), decomposition (STL-lite), drift and change-point
scans (CUSUM, autocorrelation), forecasting error and drawdown. Most
build a per-(feed, day) series from `events` and then window over it.

Portability: every ordering key carries a unique tie-break, sums over
doubles are rounded after aggregation, and NULL event-times are
dropped on both engines (the dead-letter policy of windows.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hbase_sep_spark.functions.portable import DEC, fin
from hbase_sep_spark.io import t
from hbase_sep_spark.registry import register


@register(
    "ts_daily_gapfill_ffill",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
               sum(value) AS v, count(*) AS n
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
        GROUP BY 1, 2
    ),
    span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
    cal AS (
        SELECT user_id,
               CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        FROM span
    ),
    j AS (
        SELECT c.user_id, c.day, d.v, d.n
        FROM cal c LEFT JOIN daily d ON d.user_id = c.user_id AND d.day = c.day
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           CAST(coalesce(n, 0) AS BIGINT) AS n_events,
           round(last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) + 0.0
               AS value_filled,
           CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap
    FROM j
    """,
    section="2.5",
)
def ts_daily_gapfill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar regularization + forward fill — the time-series
    primitive behind every daily-active dashboard and feature-store
    backfill: densify each user's activity onto a contiguous daily
    calendar (their own [first, last] active span) and carry the last
    observed daily value across gap days.

    Scale shape (two shuffles, ZERO joins — round-11 rewrite): the
    daily aggregate shuffles once on (user_id, day), map-side-
    combinable so the shuffle carries day-level partials, not events;
    one user_id window pass over the DAILY table (not the densified
    output) computes the forward-fill value and each row's next
    active day; then every row GENERATES its own gap days with
    sequence()+posexplode — the gap rows inherit the generating row's
    filled value directly, so no second window runs over the (larger)
    densified result. The previous span+calendar+LEFT JOIN shape was
    measured at sf1 to spend +0.686 s (half the query) in the spine
    join (BASELINE.md, round-11 gap-fill resolution); generating gaps from
    lead() removes that term entirely and nothing in the plan grows
    faster than the daily table.

    NULL policy (two-sided, round-11): NULL ts or NULL user_id rows
    are dead-lettered — a keyless or timeless record has no position
    on any per-user calendar (the as-of/PIT family's policy; the old
    join shape dropped NULL days structurally but emitted a spurious
    all-gap calendar for a NULL user). The oracle carries the same
    WHERE; a no-op on feeds with non-null keys, where the join and
    generator forms are value-identical.

    Oracle note: the oracle keeps the spine-join formulation (DuckDB
    plans it fine at oracle SF) — it pins that the generator rewrite
    preserves the join semantics exactly."""
    ev = t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    daily = ev.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.sum("value").alias("v"), F.count(F.lit(1)).alias("n"))
    w_ord = Window.partitionBy("user_id").orderBy("day")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    enriched = daily.select(
        "user_id",
        "day",
        "v",
        "n",
        F.last("v", ignorenulls=True).over(w_cum).alias("vf"),
        F.lead("day").over(w_ord).alias("next_day"),
    )
    gen = enriched.select(
        "user_id",
        "v",
        "n",
        "vf",
        F.posexplode(
            F.sequence(
                "day", F.coalesce(F.date_sub("next_day", 1), F.col("day"))
            )
        ).alias("pos", "day"),
    )
    return gen.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.when(F.col("pos") == 0, F.col("n"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_events"),
        (F.round("vf", 2) + F.lit(0.0)).alias("value_filled"),
        F.when((F.col("pos") == 0) & F.col("v").isNotNull(), 0)
        .otherwise(1)
        .cast("int")
        .alias("is_gap"),
    )


@register(
    "ts_linear_interpolate",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
               sum(value) AS v
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
        GROUP BY 1, 2
    ),
    span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
    cal AS (
        SELECT user_id,
               CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        FROM span
    ),
    j AS (
        SELECT c.user_id, c.day, d.v
        FROM cal c LEFT JOIN daily d ON d.user_id = c.user_id AND d.day = c.day
    ),
    ctx AS (
        SELECT user_id, day, v,
               last_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pd,
               first_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nd
        FROM j
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS INT) AS is_interpolated,
           round(CASE WHEN v IS NOT NULL THEN v
                      ELSE pv + (nv - pv)
                           * date_diff('day', pd, day)
                           / date_diff('day', pd, nd) END, 6) + 0.0 AS value_interp
    FROM ctx
    """,
    section="2.5",
)
def ts_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation across time-series gaps — the smoother
    sibling of forward-fill: a missing day's value is the linear blend
    of the nearest observed day on each side, weighted by distance.
    Interior gaps only by construction (the per-user calendar spans
    [first, last] observed day, so every gap has both neighbors).

    Determinism note: the interpolated value is rounded at 6 dp, one
    digit DEEPER than any exactly-representable result — daily sums
    are exact 2-decimal values, and (Δv·d1)/d2 with d2 ≤ 31 either
    terminates within 6 decimals (d2 = 2^a·5^b) or repeats infinitely
    (never within an ulp of the 1e-6 grid), so Spark's HALF_UP and
    DuckDB's half-even double rounding can never see a tie. Rounding
    at 4 dp instead produces systematic .xxxx5 midpoint ties (a /2
    gap halves a 4-decimal difference) and DID diverge in testing —
    the concrete failure mode portable.py's "no per-row rounding of
    short-decimal products" rule exists for.

    Scale shape (two shuffles, ZERO joins — round-11 rewrite, the
    gap-fill generator pattern): the (user_id, day) daily aggregate
    shuffles once; ONE user_id window pass over the DAILY table
    computes each row's next active day plus the nearest non-NULL
    anchors on both sides (last/first ignorenulls over one-sided
    frames — O(1) window state); then sequence()+posexplode GENERATES
    the gap days, which interpolate from the generating row's anchors
    directly. The gap-fill op's sf1 decomposition measured the old
    span+calendar LEFT JOIN spine at half the query — this op shared
    that exact shape, so the same rewrite applies; the anchors are
    identical because every generated day g in (R.day, next_day) has
    its previous non-NULL observation at or before R.day and its next
    one at or after next_day — exactly R's own cumulative/forward
    lookups.

    NULL policy (two-sided, round-11): NULL ts or NULL user_id rows
    are dead-lettered, as in the gap-fill op (the old join shape
    emitted a spurious all-NULL interpolation calendar for a NULL
    user)."""
    ev = t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    daily = ev.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.sum("value").alias("v"))
    w_ord = Window.partitionBy("user_id").orderBy("day")
    cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fwd = w_ord.rowsBetween(1, Window.unboundedFollowing)
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    enriched = daily.select(
        "user_id",
        "day",
        "v",
        F.lead("day").over(w_ord).alias("next_day"),
        # Nearest non-NULL observation at/before this row (== itself
        # when v is non-NULL — the anchor every generated gap day
        # wants) and strictly after it.
        F.last("v", ignorenulls=True).over(cum).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(cum).alias("pd"),
        F.first("v", ignorenulls=True).over(fwd).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(fwd).alias("nd"),
    )
    gen = enriched.select(
        "user_id",
        "v",
        "pv",
        "pd",
        "nv",
        "nd",
        F.posexplode(
            F.sequence(
                "day", F.coalesce(F.date_sub("next_day", 1), F.col("day"))
            )
        ).alias("pos", "day"),
    )
    observed = (F.col("pos") == 0) & F.col("v").isNotNull()
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * F.datediff(
        F.col("day"), F.col("pd")
    ) / F.datediff(F.col("nd"), F.col("pd"))
    return gen.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.when(observed, 0).otherwise(1).cast("int").alias("is_interpolated"),
        (
            F.round(F.when(observed, F.col("v")).otherwise(interp), 6) + F.lit(0.0)
        ).alias("value_interp"),
    )


@register(
    "ts_rolling_zscore",
    oracle="""
    WITH g AS (
        SELECT user_id, event_id, ts,
               CASE WHEN isnan(value) OR isinf(value) THEN NULL ELSE value END AS value
        FROM events
        WHERE ts IS NOT NULL
    ),
    w AS (
        SELECT user_id, event_id, value,
               count(value) OVER win AS n_win,
               avg(value) OVER win AS m,
               stddev_samp(value) OVER win AS s
        FROM g
        WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id, value,
           round((value - m) / s, 4) + 0.0 AS zscore
    FROM w WHERE n_win >= 10 AND s > 1e-9
    """,
    section="2.5",
)
def ts_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score — the streaming-friendly anomaly
    score: each event's value standardized against its user's
    previous ≤20 events (strictly before the current row, so the
    score is causal/leak-free). Downstream anomaly filters threshold
    the score; emitting the score itself keeps this op boundary-free
    (a |z| > t filter would sit a float-comparison away from engine
    divergence on ties; a score column cannot).

    Guards are portability load-bearing: n_win ≥ 10 excludes
    cold-start rows identically on both engines, and s > 1e-9
    excludes constant windows where one engine computes exactly 0.0
    and the other a ~1e-14 cancellation residue — (v-m)/s would then
    be NULL on one side and ±1e16 on the other. Real stddevs of
    2-decimal data are ≥ ~2e-3, far from the cut.

    Scale shape: one user_id shuffle, O(1) running-frame state per
    row; at 100 TB this is the same plan keyed by (entity, sensor).
    The fin() gate NULLs non-finite measures before the window stats
    (count skips them, so the n_win ≥ 10 guard self-adjusts): one Inf
    in a trailing window otherwise overflows DuckDB's STDDEV_SAMP
    outright (round-7 non-finite sweep). Null-time rows are
    dead-lettered on both sides (round-8 null-ts sweep)."""
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    v = fin("value")
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    scored = ev.select(
        "user_id",
        "event_id",
        v.alias("value"),
        F.count(v).over(win).alias("n_win"),
        F.avg(v).over(win).alias("m"),
        F.stddev_samp(v).over(win).alias("s"),
    )
    return (
        scored.filter((F.col("n_win") >= 10) & (F.col("s") > 1e-9))
        .select(
            "user_id",
            "event_id",
            "value",
            (F.round((F.col("value") - F.col("m")) / F.col("s"), 4) + F.lit(0.0)).alias(
                "zscore"
            ),
        )
    )


@register(
    "ts_weekly_ohlc",
    oracle="""
    SELECT user_id,
           strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
           arg_min(value, printf('%020d-%010d', epoch_us(ts) + 4611686018427387904, CAST(event_id AS BIGINT)))
               AS open_v,
           arg_max(value, printf('%020d-%010d', epoch_us(ts) + 4611686018427387904, CAST(event_id AS BIGINT)))
               AS close_v,
           min(value) AS low_v,
           max(value) AS high_v,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS total_value
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
    section="2.5",
)
def ts_weekly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC weekly resampling — the downsampling primitive behind
    every metrics rollup and candlestick view: per (user, week),
    the first (open) and last (close) observed value plus min/max
    and exact-decimal volume. First/last are picked by a composite
    '%020d-%010d' (epoch_us, event_id) string key, so ties on ts are
    broken identically on both engines and the pick is fully
    deterministic (the repo-wide event_id tie-break rule); the epoch
    is biased by 2^62 so a pre-1970 row (negative epoch) can never
    format with a sign, which would lexically invert the order among
    such rows on BOTH engines (agreeing but wrong picks); open and
    close are raw per-row values (never rounded), the volume sum
    runs in exact decimal.

    Both engines' date_trunc('week') snaps to Monday, and the week
    is emitted as a yyyy-MM-dd STRING per the no-DATE-outputs rule.

    Scale shape: ONE map-side-combinable aggregate keyed
    (user_id, week) — min_by/max_by partials carry (value, key)
    pairs, so the shuffle moves one fixed-width pair per group per
    mapper, never the events. Single Exchange, pinned. Null-time
    rows are dead-lettered on both sides (round-8 null-ts sweep): a
    timeless observation has no week and no open/close position."""
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    okey = F.format_string(
        "%020d-%010d",
        F.unix_micros("ts") + F.lit(4611686018427387904),
        F.col("event_id"),
    )
    # NULL-value rows must not win open/close: DuckDB arg_min/arg_max
    # skip rows whose VALUE argument is NULL, but Spark min_by/max_by
    # return them (probed, round-6 null sweep). Nulling the ORDER key
    # for null values makes Spark skip the same rows.
    vkey = F.when(F.col("value").isNotNull(), okey)
    return ev.groupBy(
        "user_id",
        F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("week"),
    ).agg(
        F.min_by("value", vkey).alias("open_v"),
        F.max_by("value", vkey).alias("close_v"),
        F.min("value").alias("low_v"),
        F.max("value").alias("high_v"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("total_value"),
    )


@register(
    "ts_ewma_halflife",
    oracle="""
    WITH w AS (
        SELECT user_id, event_id, ts, value,
               lag(value, 1) OVER win AS l1,
               lag(value, 2) OVER win AS l2,
               lag(value, 3) OVER win AS l3,
               lag(value, 4) OVER win AS l4,
               lag(value, 5) OVER win AS l5
        FROM events
        WHERE ts IS NOT NULL
        WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           round((value * 1.0
                  + coalesce(l1, 0) * 0.5
                  + coalesce(l2, 0) * 0.25
                  + coalesce(l3, 0) * 0.125
                  + coalesce(l4, 0) * 0.0625
                  + coalesce(l5, 0) * 0.03125)
                 / (1.0
                    + CASE WHEN l1 IS NULL THEN 0 ELSE 0.5 END
                    + CASE WHEN l2 IS NULL THEN 0 ELSE 0.25 END
                    + CASE WHEN l3 IS NULL THEN 0 ELSE 0.125 END
                    + CASE WHEN l4 IS NULL THEN 0 ELSE 0.0625 END
                    + CASE WHEN l5 IS NULL THEN 0 ELSE 0.03125 END),
                 4) + 0.0 AS ewma
    FROM w
    """,
    section="2.5",
)
def ts_ewma_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average with half-life decay
    (alpha = 1/2, depth 6) over each key's event stream — the
    smoother behind every anomaly baseline and rate limiter. True
    EWMA is a recursion no window frame expresses; the half-life
    truncated form is a fixed lag-combination, which IS expressible
    — and with alpha = 1/2 every weight is a power of two, so each
    product is an EXACT binary scaling of the stored double and the
    fixed-order sum is bit-identical across engines and runs (no
    decimal casts needed: there is no data-order-dependent
    summation anywhere). Early rows renormalize over the weights
    actually present.

    Scale shape: one user_id shuffle, one sort, six lags over the
    same window — Catalyst evaluates all six in a single Window
    operator pass, O(1) state per row. Null-time rows are
    dead-lettered on both sides (round-8 null-ts sweep)."""
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.col("value")] + [F.lag("value", i).over(w) for i in range(1, 6)]
    weights = [1.0, 0.5, 0.25, 0.125, 0.0625, 0.03125]
    num = lags[0] * weights[0]
    den = F.lit(1.0)
    for lg, wt in zip(lags[1:], weights[1:]):
        num = num + F.coalesce(lg, F.lit(0.0)) * wt
        den = den + F.when(lg.isNull(), F.lit(0.0)).otherwise(F.lit(wt))
    return ev.select(
        "user_id",
        "event_id",
        (F.round(num / den, 4) + F.lit(0.0)).alias("ewma"),
    )


@register(
    "ts_stl_decompose_lite",
    oracle="""
    WITH daily AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST(dayofweek(date_trunc('day', ts)) + 1 AS INT) AS dow,
               sum(CAST(round((CASE WHEN isnan(value) OR isinf(value) THEN NULL ELSE value END) * 1000000, 0) AS BIGINT)) AS total_us
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    trended AS (
        SELECT day, dow, total_us,
               sum(total_us) OVER w AS sum7_us,
               count(*) OVER w AS n7
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    dev AS (
        SELECT day, dow, total_us, sum7_us,
               7 * total_us - sum7_us AS dev7_us
        FROM trended WHERE n7 = 7
    ),
    seasonal AS (
        SELECT dow,
               CAST(sum(dev7_us) AS BIGINT) AS sdev_us,
               CAST(count(*) AS BIGINT) AS sn
        FROM dev GROUP BY dow
    )
    SELECT d.day, d.dow,
           round(d.total_us / 1000000.0, 2) AS value,
           round(d.sum7_us / 7000000.0, 4) + 0.0 AS trend,
           round(s.sdev_us / (7000000.0 * s.sn), 4) + 0.0 AS seasonal_dow,
           round(d.dev7_us / 7000000.0
                 - s.sdev_us / (7000000.0 * s.sn), 4) + 0.0 AS residual
    FROM dev d JOIN seasonal s ON d.dow = s.dow
    """,
    section="2.5",
)
def ts_stl_decompose_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition (STL-lite): daily volume =
    trend (centered 7-day moving average) + day-of-week seasonal
    (mean deviation from trend per weekday) + residual — the
    trend/seasonality split behind every anomaly-on-seasonal-data
    monitor. Portability is engineered to keep EVERYTHING integer
    until the final projections: day totals are exact micros sums,
    the 7-day window sums integers (no float frame-sum order to
    disagree on — DuckDB's segment-tree vs Spark's running
    accumulation never meet a double), deviations are the integer
    7·x − Σ7, and the seasonal means are integer sums divided once.
    Edge days without a full 7-day window are excluded from both
    trend and seasonal fitting, on both engines.

    Scale shape: the data-sized work is ONE map-side-combinable
    daily aggregate; every window and join after it runs on the
    DAY-cardinality frame (≤ a few thousand rows per decade), and
    the seasonal table is 7 rows broadcast back. Non-finite measures
    pass the fin() gate before the micros cast (ANSI CAST_OVERFLOW on
    NaN — round-7 non-finite sweep); NULL micros are skipped by the
    daily sum identically in both engines. Null-time rows are
    dead-lettered on both sides (round-8 null-ts sweep: a NULL day
    would sort differently per engine in the trend window)."""
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    micros = F.round(fin("value") * F.lit(1000000), 0).cast("long")
    daily = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        (F.dayofweek(F.date_trunc("day", "ts"))).cast("int").alias("dow"),
    ).agg(F.sum(micros).alias("total_us"))
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "day",
        "dow",
        "total_us",
        F.sum("total_us").over(w7).alias("sum7_us"),
        F.count(F.lit(1)).over(w7).alias("n7"),
    )
    dev = trended.filter(F.col("n7") == 7).select(
        "day",
        "dow",
        "total_us",
        "sum7_us",
        (7 * F.col("total_us") - F.col("sum7_us")).alias("dev7_us"),
    )
    seasonal = dev.groupBy("dow").agg(
        F.sum("dev7_us").cast("bigint").alias("sdev_us"),
        F.count(F.lit(1)).cast("bigint").alias("sn"),
    )
    joined = dev.join(
        F.broadcast(seasonal.withColumnRenamed("dow", "sdow")),
        F.col("dow") == F.col("sdow"),
    )
    seas = F.col("sdev_us") / (F.lit(7000000.0) * F.col("sn"))
    return joined.select(
        "day",
        "dow",
        F.round(F.col("total_us") / 1000000.0, 2).alias("value"),
        (F.round(F.col("sum7_us") / 7000000.0, 4) + F.lit(0.0)).alias("trend"),
        (F.round(seas, 4) + F.lit(0.0)).alias("seasonal_dow"),
        (
            F.round(F.col("dev7_us") / 7000000.0 - seas, 4) + F.lit(0.0)
        ).alias("residual"),
    )


@register(
    "ts_autocorrelation",
    oracle="""
    WITH daily AS (
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
               CAST(sum(CAST((CASE WHEN isnan(value) OR isinf(value)
                                   THEN NULL ELSE value END)
                             AS DECIMAL(18,6))) AS DOUBLE) AS v
        FROM events WHERE ts IS NOT NULL GROUP BY event_type, d
        HAVING v IS NOT NULL
    ),
    lagged AS (
        SELECT event_type, v,
               lag(v, 1) OVER w AS l1,
               lag(v, 2) OVER w AS l2,
               lag(v, 3) OVER w AS l3
        FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)
    ),
    guarded AS (
        SELECT event_type, v, l1, l2, l3,
               count(l1) OVER wt >= 2
                 AND min(CASE WHEN l1 IS NOT NULL THEN v END) OVER wt
                     <> max(CASE WHEN l1 IS NOT NULL THEN v END) OVER wt
                 AND min(l1) OVER wt <> max(l1) OVER wt AS ok1,
               count(l2) OVER wt >= 2
                 AND min(CASE WHEN l2 IS NOT NULL THEN v END) OVER wt
                     <> max(CASE WHEN l2 IS NOT NULL THEN v END) OVER wt
                 AND min(l2) OVER wt <> max(l2) OVER wt AS ok2,
               count(l3) OVER wt >= 2
                 AND min(CASE WHEN l3 IS NOT NULL THEN v END) OVER wt
                     <> max(CASE WHEN l3 IS NOT NULL THEN v END) OVER wt
                 AND min(l3) OVER wt <> max(l3) OVER wt AS ok3
        FROM lagged WINDOW wt AS (PARTITION BY event_type)
    ),
    per AS (
        SELECT event_type,
               round(corr(CASE WHEN ok1 THEN v END,
                          CASE WHEN ok1 THEN l1 END), 4) + 0.0 AS a1,
               round(corr(CASE WHEN ok2 THEN v END,
                          CASE WHEN ok2 THEN l2 END), 4) + 0.0 AS a2,
               round(corr(CASE WHEN ok3 THEN v END,
                          CASE WHEN ok3 THEN l3 END), 4) + 0.0 AS a3
        FROM guarded GROUP BY event_type
    )
    SELECT event_type, CAST(1 AS INT) AS lag_k, a1 AS acf FROM per
    UNION ALL
    SELECT event_type, CAST(2 AS INT) AS lag_k, a2 AS acf FROM per
    UNION ALL
    SELECT event_type, CAST(3 AS INT) AS lag_k, a3 AS acf FROM per
    """,
    section="2.4",
)
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k autocorrelation (k = 1..3) of each event type's daily
    value series: Pearson corr between the series and its k-day lag —
    the seasonality/persistence detector. Daily sums are exact
    decimals cast to double (unrounded — full precision feeds the
    corr); corr rounds to 4 dp with the -0.0 guard; lag-undefined
    head rows drop out of corr as null pairs on both engines; a
    degenerate group (one pair, or zero variance) is nulled out
    before corr on BOTH sides — ANSI Spark corr would otherwise
    throw DIVIDE_BY_ZERO where DuckDB returns NULL.

    Scale shape: one shuffle to daily grain, ONE window pass produces
    all three lag columns (shared sort), and the per-type corr
    aggregate reuses the window's hash partitioning. Corr itself is
    a streaming moment merge — no materialized pair list.

    Non-finite measures pass the fin() gate before the decimal cast
    (ANSI CAST_OVERFLOW on NaN — round-7 non-finite sweep); all-
    garbage days drop before the lag windows on both sides (a NULL
    sort/lag input would place differently per engine). Null-time
    rows are dead-lettered on both sides too (round-8 null-ts sweep:
    a NULL day would sort differently per engine in the lag order)."""
    daily = (
        t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .agg(F.sum(fin("value").cast(DEC)).cast("double").alias("v"))
        .filter(F.col("v").isNotNull())
    )
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "v",
        F.lag("v", 1).over(w).alias("l1"),
        F.lag("v", 2).over(w).alias("l2"),
        F.lag("v", 3).over(w).alias("l3"),
    )
    # Degenerate-group guard (same hazard family as ADVICE r5): ANSI
    # corr THROWS DIVIDE_BY_ZERO on a 1-pair or zero-variance group
    # (probed: n=1 and constant-input both raise; n=0 returns NULL on
    # both engines). A regenerated short-span fixture could leave a
    # type with a single lag-k pair, crashing the whole job. Nulling
    # both corr inputs on unsafe groups turns those into the safe
    # n=0 case; min≠max is an exact zero-variance test. The guard
    # windows ride the SAME event_type exchange — no extra shuffle.
    wt = Window.partitionBy("event_type")

    def ok(lk: str):
        vp = F.when(F.col(lk).isNotNull(), F.col("v"))
        return (
            (F.count(lk).over(wt) >= 2)
            & (F.min(vp).over(wt) != F.max(vp).over(wt))
            & (F.min(lk).over(wt) != F.max(lk).over(wt))
        )

    guarded = lagged.select(
        "event_type",
        "v",
        "l1",
        "l2",
        "l3",
        ok("l1").alias("ok1"),
        ok("l2").alias("ok2"),
        ok("l3").alias("ok3"),
    )
    per = guarded.groupBy("event_type").agg(
        (
            F.round(
                F.corr(
                    F.when(F.col("ok1"), F.col("v")),
                    F.when(F.col("ok1"), F.col("l1")),
                ),
                4,
            )
            + F.lit(0.0)
        ).alias("a1"),
        (
            F.round(
                F.corr(
                    F.when(F.col("ok2"), F.col("v")),
                    F.when(F.col("ok2"), F.col("l2")),
                ),
                4,
            )
            + F.lit(0.0)
        ).alias("a2"),
        (
            F.round(
                F.corr(
                    F.when(F.col("ok3"), F.col("v")),
                    F.when(F.col("ok3"), F.col("l3")),
                ),
                4,
            )
            + F.lit(0.0)
        ).alias("a3"),
    )
    return per.select(
        "event_type",
        F.expr("stack(3, 1, a1, 2, a2, 3, a3) AS (lag_k, acf)"),
    ).select("event_type", F.col("lag_k").cast("int").alias("lag_k"), "acf")


@register(
    "ts_cusum_drift",
    oracle="""
    WITH daily AS (
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
               CAST(sum(CAST((CASE WHEN isnan(value) OR isinf(value)
                                   THEN NULL ELSE value END)
                             AS DECIMAL(18,6))) * 1000000 AS BIGINT)
                   AS vm
        FROM events WHERE ts IS NOT NULL GROUP BY event_type, d
        HAVING vm IS NOT NULL
    ),
    cs AS (
        SELECT event_type, d,
               (CAST(sum(vm) OVER w AS DOUBLE)
                - CAST(CAST(row_number() OVER w AS BIGINT) AS DOUBLE)
                  * (CAST(sum(vm) OVER wf AS DOUBLE)
                     / CAST(count(*) OVER wf AS BIGINT))) / 1000000.0
                   AS cusum
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY event_type)
    ),
    pk AS (
        SELECT event_type, d, cusum,
               max(abs(cusum)) OVER (PARTITION BY event_type) AS peak
        FROM cs
    )
    SELECT event_type, min(d) AS peak_date,
           round(max(abs(cusum)), 2) + 0.0 AS max_abs_cusum
    FROM pk WHERE abs(cusum) = peak
    GROUP BY event_type
    """,
    section="2.4",
)
def ts_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point scan per event type: cumulative deviation
    of the daily series from its mean, C_n = S_n − n·μ; the peak
    |C_n| locates the strongest level shift and measures its
    magnitude (Page's CUSUM without the reset clamp, which no SQL
    engine can express — the unclamped scan is the standard batch
    screening form).

    Portability: prefix sums run over EXACT micros integers, so any
    window-combine association (Spark running state vs DuckDB
    segment tree) yields the identical long; the drift double is
    then derived with the same operation order on both engines —
    bit-identical, so the peak-equality filter and the earliest-date
    tiebreak can never diverge.

    Scale shape: ONE scan, two exchanges total — the daily-grain
    aggregate, then one event_type exchange that every window
    (running sum, partition totals, peak) and the final per-type
    aggregate all share; no joins, no subtree re-computation (the
    aggregate+join form scanned the feed four times). Null-time rows
    are dead-lettered on both sides (round-8 null-ts sweep)."""
    daily = (
        t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .agg(
            (F.sum(fin("value").cast(DEC)) * 1000000)
            .cast("bigint")
            .alias("vm")
        )
        .filter(F.col("vm").isNotNull())
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("event_type").orderBy("d")
    wf = Window.partitionBy("event_type")
    cs = daily.select(
        "event_type",
        "d",
        (
            (
                F.sum("vm").over(w).cast("double")
                - F.row_number().over(wn).cast("bigint").cast("double")
                * (
                    F.sum("vm").over(wf).cast("double")
                    / F.count(F.lit(1)).over(wf).cast("bigint")
                )
            )
            / F.lit(1000000.0)
        ).alias("cusum"),
    )
    pk = cs.select(
        "event_type",
        "d",
        "cusum",
        F.max(F.abs(F.col("cusum"))).over(wf).alias("peak"),
    )
    return (
        pk.filter(F.abs(F.col("cusum")) == F.col("peak"))
        .groupBy("event_type")
        .agg(
            F.min("d").alias("peak_date"),
            (F.round(F.max(F.abs(F.col("cusum"))), 2) + F.lit(0.0)).alias(
                "max_abs_cusum"
            ),
        )
    )


@register(
    "ts_seasonal_naive_mae",
    oracle="""
    WITH daily AS (
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
               CAST(sum(CAST((CASE WHEN isnan(value) OR isinf(value)
                                   THEN NULL ELSE value END)
                             AS DECIMAL(18,6))) AS DOUBLE) AS v
        FROM events WHERE ts IS NOT NULL GROUP BY event_type, d
        HAVING v IS NOT NULL
    ),
    err AS (
        SELECT event_type,
               abs(v - lag(v, 7) OVER (PARTITION BY event_type ORDER BY d))
                   AS e
        FROM daily
    )
    SELECT event_type,
           CAST(round(CAST(CAST(CAST(sum(CAST(e AS DECIMAL(18,6))) AS DOUBLE) / count(e) AS VARCHAR) AS DECIMAL(38,18)), 2) AS DOUBLE)
               AS mae,
           round(max(e), 2) + 0.0 AS max_abs_err,
           CAST(count(e) AS BIGINT) AS n_days
    FROM err WHERE e IS NOT NULL
    GROUP BY event_type
    """,
    section="2.4",
)
def ts_seasonal_naive_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast error per feed: predict each day with
    the same weekday last week (lag-7) and report MAE, worst-day
    error, and the scored-day count — the forecastability FLOOR
    every real model must beat (if a model can't beat lag-7, the
    series is noise or pure weekly seasonality). Errors are exact
    to 6 decimals (differences of exact-decimal-derived doubles
    snap back onto the decimal grid), so the MAE sum is
    order-independent via the decimal cast.

    Scale shape: daily-grain aggregate, one lag window, one
    per-type aggregate — all sharing the event_type partitioning
    after the first shuffle."""
    daily = (
        t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())  # null-time dead-letter (round-8)
        .groupBy("event_type", F.date_format("ts", "yyyy-MM-dd").alias("d"))
        # fin() gate + all-garbage-day drop: the analytics_r6d
        # _DAILY_SQL rationale (round-7 non-finite sweep).
        .agg(F.sum(fin("value").cast(DEC)).cast("double").alias("v"))
        .filter(F.col("v").isNotNull())
    )
    w = Window.partitionBy("event_type").orderBy("d")
    err = daily.select(
        "event_type",
        F.abs(F.col("v") - F.lag("v", 7).over(w)).alias("e"),
    ).filter(F.col("e").isNotNull())
    return err.groupBy("event_type").agg(
        F.round(
            F.sum(F.col("e").cast(DEC)).cast("double") / F.count("e"), 2
        ).alias("mae"),
        (F.round(F.max("e"), 2) + F.lit(0.0)).alias("max_abs_err"),
        F.count("e").cast("bigint").alias("n_days"),
    )


@register(
    "ts_max_drawdown",
    oracle="""
    WITH daily AS (
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
               CAST(sum(CAST((CASE WHEN isnan(value) OR isinf(value)
                                   THEN NULL ELSE value END)
                             AS DECIMAL(18,6))) AS DOUBLE) AS v
        FROM events WHERE ts IS NOT NULL GROUP BY event_type, d
        HAVING v IS NOT NULL
    ),
    dd AS (
        SELECT event_type, d,
               max(v) OVER w - v AS drawdown
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    pk AS (
        SELECT event_type, d, drawdown,
               max(drawdown) OVER (PARTITION BY event_type) AS mx
        FROM dd
    )
    SELECT event_type, min(d) AS trough_date,
           round(max(drawdown), 2) + 0.0 AS max_drawdown
    FROM pk WHERE drawdown = mx
    GROUP BY event_type
    """,
    section="2.4",
)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per feed: the largest peak-to-trough decline
    of the daily value series (running max minus current, maximized)
    with the earliest trough date — the worst-case-drop lens on
    volume that CUSUM's mean-shift scan doesn't capture. Drawdowns
    are differences of exact-decimal-derived doubles (on the
    2-decimal grid), so the peak-equality filter and the 2-dp round
    cannot diverge.

    Scale shape: daily-grain aggregate, then one event_type exchange
    shared by the running-max window, the per-type peak window, and
    the final aggregate — one scan, no joins (the CUSUM discipline).
    Non-finite measures pass the fin() gate before the decimal cast
    and all-garbage days drop (round-7 non-finite sweep; the
    analytics_r6d._DAILY_SQL rationale)."""
    daily = (
        t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())  # null-time dead-letter (round-8)
        .groupBy("event_type", F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .agg(F.sum(fin("value").cast(DEC)).cast("double").alias("v"))
        .filter(F.col("v").isNotNull())
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = Window.partitionBy("event_type")
    dd = daily.select(
        "event_type",
        "d",
        (F.max("v").over(w) - F.col("v")).alias("drawdown"),
    )
    pk = dd.select(
        "event_type", "d", "drawdown", F.max("drawdown").over(wf).alias("mx")
    )
    return (
        pk.filter(F.col("drawdown") == F.col("mx"))
        .groupBy("event_type")
        .agg(
            F.min("d").alias("trough_date"),
            (F.round(F.max("drawdown"), 2) + F.lit(0.0)).alias("max_drawdown"),
        )
    )
