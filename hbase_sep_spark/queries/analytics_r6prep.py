"""Round-6 lead-in extensions (registered AFTER the round-5 grading
boundary — these exist to head the round-6 rotation as its
never-graded block, per the prefix policy in queries/__init__.py).

Six operators: a geometric-mean aggregate (the multiplicative
average for rate/ratio data, decomposed into the decimal-exact
log-sum form the unigram scorer established), a session-duration
histogram (sessionization composed with equi-width bucketing — the
engagement-distribution report), graph label propagation over the
supplier co-part graph (community detection; rows-only, invariant-
gated like dedup_clusters), a parquet row-group stats audit
(format-internals: per-row-group min/max envelopes → predicate
pruning selectivity, the number that justifies sort-on-write;
rows-only, bounded driver-side metadata work), an exact weighted
median (inventory-weighted central price via integer cumulative
weights), and an incremental file-manifest scan (the lakehouse
ingest pattern: read only files the manifest hasn't seen;
rows-only, proven equal to a direct read of the new file).

Reference parity: the reference (prazanna/hbase-sep [R: path-level
UNVERIFIED per SURVEY §0]) ships row streams whose consumers
materialize to columnar files; the row-group audit is the check
that the materialized layout actually prunes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hbase_sep_spark.functions.portable import fin, knuth_hash
from hbase_sep_spark.io import listing, t
from hbase_sep_spark.registry import register


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


@register("graph_label_propagation", section="ext", memoize=True)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous min-label propagation over
    the supplier co-part graph (suppliers adjacent when they supply
    the same part), 3 rounds: every node adopts the minimum label in
    its closed neighborhood. On this graph the process converges to
    connected-component minima (the fixture graph is dense); the
    operator exists for the iterative-message-passing shape, which
    generalizes to the sparse graphs where LPA finds real communities.
    Rows-only (iterative, no SQL oracle): invariants are gated in
    tests — labels only decrease, every label is a real node id, and
    the fixed point matches connected components.

    Scale shape: the edge list builds from ONE distinct projection
    (part, supplier) self-joined on part — bucketed equi-join, never
    all-pairs on suppliers; each round is one join + min-aggregate
    on node id, with the label frame persisted per round (the
    dedup_clusters loop discipline, operators/dedup.py)."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") != F.col("b.s")))
        .select(F.col("a.s").alias("src"), F.col("b.s").alias("dst"))
        .distinct()
        .persist()
    )
    edges.count()  # materialize: every round re-reads the edge list
    labels = (
        li.select(F.col("s").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    labels.count()
    for _ in range(3):
        msgs = edges.join(
            labels, F.col("dst") == F.col("node")
        ).select(F.col("src").alias("node"), "label")
        nxt = (
            labels.select("node", "label")
            .unionByName(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .persist()
        )
        nxt.count()  # materialize BEFORE dropping the parent cache
        labels.unpersist()
        labels = nxt
    # Uncached result with truncated lineage so the loop's last
    # persist can be released (operators/dedup.py's discipline —
    # persisted frames are CacheManager-pinned forever, checkpoint
    # blocks are reaped once the result is GC'd).
    result = (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("community_size"))
        .orderBy("label")
        .localCheckpoint(eager=True)
    )
    labels.unpersist()
    edges.unpersist()
    return result


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


@register("pipeline_split_leakage_audit", section="2.11", memoize=True)
def pipeline_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test split-leakage audit — the check a training-data
    pipeline runs BEFORE shipping a split: how many near-duplicate
    pairs straddle the split boundary (a test doc whose near-copy
    sits in train leaks the answer key). Composes the deterministic
    Knuth-hash split (pipeline_dataset_split's assignment, so the
    audit grades the split actually shipped) with the MinHash+LSH
    near-dup pair generator (operators/dedup.py), then buckets every
    pair by its (split_a, split_b) edge. Rows-only (MinHash pair
    estimates are hash-family, not SQL-oracle-able); the invariant
    test pins that pair endpoints carry the same split labels the
    split operator assigns and that all pairs are accounted for.

    Scale shape: split labels are scan-side codegen; the pair
    generator is the LSH band equi-join (never all-pairs); the final
    audit is a map-side-combinable aggregate over a ≤9-cell key
    space. At 100 TB this is exactly the dedup pipeline's cost plus
    one cheap projection — the audit is free if you already dedup."""
    from hbase_sep_spark.operators.dedup import minhash_near_dup_pairs

    docs = t(spark, sf_dir, "documents")
    bucket = knuth_hash("doc_id") % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    labeled = docs.select("doc_id", split.alias("split"))
    pairs = minhash_near_dup_pairs(docs, threshold=0.5)
    a = labeled.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    b = labeled.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    edged = pairs.join(F.broadcast(a), "id_a").join(F.broadcast(b), "id_b")
    lo = F.least("split_a", "split_b")
    hi = F.greatest("split_a", "split_b")
    return (
        edged.groupBy(lo.alias("split_lo"), hi.alias("split_hi"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            (F.round(F.avg("est_jaccard"), 4) + F.lit(0.0)).alias("avg_similarity"),
        )
        .withColumn("leaks", F.col("split_lo") != F.col("split_hi"))
        .orderBy("split_lo", "split_hi")
    )
