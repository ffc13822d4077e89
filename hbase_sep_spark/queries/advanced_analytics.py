"""Round-4 batch #2+: graph, time-series, sketch, and pipeline ops.

Nineteen sql-hash operators extending the graded surface into
territory a 100 TB analytics engine is asked for daily but classic
TPC-H-style suites skip:

- fixed-point graph iteration (PageRank over a derived bipartite
  graph, persisted edge table);
- time-series regularization (calendar gap-fill with forward-fill,
  linear interpolation, causal rolling z-score);
- sketches with EXACT oracles — count-min and KMV use integer
  multiplicative hashing the DuckDB oracle replays bit-for-bit, so
  estimate structures get sql-hash grading, not rows-only (the
  mergeable companions to agg_hll_sketch_union);
- dedup extensions (asymmetric n-gram containment for
  subset-duplication; connected components cross-checked against a
  recursive-CTE transitive closure);
- pipeline ops (deterministic train/val/test split, Matryoshka
  prefix-norm audit);
- as-of 'nearest' direction, point-in-time SCD2 joins, weighted
  averages, share-of-total, vocabulary coverage curves;
- CDC net-changes reconciliation between two feed positions, feed
  silence alerts, and a recursive-CTE date spine (Spark 4 WITH
  RECURSIVE).

All follow functions/portable.py's portability rules: integer or
hash-deterministic keys, aggregate-side rounding only (per-row
rounding only where the result provably sits ON the rounding grid),
no DATE or array/map output columns, identical aliases both sides.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hbase_sep_spark.functions.portable import fin, knuth_hash
from hbase_sep_spark.io import t
from hbase_sep_spark.operators import text as T
from hbase_sep_spark.operators import vectors as V
from hbase_sep_spark.registry import register

_DAMP = 0.85
_PR_ITERS = 3


@register(
    "graph_pagerank",
    oracle=f"""
    WITH edges AS (
        SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst
        FROM lineitem
        UNION
        SELECT 2 * l_suppkey + 1 AS src, 2 * l_partkey AS dst FROM lineitem
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes, nn),
    r1 AS (
        SELECT e.dst AS node,
               (1 - {_DAMP}) / max(nn.n) + {_DAMP} * sum(r.pr / d.deg) AS pr
        FROM edges e
        JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src, nn
        GROUP BY e.dst
    ),
    r2 AS (
        SELECT e.dst AS node,
               (1 - {_DAMP}) / max(nn.n) + {_DAMP} * sum(r.pr / d.deg) AS pr
        FROM edges e
        JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src, nn
        GROUP BY e.dst
    ),
    r3 AS (
        SELECT e.dst AS node,
               (1 - {_DAMP}) / max(nn.n) + {_DAMP} * sum(r.pr / d.deg) AS pr
        FROM edges e
        JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src, nn
        GROUP BY e.dst
    )
    SELECT node AS node_id,
           CAST(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END AS INT) AS is_part,
           round(pr, 8) AS pagerank
    FROM r3
    """,
    section="2.3",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, 3 fixed power iterations, over the bipartite
    part↔supplier co-occurrence graph derived from lineitem (edges in
    both directions, so every node has out- and in-degree ≥ 1 — no
    dangling-mass term needed). The fixed-point iteration pattern is
    the one every graph measure (centrality, label propagation,
    connected components) reduces to on Spark.

    Scale shape: see _pagerank_iterate. The iteration result is
    materialized with an eager localCheckpoint and the persisted edge
    table is RELEASED before returning (VERDICT-r13 item 1): the old
    session-lifetime persist pinned the edge table in the protected
    storage fraction for every query that ran after pagerank — at
    sf10 it was the direct cause of the SHJ hash-build OOM that
    forced round 13 to reject the measured-40%-win SMJ→SHJ threshold.
    The checkpoint holds only the node-cardinality rank table (≪
    edges), truncates the 15-Exchange iteration lineage, and is the
    same persist-discipline operators/dedup.py's CC loop and
    graph_bfs_levels already follow."""
    final, ew = _pagerank_iterate(spark, sf_dir)
    out = final.localCheckpoint(eager=True)
    ew.unpersist()
    return out


def _pagerank_iterate(spark: SparkSession, sf_dir: str):
    """Build the 3-iteration rank plan; returns (final_ranks_df,
    persisted_edges) — the caller materializes the former and MUST
    unpersist the latter.

    The weighted edge table (src, dst, deg) is built once and
    persisted for the iterations — without it every iteration's lazy
    plan re-derives the distinct+degree subtree from the scan (22
    parquet scans for 3 iterations, measured); with it each iteration
    is one cached-edge ⋈ ranks join plus a map-side-combinable sum on
    dst. The rank table is node-cardinality (≪ edges) and broadcasts
    here; at a scale where ranks outgrow broadcast the join degrades
    to a co-partitioned shuffle join on src, and you would persist +
    localCheckpoint ranks per iteration exactly as
    operators/dedup.py's CC loop does. The graph-size scalar n rides
    as a broadcast 1-row crossJoin, never a driver collect."""
    from pyspark import StorageLevel

    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    e1 = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    e2 = li.select(
        (F.col("l_suppkey") * 2 + 1).alias("src"),
        (F.col("l_partkey") * 2).alias("dst"),
    )
    edges = e1.union(e2).distinct()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # (src, dst, deg) — consumed 3× by the iteration chain and 2× for
    # nodes/n; registry memoization makes the persist once-per-session.
    ew = edges.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)
    nodes = ew.select(F.col("src").alias("node")).distinct()
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))

    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            ew.join(ranks, ew["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("c"))
        )
        ranks = contrib.crossJoin(F.broadcast(nn)).select(
            F.col("dst").alias("node"),
            ((1 - _DAMP) / F.col("n") + _DAMP * F.col("c")).alias("pr"),
        )
    final = ranks.select(
        F.col("node").alias("node_id"),
        F.when(F.col("node") % 2 == 0, 1).otherwise(0).cast("int").alias("is_part"),
        F.round("pr", 8).alias("pagerank"),
    )
    return final, ew


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


@register(
    "pipeline_dataset_split",
    oracle="""
    WITH s AS (
        SELECT lang, n_chars, doc_id,
               CASE WHEN ((CAST(doc_id AS BIGINT) % 2147483648) * 2654435761) % 4294967296
                         % 100 < 80 THEN 'train'
                    WHEN ((CAST(doc_id AS BIGINT) % 2147483648) * 2654435761) % 4294967296
                         % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT split, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(CAST(n_chars AS DOUBLE)), 2) AS avg_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id
    FROM s GROUP BY split, lang
    """,
    section="2.11",
)
def pipeline_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by Knuth
    multiplicative hash of the stable doc id — reproducible across
    runs, engines, partitionings, and incremental re-ingestion (a doc
    never migrates between splits when the corpus grows), which is the
    property rand()-based splitting cannot give an auditable training
    pipeline. Report = per (split, lang) composition audit.

    Scale shape: the split label is a scan-side codegen expression (no
    shuffle, no salt); the audit is one map-side-combinable aggregate
    on a 15-cell key space."""
    d = t(spark, sf_dir, "documents")
    bucket = knuth_hash("doc_id") % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang", "n_chars", "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg(F.col("n_chars").cast("double")), 2).alias("avg_chars"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
            F.max("doc_id").cast("bigint").alias("max_doc_id"),
        )
    )


@register(
    "dedup_containment_ngram",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id, source, unnest(string_split(text, ' ')) AS word
        FROM documents WHERE doc_id <= 250
    ),
    sizes AS (SELECT doc_id, count(*) AS n_words FROM tok GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        FROM tok a JOIN tok b
          ON a.word = b.word AND a.source = b.source AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
           round(CAST(n_common AS DOUBLE) / sa.n_words, 4) AS containment
    FROM inter JOIN sizes sa ON sa.doc_id = id_a
    WHERE CAST(n_common AS DOUBLE) / sa.n_words >= 0.8
    """,
    section="2.11",
)
def dedup_containment_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment |A∩B| / |A| ≥ 0.8 within source
    blocks — the subset-duplication detector: a short doc wholly
    quoted inside a long one scores containment ≈ 1 while symmetric
    Jaccard (dedup_ngram_jaccard) divides by the union and misses it.
    Ordered pairs, so each direction is scored by its own denominator.

    Scale shape: identical to the Jaccard op — the source blocking key
    bounds the candidate space (LSH buckets at full scale), the
    intersection is a token-level equi-join carrying (doc_id, word)
    pairs, and the sizes join is aggregate-sized. The `<>` (vs `<`)
    pair predicate doubles candidates but stays within blocks."""
    tok = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") <= 250)
        .select("doc_id", "source", F.explode(F.array_distinct(T.words())).alias("word"))
    )
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_words"))
    a = tok.alias("a")
    b = tok.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    cont = F.col("n_common").cast("double") / F.col("n_words")
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a"), "id_a")
        .filter(cont >= 0.8)
        .select(
            "id_a",
            "id_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.round(cont, 4).alias("containment"),
        )
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
    "vec_matryoshka_truncate",
    oracle=f"""
    SELECT vec_id, label,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS norm_full,
           round(sqrt(list_sum(list_transform(list_slice(embedding, 1, 16),
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS norm_16,
           round(sqrt(list_sum(list_transform(list_slice(embedding, 1, 16),
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                 / sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS retention
    FROM embeddings
    WHERE {V.valid_sql('embedding')}
    """,
    section="2.11",
)
def vec_matryoshka_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style embedding truncation audit: the norm retained
    by the first 16 of 64 dimensions — the metric that decides
    whether a prefix-truncated index (cheap ANN tier) is safe for a
    given embedding model. MRL-trained models concentrate mass in the
    prefix; this op measures that concentration per vector.

    Scale shape: pure per-row codegen lambdas over the array column
    (slice + fold), no shuffle at all — the audit aggregate a real
    pipeline would add on top is map-side-combinable.

    Scan applies the V.is_valid gate (round-7 hostile-embeddings
    sweep): retention divides by the FULL norm, so the zero-norm /
    ragged / non-finite rows a real feed carries must not reach the
    division (a valid vector's all-zero PREFIX is fine — that's a
    0/x retention of 0.0, a legitimate audit result)."""
    from hbase_sep_spark.operators import vectors as V

    e = t(spark, sf_dir, "embeddings").filter(V.is_valid("embedding"))
    n_full = V.l2_norm("embedding")
    n_16 = V.l2_norm(F.slice("embedding", 1, 16))
    return e.select(
        "vec_id",
        "label",
        F.round(n_full, 6).alias("norm_full"),
        F.round(n_16, 6).alias("norm_16"),
        F.round(n_16 / n_full, 4).alias("retention"),
    )


@register(
    "dedup_clusters_exact",
    oracle="""
    WITH RECURSIVE tok AS (
        SELECT DISTINCT doc_id, source, unnest(string_split(text, ' ')) AS word
        FROM documents WHERE doc_id <= 200
    ),
    sizes AS (SELECT doc_id, count(*) AS n_words FROM tok GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        FROM tok a JOIN tok b
          ON a.word = b.word AND a.source = b.source AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs p
        JOIN sizes sa ON sa.doc_id = p.id_a JOIN sizes sb ON sb.doc_id = p.id_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n_words + sb.n_words - n_common) >= 0.5
        UNION ALL
        SELECT id_b, id_a FROM pairs p
        JOIN sizes sa ON sa.doc_id = p.id_a JOIN sizes sb ON sb.doc_id = p.id_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n_words + sb.n_words - n_common) >= 0.5
    ),
    nodes AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id <= 200),
    reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node)
    SELECT l.doc_id, l.cluster_id,
           CAST(count(*) OVER (PARTITION BY l.cluster_id) AS BIGINT)
               AS cluster_size
    FROM lab l
    """,
    section="2.11",
)
def dedup_clusters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering with an EXACT oracle: the iterative
    min-label-propagation loop (operators/dedup.py
    connected_components — per-round persist/materialize/convergence
    probe, the 100 TB shape) cross-checked against DuckDB's recursive
    transitive closure over the SAME edge set. The companion
    dedup_clusters op is rows-only because its MinHash edges can't be
    replayed by another engine; here the edges are exact unigram
    Jaccard ≥ 0.5 within source blocks (deterministic, replayable),
    which upgrades the whole cluster assignment — the iterative
    algorithm included — to sql-hash grading. Singletons keep
    themselves as cluster_id, so the output is a total partition of
    the bounded slice.

    Scale shape: edge generation is the blocked token equi-join of
    dedup_ngram_jaccard; the CC loop shuffles (id, label) pairs keyed
    on id per round with per-round materialization bounding plan
    growth; the size column is one window over the final labels."""
    from hbase_sep_spark.operators.dedup import connected_components

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    tok = docs.select(
        "doc_id", "source", F.explode(F.array_distinct(T.words())).alias("word")
    )
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_words"))
    a = tok.alias("a")
    b = tok.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_words").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_words").alias("nb"))
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    pairs = inter.join(sa, "id_a").join(sb, "id_b").filter(jac >= 0.5)
    labels = connected_components(
        pairs.select("id_a", "id_b"), docs.select("doc_id"), id_col="doc_id"
    )
    wsize = Window.partitionBy("cluster_id")
    return labels.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(wsize).cast("bigint").alias("cluster_size"),
    )


@register(
    "join_asof_nearest",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, max(event_id) AS click_id
        FROM events WHERE event_type = 'click' AND ts IS NOT NULL
              AND user_id IS NOT NULL
        GROUP BY user_id, ts
    ),
    purchases AS (
        SELECT user_id, ts, event_id AS purchase_id
        FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
              AND user_id IS NOT NULL
    ),
    b AS (
        SELECT p.user_id, p.purchase_id, p.ts,
               c.ts AS bts, c.click_id AS bid
        FROM purchases p
        ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    ),
    f AS (
        SELECT p.user_id, p.purchase_id,
               c.ts AS fts, c.click_id AS fid
        FROM purchases p
        ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts <= c.ts
    )
    SELECT b.user_id, b.purchase_id,
           CASE WHEN bid IS NOT NULL AND (fid IS NULL
                     OR epoch_us(b.ts) - epoch_us(bts)
                        <= epoch_us(fts) - epoch_us(b.ts)) THEN bid
                ELSE fid END AS nearest_click_id,
           CASE WHEN bid IS NULL AND fid IS NULL THEN NULL
                WHEN bid IS NOT NULL AND (fid IS NULL
                     OR epoch_us(b.ts) - epoch_us(bts)
                        <= epoch_us(fts) - epoch_us(b.ts)) THEN 'backward'
                ELSE 'forward' END AS direction,
           CAST(CASE WHEN bid IS NOT NULL AND (fid IS NULL
                          OR epoch_us(b.ts) - epoch_us(bts)
                             <= epoch_us(fts) - epoch_us(b.ts))
                          THEN epoch_us(b.ts) - epoch_us(bts)
                     WHEN fid IS NOT NULL
                          THEN epoch_us(fts) - epoch_us(b.ts) END AS BIGINT)
               AS gap_us
    FROM b JOIN f ON b.user_id = f.user_id AND b.purchase_id = f.purchase_id
    """,
    section="2.3",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, direction='nearest' (pandas merge_asof's third
    mode, completing the backward / backward+tolerance family): each
    purchase takes whichever click is closer in time — the latest at
    or before, or the earliest strictly after — ties preferring
    backward. Gap arithmetic is int64 microseconds end to end, so the
    choice and the output are exact in both engines (no float
    distance anywhere).

    Scale shape: ONE union+window pass over the user_id partitioning
    computes both candidates (last ignorenulls over the preceding
    frame, first ignorenulls over the following frame — Catalyst
    shares the sort); no join against the clicks table at all, while
    the oracle needs two ASOF joins plus a re-join. Null-time and
    null-key rows are dead-lettered on both sides (round-8
    null-ts/null-keys sweeps — DuckDB ASOF drops NULL equi-keys)."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .select(
            "user_id",
            "ts",
            F.lit(None).cast("long").alias("purchase_id"),
            "click_id",
            F.col("ts").alias("click_ts"),
            F.lit(0).alias("marker"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_id"),
        F.lit(None).cast("long").alias("click_id"),
        F.lit(None).cast("timestamp").alias("click_ts"),
        F.lit(1).alias("marker"),
    )
    order = ["ts", "marker", "purchase_id"]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    u = clicks.unionByName(purchases).select(
        "user_id",
        "ts",
        "purchase_id",
        "marker",
        F.last("click_id", ignorenulls=True).over(wb).alias("bid"),
        F.last("click_ts", ignorenulls=True).over(wb).alias("bts"),
        F.first("click_id", ignorenulls=True).over(wf).alias("fid"),
        F.first("click_ts", ignorenulls=True).over(wf).alias("fts"),
    ).filter(F.col("marker") == 1)
    bgap = F.unix_micros("ts") - F.unix_micros("bts")
    fgap = F.unix_micros("fts") - F.unix_micros("ts")
    back_wins = F.col("bid").isNotNull() & (F.col("fid").isNull() | (bgap <= fgap))
    return u.select(
        "user_id",
        "purchase_id",
        F.when(back_wins, F.col("bid")).otherwise(F.col("fid")).alias(
            "nearest_click_id"
        ),
        F.when(F.col("bid").isNull() & F.col("fid").isNull(), F.lit(None))
        .when(back_wins, F.lit("backward"))
        .otherwise(F.lit("forward"))
        .alias("direction"),
        F.when(back_wins, bgap)
        .when(F.col("fid").isNotNull(), fgap)
        .cast("bigint")
        .alias("gap_us"),
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
    "pipeline_vocab_coverage",
    oracle="""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    freq AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
    ranked AS (
        SELECT w, c,
               row_number() OVER (ORDER BY c DESC, w) AS rk,
               sum(c) OVER (ORDER BY c DESC, w
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum,
               sum(c) OVER () AS total
        FROM freq
    ),
    targets AS (SELECT CAST(unnest([0.5, 0.9, 0.95, 0.99]) AS DOUBLE) AS tgt)
    SELECT tgt AS coverage_target,
           CAST(min(rk) AS BIGINT) AS vocab_size,
           CAST(max(total) AS BIGINT) AS total_tokens
    FROM ranked JOIN targets ON CAST(cum AS DOUBLE) / total >= tgt
    GROUP BY tgt
    """,
    section="2.11",
)
def pipeline_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-design metric: the
    smallest frequency-ranked vocabulary covering 50/90/95/99 % of
    corpus token occurrences. The answer decides vocab size and OOV
    budget before any tokenizer training run.

    Determinism: ranking orders by (count DESC, token) — a total
    order, so ranks and cumulative sums are identical across engines;
    the coverage ratio is an exact-integer quotient compared with the
    same IEEE division on both sides.

    Scale shape: the corpus-sized work is the map-side-combinable
    (token → count) aggregate; the ranking window runs over the
    VOCABULARY (≪ corpus — the token table shuffles once as (token,
    count) pairs), single-partition by construction; at a vocabulary
    too large for one task this becomes per-shard top-k + merge, the
    same two-level shape as operators/quantiles.py. The 4-row target
    table broadcasts into a bounded nested-loop join."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(F.explode(T.words()).alias("w"))
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    wr = Window.orderBy(F.desc("c"), "w")
    ranked = freq.select(
        "c",
        F.row_number().over(wr).alias("rk"),
        F.sum("c")
        .over(wr.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("total"),
    )
    targets = spark.createDataFrame(
        [(0.5,), (0.9,), (0.95,), (0.99,)], "tgt double"
    )
    covered = ranked.join(
        F.broadcast(targets),
        (F.col("cum").cast("double") / F.col("total")) >= F.col("tgt"),
    )
    return covered.groupBy(F.col("tgt").alias("coverage_target")).agg(
        F.min("rk").cast("bigint").alias("vocab_size"),
        F.max("total").cast("bigint").alias("total_tokens"),
    )


@register(
    "join_pit_scd2",
    oracle="""
    WITH vsrc AS (
        SELECT user_id, ts, max(event_id) AS version_event_id,
               arg_max(value, event_id) AS version_value
        FROM events WHERE event_type IN ('signup', 'click')
              AND ts IS NOT NULL AND user_id IS NOT NULL
        GROUP BY user_id, ts
    ),
    versions AS (
        SELECT user_id, version_event_id, version_value,
               ts AS valid_from_ts,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   AS valid_to_ts
        FROM vsrc
    ),
    purchases AS (
        SELECT user_id, event_id AS purchase_id, ts
        FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
              AND user_id IS NOT NULL
    )
    SELECT p.user_id, p.purchase_id,
           v.version_event_id, v.version_value,
           strftime(v.valid_from_ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           strftime(v.valid_to_ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
           CAST(CASE WHEN v.version_event_id IS NULL THEN 0
                     WHEN p.ts >= v.valid_from_ts
                          AND (v.valid_to_ts IS NULL OR p.ts < v.valid_to_ts)
                     THEN 1 ELSE 0 END AS INT) AS in_interval
    FROM purchases p
    ASOF LEFT JOIN versions v
      ON p.user_id = v.user_id AND p.ts >= v.valid_from_ts
    """,
    section="2.3",
)
def join_pit_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against an SCD2 dimension — the
    feature-store correctness pattern: each fact (purchase) joins the
    dimension VERSION that was valid at fact time (profile versions
    derived from signup/click events), never a later one (no feature
    leakage). `in_interval` is a self-validating witness: 1 for every
    matched row iff the as-of pick landed inside its [valid_from,
    valid_to) interval — contiguous versions make this provable, and
    the driver hash re-proves it on every grade.

    Scale shape: the same single union+window user_id pass as the
    as-of family — version effectivity (lead) and the prevailing
    version at each purchase come from one shared sort; no join
    against the versions table (the oracle needs a window + an ASOF
    join). At 100 TB this is the shape that replaces the O(facts ×
    versions-per-key) range join a naive PIT implementation does.

    Same-ts versions are collapsed to the max-event_id row per
    (user_id, ts) BEFORE effectivity is derived — on both sides — so
    valid_from is strictly increasing per user, the oracle's ASOF
    pick is unambiguous, and the union-window last() has no
    nondeterministic tie (ADVICE r4). The collapse rides the same
    user_id window partitioning as the lead(), so it adds a sort but
    no extra shuffle. Null-time and null-key rows are dead-lettered
    on both sides (round-8 null-ts/null-keys sweeps): a version with
    no effectivity start, a fact with no as-of time, and a keyless
    record are all unroutable (DuckDB ASOF drops NULL equi-keys)."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    wdedup = Window.partitionBy("user_id").orderBy("ts", F.col("event_id").desc())
    vsrc = (
        ev.filter(F.col("event_type").isin("signup", "click"))
        .withColumn("_prev_ts", F.lag("ts").over(wdedup))
        .filter(F.col("_prev_ts").isNull() | (F.col("_prev_ts") != F.col("ts")))
        .drop("_prev_ts")
    )
    wv = Window.partitionBy("user_id").orderBy("ts")
    versions = vsrc.select(
        "user_id",
        F.col("ts").alias("vts"),
        F.col("event_id").alias("version_event_id"),
        F.col("value").alias("version_value"),
        F.lead("ts").over(wv).alias("valid_to_ts"),
    ).select(
        "user_id",
        F.col("vts").alias("ts"),
        F.lit(None).cast("long").alias("purchase_id"),
        "version_event_id",
        "version_value",
        F.col("vts").alias("valid_from_ts"),
        "valid_to_ts",
        F.lit(0).alias("marker"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_id"),
        F.lit(None).cast("long").alias("version_event_id"),
        F.lit(None).cast("double").alias("version_value"),
        F.lit(None).cast("timestamp").alias("valid_from_ts"),
        F.lit(None).cast("timestamp").alias("valid_to_ts"),
        F.lit(1).alias("marker"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "marker", "purchase_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # The prevailing version's fields are carried as ONE struct under
    # a single last(ignorenulls): four independent last()s could mix
    # fields from different version rows.
    paired = versions.unionByName(purchases).select(
        "user_id",
        "ts",
        "purchase_id",
        "marker",
        F.last(
            F.when(
                F.col("marker") == 0,
                F.struct("version_event_id", "version_value", "valid_from_ts", "valid_to_ts"),
            ),
            ignorenulls=True,
        ).over(w).alias("v"),
    ).filter(F.col("marker") == 1)
    in_interval = (
        F.when(F.col("v").isNull(), 0)
        .when(
            (F.col("ts") >= F.col("v.valid_from_ts"))
            & (F.col("v.valid_to_ts").isNull() | (F.col("ts") < F.col("v.valid_to_ts"))),
            1,
        )
        .otherwise(0)
    )
    return paired.select(
        "user_id",
        "purchase_id",
        F.col("v.version_event_id").alias("version_event_id"),
        F.col("v.version_value").alias("version_value"),
        F.date_format("v.valid_from_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("valid_from"),
        F.date_format("v.valid_to_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("valid_to"),
        in_interval.cast("int").alias("in_interval"),
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
