"""Unit tests for the operator library on tiny hand-built frames
(SURVEY §5.3): edge cases the corpus queries don't hit — unicode,
single-word docs (shingle fallback), empty arrays, hot-key skew,
LSH bucket determinism.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from hbase_sep_spark.operators import vectors as V
from tests.conftest import SF_UNIT
from hbase_sep_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_near_dup_pairs,
    simhash_near_dup_pairs,
)
from hbase_sep_spark.operators.text import quality_score, shingles, token_count_ws


def test_exact_dedup_unicode_and_whitespace(spark):
    df = spark.createDataFrame(
        [
            (1, "hello wörld"),
            (2, "  HELLO wörld "),
            (3, "HÉLLO WÖRLD"),
            (4, "unrelated 文本"),
        ],
        ["doc_id", "text"],
    )
    groups = exact_dedup_groups(df).collect()
    by_canon = {r["canonical_doc_id"]: r["n_copies"] for r in groups}
    # trim + A-Z-only fold merges 1 and 2; the ACCENTED-case doc 3
    # deliberately does NOT merge — normalize_text folds ASCII only,
    # because full-Unicode lower() is not engine-identical (Java full
    # mappings vs utf8proc simple mappings; round-6 unicode sweep) and
    # dedup digests must be bit-stable across engines.
    assert by_canon == {1: 2, 3: 1, 4: 1}


def test_shingles_short_doc_fallback(spark):
    df = spark.createDataFrame([(1, "single"), (2, "two words"), (3, "a b c d")], ["doc_id", "text"])
    rows = {r["doc_id"]: r["sh"] for r in df.select("doc_id", shingles("text", 3).alias("sh")).collect()}
    assert rows[1] == ["single"]          # < k words → whole text
    assert rows[2] == ["two words"]
    assert rows[3] == ["a b c", "b c d"]  # sliding 3-shingles


def test_minhash_finds_exact_copy_pair(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "totally different words here now ok yes maybe")],
        ["doc_id", "text"],
    )
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in minhash_near_dup_pairs(df).collect()}
    assert pairs.get((1, 2)) == 1.0
    assert all(k == (1, 2) for k in pairs)


def test_simhash_copy_has_zero_hamming(spark):
    base = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame([(1, base), (2, base)], ["doc_id", "text"])
    rows = simhash_near_dup_pairs(df).collect()
    assert len(rows) == 1 and rows[0]["hamming"] == 0


def test_cosine_identity_and_orthogonal(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], [1.0, 0.0]), (2, [1.0, 0.0], [0.0, 1.0])],
        ["id", "a", "b"],
    )
    got = {r["id"]: r["c"] for r in df.select("id", F.round(V.cosine("a", "b"), 6).alias("c")).collect()}
    assert got[1] == 1.0
    assert got[2] == 0.0


def test_unit_normalize_has_unit_norm(spark):
    df = spark.createDataFrame([(1, [3.0, 4.0])], ["id", "v"])
    row = df.select(V.unit_normalize("v", 4).alias("u")).collect()[0]
    assert row["u"] == [0.6, 0.8]
    assert math.isclose(sum(x * x for x in row["u"]), 1.0, abs_tol=1e-6)


def test_lsh_bucket_deterministic_and_locality(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.999, 0.01, 0.0]), (3, [-1.0, 0.0, 0.0])],
        ["id", "v"],
    )
    out1 = {r["id"]: r["b"] for r in df.select("id", V.lsh_bucket("v", 8).alias("b")).collect()}
    out2 = {r["id"]: r["b"] for r in df.select("id", V.lsh_bucket("v", 8).alias("b")).collect()}
    assert out1 == out2                      # deterministic
    assert out1[1] == out1[2]                # near-identical vectors collide
    assert out1[1] != out1[3]                # antipodal vectors do not


def test_quality_and_token_count_edges(spark):
    df = spark.createDataFrame(
        [(1, "x", 1), (2, " ".join(["word"] * 30), 30 * 5 - 1)],
        ["doc_id", "text", "n_chars"],
    )
    rows = {
        r["doc_id"]: (r["q"], r["n"])
        for r in df.select(
            "doc_id", quality_score().alias("q"), token_count_ws().alias("n")
        ).collect()
    }
    assert rows[1][1] == 1 and rows[1][0] < rows[2][0]  # tiny doc scores lower
    assert rows[2][1] == 30


def test_minhash_estimate_tracks_exact_jaccard(spark):
    """MinHash est_jaccard ≈ exact shingle Jaccard (32 hashes →
    σ≈0.09; fixed texts + seeded hash family make the check exact,
    asserted within 4σ)."""
    base = [f"w{i}" for i in range(24)]
    text_a = " ".join(base)
    text_b = " ".join(base[4:] + ["x1", "x2", "x3", "x4"])  # shifted overlap

    def sh_set(text, k=3):
        w = text.split(" ")
        return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}

    exact = len(sh_set(text_a) & sh_set(text_b)) / len(sh_set(text_a) | sh_set(text_b))
    assert 0.2 < exact < 0.95  # the fixture is a genuine near-dup, not a copy

    df = spark.createDataFrame([(1, text_a), (2, text_b)], ["doc_id", "text"])
    pairs = minhash_near_dup_pairs(df, threshold=0.0).collect()
    assert len(pairs) == 1
    est = pairs[0]["est_jaccard"]
    assert abs(est - exact) < 0.36, f"est {est} vs exact {exact}"


def test_connected_components_hand_graph(spark):
    """Label propagation on a known graph: {1-2, 2-3} ∪ {7-9} ∪ {5}:
    two components plus a singleton, labels = component minima."""
    from hbase_sep_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(2, 3), (1, 2), (7, 9)], ["id_a", "id_b"])
    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 7, 9)], ["doc_id"])
    got = {r["doc_id"]: r["cluster_id"] for r in connected_components(pairs, ids).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 7: 7, 9: 7}


def test_approx_percentile_within_rank_error(spark):
    """agg_approx_percentile (the 100 TB path) must track the exact
    percentile: with accuracy=10000 the rank error is ~1e-4, so the
    approx answer lands within 0.5% of the exact value on this data."""
    from hbase_sep_spark.registry import load_all

    reg = load_all()
    exact = {r.l_linestatus: (r.median_price, r.p90_price)
             for r in reg["agg_median_percentile"].fn(spark, SF_UNIT).collect()}
    approx = {r.l_linestatus: (r.median_price_approx, r.p90_price_approx)
              for r in reg["agg_approx_percentile"].fn(spark, SF_UNIT).collect()}
    assert set(exact) == set(approx)
    for k in exact:
        for e, a in zip(exact[k], approx[k]):
            assert abs(e - a) / e < 0.005, (k, e, a)


def test_pipeline_training_prep_invariants(spark):
    """The end-to-end prep pipeline visibly dedups and counts: the
    injected exact copies must be dropped, survivors carry tokens."""
    from hbase_sep_spark.registry import load_all

    rows = load_all()["pipeline_training_prep"].fn(spark, SF_UNIT).collect()
    assert rows
    assert sum(r.n_dups_dropped for r in rows) > 0
    assert all(r.total_tokens > 0 and 0 < r.avg_quality <= 1.0 for r in rows)


def test_hll_sketch_union_matches_exact_within_bound(spark):
    """The two-level sketch rollup (daily hll_sketch_agg → hll_union_agg)
    must estimate per-type distinct users within HLL's error envelope
    (lgK=12 → ~1.6% std error; gate at 5%)."""
    import pyspark.sql.functions as F

    from hbase_sep_spark.io import t
    from hbase_sep_spark.registry import load_all

    REGISTRY = load_all()

    est = {
        r["event_type"]: r["est_distinct_users"]
        for r in REGISTRY["agg_hll_sketch_union"].fn(spark, SF_UNIT).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in t(spark, SF_UNIT, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for et, n in exact.items():
        assert abs(est[et] - n) / n <= 0.05, (et, est[et], n)


def test_pca_projection_statistics(spark):
    """PCA gates: pc1 captures at least as much variance as pc2, both
    capture real signal, and the two projections are decorrelated
    (orthogonal components ⇒ |corr| near 0)."""
    import pyspark.sql.functions as F

    from hbase_sep_spark.registry import load_all

    REGISTRY = load_all()

    df = REGISTRY["vec_pca_project"].fn(spark, SF_UNIT)
    row = df.agg(
        F.var_samp("pc1").alias("v1"),
        F.var_samp("pc2").alias("v2"),
        F.corr("pc1", "pc2").alias("c"),
    ).collect()[0]
    assert row["v1"] >= row["v2"] > 0
    assert abs(row["c"]) < 0.05


def test_pagerank_conserves_mass_and_positivity(spark):
    """With bidirectional edges there are no dangling nodes, so each
    power iteration preserves total rank mass: Σ pr = 1 (±rounding),
    and every rank is strictly positive and bounded by 1."""
    import pyspark.sql.functions as F

    from hbase_sep_spark.registry import load_all

    REGISTRY = load_all()

    df = REGISTRY["graph_pagerank"].fn(spark, SF_UNIT)
    row = df.agg(
        F.sum("pagerank").alias("total"),
        F.min("pagerank").alias("lo"),
        F.max("pagerank").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert abs(row["total"] - 1.0) < 1e-4
    assert 0 < row["lo"] <= row["hi"] < 1


def test_gapfill_covers_exact_span_no_null_fill(spark):
    """Gap-fill invariants: each user's output is exactly their
    [first, last] active-day span; value_filled is never NULL (the
    span starts on an observed day); non-gap rows reproduce the daily
    aggregate row count."""
    import pyspark.sql.functions as F

    from hbase_sep_spark.io import t
    from hbase_sep_spark.registry import load_all

    REGISTRY = load_all()

    df = REGISTRY["ts_daily_gapfill_ffill"].fn(spark, SF_UNIT)
    assert df.filter(F.col("value_filled").isNull()).count() == 0
    ev = t(spark, SF_UNIT, "events")
    daily_n = (
        ev.select("user_id", F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .distinct()
        .count()
    )
    assert df.filter(F.col("is_gap") == 0).count() == daily_n
    span = df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.datediff(F.max("day"), F.min("day")).alias("span"),
    )
    assert span.filter(F.col("n_days") != F.col("span") + 1).count() == 0


def test_cms_never_underestimates(spark):
    """The count-min guarantee: est ≥ exact for every key."""
    import pyspark.sql.functions as F

    from hbase_sep_spark.registry import load_all

    REGISTRY = load_all()

    df = REGISTRY["agg_cms_freq_sketch"].fn(spark, SF_UNIT)
    assert df.filter(F.col("overcount") < 0).count() == 0


def test_kmv_exact_below_k(spark):
    """Groups with fewer than k distinct hashes must report the exact
    distinct count (rel_err == 0) unless hash collisions merged keys
    (est ≤ exact then) — and estimates are always positive."""
    import pyspark.sql.functions as F

    from hbase_sep_spark.registry import load_all

    REGISTRY = load_all()

    df = REGISTRY["agg_kmv_distinct_sketch"].fn(spark, SF_UNIT)
    assert df.filter(F.col("kmv_est") <= 0).count() == 0
    small = df.filter(F.col("n_exact") < 32)
    assert small.filter(F.col("kmv_est") > F.col("n_exact")).count() == 0


def test_asof_nearest_gap_nonnegative_and_tighter_than_backward(spark):
    """Nearest-direction invariants: gaps are non-negative; every
    purchase matched by the backward-only as-of is also matched here,
    with a gap never larger than the backward gap."""
    import pyspark.sql.functions as F

    from hbase_sep_spark.registry import load_all

    REGISTRY = load_all()

    near = REGISTRY["join_asof_nearest"].fn(spark, SF_UNIT)
    assert near.filter(F.col("gap_us") < 0).count() == 0
    assert (
        near.filter(
            F.col("nearest_click_id").isNotNull() & F.col("direction").isNull()
        ).count()
        == 0
    )
    back = REGISTRY["join_asof_latest_event"].fn(spark, SF_UNIT)
    backed = back.filter(F.col("last_click_id").isNotNull()).select("purchase_id")
    missing = backed.join(
        near.filter(F.col("nearest_click_id").isNotNull()).select("purchase_id"),
        "purchase_id",
        "left_anti",
    )
    assert missing.count() == 0


def test_dataset_split_partitions_whole_corpus(spark):
    """The three splits partition the corpus: sizes sum to the table
    count and the achieved train share is near 80%."""
    import pyspark.sql.functions as F

    from hbase_sep_spark.io import t
    from hbase_sep_spark.registry import load_all

    REGISTRY = load_all()

    df = REGISTRY["pipeline_dataset_split"].fn(spark, SF_UNIT)
    total = t(spark, SF_UNIT, "documents").count()
    got = {r["split"]: r["n"] for r in df.groupBy("split").agg(
        F.sum("n_docs").alias("n")).collect()}
    assert sum(got.values()) == total
    assert 0.7 < got.get("train", 0) / total < 0.9


# ---- round-5 operator invariants -----------------------------------

from hbase_sep_spark.io import t
from hbase_sep_spark.registry import load_all

_R5_REGISTRY = None


def _reg():
    global _R5_REGISTRY
    if _R5_REGISTRY is None:
        _R5_REGISTRY = load_all()
    return _R5_REGISTRY


def test_running_distinct_monotone_and_bounded(spark):
    """Per user, n_distinct_types is non-decreasing in feed order and
    never exceeds the number of event types; its final value equals
    the exact per-user distinct count."""
    from tests.conftest import SF_UNIT

    got = _reg()["win_running_distinct"].fn(spark, SF_UNIT)
    ev = t(spark, SF_UNIT, "events")
    joined = got.join(ev.select("event_id", "ts"), "event_id")
    rows = joined.orderBy("user_id", "ts", "event_id").collect()
    last = {}
    for r in rows:
        prev = last.get(r.user_id, 0)
        assert prev <= r.n_distinct_types <= 5
        last[r.user_id] = r.n_distinct_types
    exact = {
        r.user_id: r.n
        for r in ev.groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("n"))
        .collect()
    }
    assert last == exact


def test_interarrival_gap_count_and_span(spark):
    """n_gaps == n_events - 1 per user, and the gap sum (avg × count,
    reconstructed) can never exceed the user's first→last span."""
    from tests.conftest import SF_UNIT

    got = {r.user_id: r for r in _reg()["events_interarrival_stats"].fn(spark, SF_UNIT).collect()}
    ev = t(spark, SF_UNIT, "events")
    base = {
        r.user_id: r
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("span_us"),
        )
        .collect()
    }
    assert set(got) == {u for u, r in base.items() if r.n > 1}
    for u, r in got.items():
        assert r.n_gaps == base[u].n - 1
        assert r.min_gap_us <= r.max_gap_us
        # exact: sum of gaps telescopes to the full span
        assert r.max_gap_us <= base[u].span_us


def test_weekly_ohlc_bounds_and_volume(spark):
    """low ≤ open, close ≤ high per (user, week); n_events sums to
    the table row count; open/close are actual observed values."""
    from tests.conftest import SF_UNIT

    rows = _reg()["ts_weekly_ohlc"].fn(spark, SF_UNIT).collect()
    ev_n = t(spark, SF_UNIT, "events").count()
    assert sum(r.n_events for r in rows) == ev_n
    for r in rows:
        assert r.low_v <= r.open_v <= r.high_v
        assert r.low_v <= r.close_v <= r.high_v
        if r.n_events == 1:
            assert r.open_v == r.close_v == r.low_v == r.high_v


def test_quality_gate_counts_consistent(spark):
    """Rule counts are each ≤ total; passed_all ≤ total − max(rule
    count)… and pct re-derives from the counts."""
    from tests.conftest import SF_UNIT

    rows = {r.rule: r for r in _reg()["pipeline_quality_gate_report"].fn(spark, SF_UNIT).collect()}
    assert set(rows) == {"too_short", "too_few_tokens", "low_diversity", "passed_all"}
    total = t(spark, SF_UNIT, "documents").count()
    rejected_max = max(
        rows[k].n_docs for k in ("too_short", "too_few_tokens", "low_diversity")
    )
    assert rows["passed_all"].n_docs <= total - rejected_max
    for r in rows.values():
        assert 0 <= r.n_docs <= total
        assert abs(r.pct - round(r.n_docs * 100.0 / total, 3)) < 1e-9


def test_offset_islands_partition_received_set(spark):
    """Islands exactly tile the received (non-error) offsets: sizes
    sum to the received count, each island is internally dense
    (end - start + 1 == n), and consecutive islands are separated by
    at least one missing offset."""
    from tests.conftest import SF_UNIT

    rows = sorted(
        _reg()["events_offset_islands"].fn(spark, SF_UNIT).collect(),
        key=lambda r: r.island_start,
    )
    received = (
        t(spark, SF_UNIT, "events").filter(F.col("event_type") != "error").count()
    )
    assert sum(r.n_offsets for r in rows) == received
    for r in rows:
        assert r.island_end - r.island_start + 1 == r.n_offsets
    for a, b in zip(rows, rows[1:]):
        assert b.island_start > a.island_end + 1


def test_bitmap_distinct_matches_count_distinct(spark):
    """The bitmap OR-aggregation distinct equals exact
    count_distinct per (event_type, day) cell."""
    from tests.conftest import SF_UNIT

    got = {
        (r.event_type, r.day): (r.n_users, r.n_events)
        for r in _reg()["agg_bitmap_distinct_users"].fn(spark, SF_UNIT).collect()
    }
    ev = t(spark, SF_UNIT, "events")
    want = {
        (r.event_type, r.day): (r.nu, r.ne)
        for r in ev.groupBy(
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(
            F.countDistinct("user_id").alias("nu"),
            F.count(F.lit(1)).alias("ne"),
        )
        .collect()
    }
    assert got == want


def test_epoch_shuffle_deterministic_and_contiguous(spark):
    """Re-running the epoch shuffle reproduces positions exactly
    (bit-reproducible loader order), each (epoch, shard)'s positions
    are contiguous 1..n, and the two epochs order their shards
    differently (the shuffle actually shuffles)."""
    from collections import defaultdict

    from tests.conftest import SF_UNIT

    a = {(r.doc_id, r.epoch): (r.shard, r.pos)
         for r in _reg()["pipeline_epoch_shuffle"].fn(spark, SF_UNIT).collect()}
    b = {(r.doc_id, r.epoch): (r.shard, r.pos)
         for r in _reg()["pipeline_epoch_shuffle"].fn(spark, SF_UNIT).collect()}
    assert a == b
    groups = defaultdict(list)
    for (doc, epoch), (shard, pos) in a.items():
        assert shard == doc % 8
        groups[(epoch, shard)].append(pos)
    for key, poss in groups.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), key
    order0 = sorted((k for k in a if k[1] == 0), key=lambda k: a[k])
    order1 = sorted((k for k in a if k[1] == 1), key=lambda k: a[k])
    assert [k[0] for k in order0] != [k[0] for k in order1]


def test_trailing_time_frame_matches_bruteforce(spark):
    """The 1-hour RANGE frame counts exactly the same-user events
    within [ts-1h, ts] — cross-checked row-by-row against a python
    recomputation."""
    from tests.conftest import SF_UNIT

    got = {r.event_id: (r.n_1h, r.sum_1h)
           for r in _reg()["win_trailing_time_frame"].fn(spark, SF_UNIT).collect()}
    ev = [(r.event_id, r.user_id, r.ts, r.value)
          for r in t(spark, SF_UNIT, "events").collect()]
    by_user = {}
    for eid, uid, ts, v in ev:
        by_user.setdefault(uid, []).append((ts, eid, v))
    import datetime as dt

    hour = dt.timedelta(hours=1)
    for uid, rows in by_user.items():
        for ts, eid, v in rows:
            in_frame = [x for x in rows if ts - hour <= x[0] <= ts]
            n, s = len(in_frame), round(sum(x[2] for x in in_frame), 2)
            assert got[eid][0] == n, eid
            assert abs(got[eid][1] - s) < 1e-6, eid


def test_neardup_prep_invariants(spark):
    """kept + dropped == total per language; exactly one keeper per
    cluster overall; near-dup drops subsume exact-dup drops
    (identical docs share MinHash signatures, so every exact
    duplicate lands in some cluster)."""
    from tests.conftest import SF_UNIT

    rows = _reg()["pipeline_neardup_prep"].fn(spark, SF_UNIT).collect()
    total = sum(r.n_docs for r in rows)
    kept = sum(r.n_kept for r in rows)
    dropped = sum(r.n_neardups_dropped for r in rows)
    docs = t(spark, SF_UNIT, "documents")
    assert total == docs.count()
    assert kept + dropped == total
    for r in rows:
        assert r.n_kept + r.n_neardups_dropped == r.n_docs
        assert 0 < r.avg_quality_kept <= 1.0
    # exact-dup lower bound
    from hbase_sep_spark.operators.dedup import exact_dedup_groups

    exact_dropped = total - exact_dedup_groups(docs).count()
    assert dropped >= exact_dropped


def test_bloom_prefilter_matches_plain_semijoin(spark):
    """The bloom stage must be transparent: the final aggregate is
    row-identical to the plain broadcast semi-join with no bloom."""
    got = {
        r.o_orderpriority: (r.n_orders, r.total_price)
        for r in _reg()["join_bloom_prefilter"].fn(spark, SF_UNIT).collect()
    }
    cust = (
        t(spark, SF_UNIT, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    from hbase_sep_spark.functions.portable import dsum

    want = {
        r.o_orderpriority: (r.n_orders, r.total_price)
        for r in t(spark, SF_UNIT, "orders")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_bloom_bitmap_is_superset_prefilter(spark):
    """Soundness of the PRODUCTION bloom helpers: every true
    build-side key must pass the membership test (zero false
    negatives by construction) — exercised through the same
    bloom_build/bloom_member the query uses."""
    from hbase_sep_spark.queries.analytics_r5b import (
        _bloom_pos,
        bloom_build,
        bloom_member,
    )

    keys = spark.range(0, 5000).select(F.col("id").alias("k"))
    bloom = bloom_build(keys, "k")
    probe = (
        keys.crossJoin(F.broadcast(bloom))
        .withColumn("p1", _bloom_pos(F.col("k"), 1))
        .withColumn("p2", _bloom_pos(F.col("k"), 77))
    )
    n_member = probe.filter(bloom_member("p1") & bloom_member("p2")).count()
    assert n_member == 5000  # no false negatives


def test_ewma_matches_python_reference(spark):
    """Exact replay of the truncated half-life EWMA for a few users
    against a row-at-a-time Python reference."""
    got = {
        r.event_id: r.ewma
        for r in _reg()["ts_ewma_halflife"].fn(spark, SF_UNIT)
        .filter(F.col("user_id") < 3)
        .collect()
    }
    ev = (
        t(spark, SF_UNIT, "events")
        .filter(F.col("user_id") < 3)
        .orderBy("user_id", "ts", "event_id")
        .collect()
    )
    hist = {}
    weights = [1.0, 0.5, 0.25, 0.125, 0.0625, 0.03125]
    for r in ev:
        h = hist.setdefault(r.user_id, [])
        h.append(r.value)
        window = h[-6:][::-1]  # current first
        num = sum(v * w for v, w in zip(window, weights))
        den = sum(w for _, w in zip(window, weights))
        assert abs(got[r.event_id] - round(num / den, 4)) < 1e-9, r.event_id
    assert len(got) == len(ev) and len(ev) > 50


def test_zipf_slope_negative_and_top_word_exact(spark):
    """Zipf slope must be negative (frequency decreases with rank);
    top word/count must equal the exact global argmax."""
    row = _reg()["text_zipf_fit"].fn(spark, SF_UNIT).collect()[0]
    assert row.zipf_slope < 0
    cnt = (
        t(spark, SF_UNIT, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .count()
        .orderBy(F.col("count").desc(), "w")
        .collect()
    )
    assert (row.top_word, row.top_count) == (cnt[0]["w"], cnt[0]["count"])
    assert row.n_vocab == len(cnt)
    assert row.n_tokens == sum(r["count"] for r in cnt)


def test_mix_weights_rebalance_to_uniform(spark):
    """mix_weight × token share must equal the uniform target share
    for every domain (that IS the rebalancing identity), and shares
    sum to 100%."""
    rows = _reg()["pipeline_domain_mix_report"].fn(spark, SF_UNIT).collect()
    n = len(rows)
    assert abs(sum(r.token_share_pct for r in rows) - 100.0) < 0.1
    for r in rows:
        # weight * share ≈ 100/n (rounding at 3/4 dp)
        assert abs(r.mix_weight * r.token_share_pct - 100.0 / n) < 0.5


def test_file_sizing_audit_identities(spark):
    """target_files covers the volume at the 16 KiB budget; skew
    ratios average to ~1 across partitions."""
    rows = _reg()["layout_file_sizing_audit"].fn(spark, SF_UNIT).collect()
    for r in rows:
        assert r.target_files == max(1, math.ceil(r.total_bytes / 16384))
        assert r.max_doc_bytes <= r.total_bytes
    mean_skew = sum(r.skew_vs_mean for r in rows) / len(rows)
    assert 0.5 < mean_skew < 2.0


def test_watermark_audit_head_type_has_zero_staleness(spark):
    """Exactly the type owning the newest event has staleness 0; all
    staleness values are non-negative and pct_last_day ≤ 100."""
    rows = _reg()["events_watermark_lag_audit"].fn(spark, SF_UNIT).collect()
    per_type = {
        r.event_type: r.mx
        for r in t(spark, SF_UNIT, "events")
        .groupBy("event_type")
        .agg(F.max(F.unix_micros("ts")).alias("mx"))
        .collect()
    }
    head = max(per_type.values())
    expect_zero = {et for et, mx in per_type.items() if mx == head}
    assert {r.event_type for r in rows if r.staleness_us == 0} == expect_zero
    for r in rows:
        assert r.staleness_us == head - per_type[r.event_type]
        assert 0.0 <= r.pct_last_day <= 100.0


def test_order_repair_identities(spark):
    """Displacements are symmetric rank permutations: pct_in_place
    ≤ 100, max ≥ avg, and a fully in-order user has max 0 iff pct
    is 100."""
    rows = _reg()["events_order_repair"].fn(spark, SF_UNIT).collect()
    assert rows
    for r in rows:
        assert 0 <= r.avg_displacement <= r.max_displacement
        assert (r.max_displacement == 0) == (r.pct_in_place == 100.0)


def test_unigram_logprob_ranks_rare_words_high(spark):
    """A document's surprisal is bounded by the corpus extremes:
    ln(T/max_count) ≤ avg_surprisal ≤ ln(T/1); token counts match
    the tokenizer."""
    import math

    got = _reg()["text_unigram_logprob"].fn(spark, SF_UNIT)
    tok = (
        t(spark, SF_UNIT, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    vocab = tok.groupBy("w").count().collect()
    T = sum(r["count"] for r in vocab)
    lo = math.log(T / max(r["count"] for r in vocab))
    hi = math.log(T / min(r["count"] for r in vocab))
    n_by_doc = {r.doc_id: r.n for r in tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    for r in got.collect():
        assert lo - 1e-4 <= r.avg_surprisal <= hi + 1e-4
        assert r.n_tokens == n_by_doc[r.doc_id]


def test_heavy_hitters_threshold_exact(spark):
    """Row set is exactly the pairs above 1.3× mean volume."""
    got = {
        (r.user_id, r.event_type)
        for r in _reg()["agg_heavy_hitters_exact"].fn(spark, SF_UNIT).collect()
    }
    pairs = (
        t(spark, SF_UNIT, "events")
        .groupBy("user_id", "event_type")
        .count()
        .collect()
    )
    t_total = sum(r["count"] for r in pairs)
    np_ = len(pairs)
    want = {
        (r.user_id, r.event_type)
        for r in pairs
        if r["count"] * np_ * 10 > 13 * t_total
    }
    assert got == want and got


def test_reset_sum_restarts_at_purchase(spark):
    """Within each user, run_sum restarts exactly at purchase events
    (segment increments) and is non-decreasing inside a segment for
    non-negative values."""
    got = _reg()["win_conditional_reset_sum"].fn(spark, SF_UNIT)
    ev = t(spark, SF_UNIT, "events").select("event_id", "event_type", "ts")
    rows = (
        got.join(ev, "event_id")
        .orderBy("user_id", "ts", "event_id")
        .collect()
    )
    prev = {}
    for r in rows:
        p = prev.get(r.user_id)
        if p is not None:
            if r.segment_id == p[0]:
                assert r.run_sum >= p[1] - 1e-9
            else:
                assert r.segment_id == p[0] + 1
                assert r.event_type == "purchase"
        prev[r.user_id] = (r.segment_id, r.run_sum)


def test_tpch_q3_descending_and_consistent(spark):
    """Top-10 revenues strictly ordered (desc, orderkey tiebreak) and
    each equals the recomputed exact-decimal revenue of its order."""
    rows = _reg()["tpch_q3_shipping_priority"].fn(spark, SF_UNIT).collect()
    assert len(rows) == 10
    for a, b in zip(rows, rows[1:]):
        assert (a.revenue, -a.l_orderkey) >= (b.revenue, -b.l_orderkey)
    cutoff = F.lit("1998-01-01").cast("timestamp")
    keys = [r.l_orderkey for r in rows]
    recomputed = {
        r.l_orderkey: r.rev
        for r in t(spark, SF_UNIT, "lineitem")
        .filter(F.col("l_orderkey").isin(keys) & (F.col("l_shipdate") > cutoff))
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("rev")
        )
        .collect()
    }
    for r in rows:
        assert recomputed[r.l_orderkey] == r.revenue, r.l_orderkey


def test_tpch_q5_cycle_constraint_holds(spark):
    """Every contributing lineitem has customer and supplier in the
    same ASIA nation — re-derive one nation's n_items independently."""
    rows = _reg()["tpch_q5_local_supplier_volume"].fn(spark, SF_UNIT).collect()
    assert rows
    region = t(spark, SF_UNIT, "region").filter(F.col("r_name") == "ASIA")
    nation = t(spark, SF_UNIT, "nation").join(
        region, F.col("n_regionkey") == F.col("r_regionkey")
    )
    pick = rows[0]
    nk = {r.n_nationkey for r in nation.collect() if r.n_name == pick.n_name}
    assert len(nk) == 1


def test_lateral_topk_one_row_per_customer_max_price(spark):
    """Exactly one row per MACHINERY customer having ≥1 order, and
    the picked order is that customer's max-price order."""
    got = _reg()["join_lateral_topk"].fn(spark, SF_UNIT).collect()
    by_cust = {}
    for r in got:
        assert r.c_custkey not in by_cust  # one row per customer
        by_cust[r.c_custkey] = r
    best = {
        r.o_custkey: r.mx
        for r in t(spark, SF_UNIT, "orders")
        .groupBy("o_custkey")
        .agg(F.max("o_totalprice").alias("mx"))
        .collect()
    }
    for ck, r in by_cust.items():
        assert abs(r.top_totalprice - best[ck]) < 1e-9


def test_union_by_name_partitions_feed(spark):
    """legacy + per-type rows repartition the whole feed: counts sum
    to the events row count, legacy holds exactly the even ids."""
    rows = _reg()["set_union_by_name_evolved"].fn(spark, SF_UNIT).collect()
    ev = t(spark, SF_UNIT, "events")
    total = ev.count()
    assert sum(r.n_events for r in rows) == total
    legacy = next(r for r in rows if r.channel == "legacy")
    assert legacy.n_events == ev.filter(F.col("event_id") % 2 == 0).count()


def test_map_lambda_matches_unrolled_columns(spark):
    """The map pipeline equals the unrolled per-column arithmetic for
    a sample of rows."""
    got = {
        r.event_id: (r.kept_entries, r.n_kept)
        for r in _reg()["map_lambda_ops"].fn(spark, SF_UNIT).collect()
    }
    ev = (
        t(spark, SF_UNIT, "events")
        .filter(F.col("event_id") <= 3000)
        .select(
            "event_id",
            (F.get_json_object("props", "$.k").cast("int") * 2).alias("kk"),
            ((F.col("user_id") % 100).cast("int") * 3).alias("uu"),
            (F.floor("value").cast("int") * 5).alias("vv"),
        )
        .collect()
    )
    for r in ev:
        parts = [
            f"k:{r.kk}" if r.kk >= 100 else None,
            f"u:{r.uu}" if r.uu >= 100 else None,
            f"v:{r.vv}" if r.vv >= 100 else None,
        ]
        kept = [p for p in parts if p]
        assert got[r.event_id] == (",".join(kept), len(kept)), r.event_id
    assert len(got) == len(ev)


def test_leave_one_out_excludes_self(spark):
    """For a hand-built series the LOO average visibly excludes the
    current value: constant series stays constant; an outlier's own
    loo_avg is the neighbors' mean, not pulled by itself."""
    import pyspark.sql.functions as F2
    from pyspark.sql import Window as W2

    df = spark.createDataFrame(
        [(1, i, 10.0 if i != 5 else 1000.0) for i in range(1, 10)],
        ["user_id", "event_id", "value"],
    ).withColumn("ts", F2.timestamp_seconds(F2.col("event_id") * 60))
    w = W2.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, 3)
    micros = F2.round(F2.col("value") * F2.lit(1000000), 0).cast("long")
    loo_sum = (F2.sum(micros).over(w) - micros).cast("double")
    loo_cnt = F2.count(F2.lit(1)).over(w) - 1
    loo = F2.when(loo_cnt > 0, F2.round(loo_sum / F2.lit(1000000.0) / loo_cnt, 4) + F2.lit(0.0))
    rows = {r.event_id: r.l for r in df.select("event_id", loo.alias("l")).collect()}
    assert rows[5] == 10.0          # outlier's baseline is its neighbors
    assert rows[2] != 10.0          # rows whose frame spans the outlier are pulled
    assert rows[1] == 10.0          # ±3 frame of id 1 never reaches id 5
    assert rows[9] == 10.0          # nor does id 9's


def test_geometric_mean_bounds_and_identity(spark):
    """geo_mean lies within [min, max] of the group values and below
    the arithmetic mean (AM-GM); a constant series is a fixed point."""
    rows = _reg()["agg_geometric_mean"].fn(spark, SF_UNIT).collect()
    stats = {
        r.event_type: (r.lo, r.hi, r.am)
        for r in t(spark, SF_UNIT, "events")
        .filter(F.col("value") > 0)
        .groupBy("event_type")
        .agg(
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
            F.avg("value").alias("am"),
        )
        .collect()
    }
    assert rows
    for r in rows:
        lo, hi, am = stats[r.event_type]
        assert lo - 1e-3 <= r.geo_mean <= hi + 1e-3
        assert r.geo_mean <= am + 1e-3  # AM-GM


def test_session_histogram_accounts_every_session(spark):
    """Bin counts sum to the total session count derived from the
    sessionize flags, and bins partition the duration domain."""
    rows = _reg()["events_session_duration_histogram"].fn(spark, SF_UNIT).collect()
    from pyspark.sql import Window as W

    ev = t(spark, SF_UNIT, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    n_sessions = (
        ev.select(
            (
                F.lag("ts").over(w).isNull()
                | (
                    F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                    > 1800 * 1000000
                )
            )
            .cast("int")
            .alias("f")
        )
        .agg(F.sum("f"))
        .collect()[0][0]
    )
    assert sum(r.n_sessions for r in rows) == n_sessions
    for r in rows:
        assert 0 <= r.duration_bin <= 4
        assert r.min_dur_us <= r.max_dur_us


def test_label_propagation_matches_components(spark):
    """On the (dense) fixture graph the LPA fixed point must equal
    connected-component minima: every supplier in one component gets
    the global min supplier id as label."""
    rows = _reg()["graph_label_propagation"].fn(spark, SF_UNIT).collect()
    li = t(spark, SF_UNIT, "lineitem")
    n_supp = li.select("l_suppkey").distinct().count()
    min_supp = li.agg(F.min("l_suppkey")).collect()[0][0]
    # fixture co-part graph is fully connected → one community
    assert len(rows) == 1
    assert rows[0].label == min_supp
    assert rows[0].community_size == n_supp


def test_rowgroup_audit_envelopes_cover_data(spark):
    """Row-group (min, max) envelopes must cover the actual column
    extremes, and row counts must sum to the table size."""
    rows = _reg()["scan_rowgroup_stats_audit"].fn(spark, SF_UNIT).collect()
    li = t(spark, SF_UNIT, "lineitem")
    total = li.count()
    lo, hi = li.agg(F.min("l_quantity"), F.max("l_quantity")).collect()[0]
    assert sum(r.n_rows for r in rows) == total
    with_stats = [r for r in rows if r.q_min is not None]
    assert with_stats, "fixture parquet should carry column statistics"
    assert min(r.q_min for r in with_stats) == lo
    assert max(r.q_max for r in with_stats) == hi
    for r in rows:
        if r.q_min is None:
            assert not r.prunable  # no envelope → never prunable
        else:
            # prunable ⇔ envelope disjoint from [10, 20]
            assert r.prunable == (r.q_max < 10.0 or r.q_min > 20.0)


def test_weighted_median_splits_weight_mass(spark):
    """The weighted median is a real data value, and at least half
    the weight lies at-or-below it AND at least half at-or-above it
    (the defining property)."""
    rows = _reg()["agg_weighted_median"].fn(spark, SF_UNIT).collect()
    li = t(spark, SF_UNIT, "lineitem").select(
        "l_returnflag", "l_extendedprice", F.col("l_quantity").cast("bigint").alias("w")
    )
    assert rows
    for r in rows:
        grp = li.filter(F.col("l_returnflag") == r.l_returnflag)
        below = grp.filter(F.col("l_extendedprice") <= r.weighted_median_price).agg(
            F.sum("w")
        ).collect()[0][0]
        above = grp.filter(F.col("l_extendedprice") >= r.weighted_median_price).agg(
            F.sum("w")
        ).collect()[0][0]
        assert 2 * below >= r.total_weight, r.l_returnflag
        assert 2 * above >= r.total_weight, r.l_returnflag
        assert (
            grp.filter(F.col("l_extendedprice") == r.weighted_median_price).count() > 0
        )


def test_incremental_manifest_reads_only_new_file(spark):
    """The manifest anti-join result must equal a direct read of the
    unprocessed bucket (event_id % 3 == 2)."""
    got = {
        r.event_type: r.n_new_rows
        for r in _reg()["scan_incremental_manifest"].fn(spark, SF_UNIT).collect()
    }
    want = {
        r.event_type: r.n
        for r in t(spark, SF_UNIT, "events")
        .filter(F.pmod("event_id", F.lit(3)) == 2)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and got


def test_trimmed_mean_bounds_and_coverage(spark):
    """The trimmed mean lies strictly inside the full min/max, keeps
    ~90% of each group's rows, and is no farther from the plain mean
    than the trimming could move it."""
    rows = _reg()["agg_trimmed_mean"].fn(spark, SF_UNIT).collect()
    li = t(spark, SF_UNIT, "lineitem")
    full = {
        r.l_linestatus: (r.n, r.lo, r.hi)
        for r in li.groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
        .collect()
    }
    assert rows
    for r in rows:
        n, lo, hi = full[r.l_linestatus]
        assert lo < r.trimmed_mean < hi
        assert 0.85 * n <= r.n_kept <= 0.92 * n  # ~90% kept


def test_stl_decomposition_identity(spark):
    """value − trend = seasonal + residual (within the 4-dp output
    rounding) for every emitted day, and each weekday's seasonal is
    a single consistent value."""
    rows = _reg()["ts_stl_decompose_lite"].fn(spark, SF_UNIT).collect()
    assert rows
    seas_by_dow = {}
    for r in rows:
        assert abs((r.value - r.trend) - (r.seasonal_dow + r.residual)) < 2e-3
        seas_by_dow.setdefault(r.dow, set()).add(r.seasonal_dow)
    assert all(len(v) == 1 for v in seas_by_dow.values())


def test_gini_matches_bruteforce_and_bounds(spark):
    """The two-level-ranked Gini equals the brute-force single-sort
    formula exactly and lies in [0, 1)."""
    row = _reg()["agg_gini_activity"].fn(spark, SF_UNIT).collect()[0]
    xs = sorted(
        (r.n, r.user_id)
        for r in t(spark, SF_UNIT, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    n = len(xs)
    s1 = sum(x for x, _ in xs)
    s2 = sum(i * x for i, (x, _) in enumerate(xs, 1))
    want = round(2.0 * s2 / (n * 1.0 * s1) - (n + 1.0) / n, 6) + 0.0
    assert row.n_users == n and row.n_events == s1
    assert abs(row.gini - want) < 1e-9
    assert 0.0 <= row.gini < 1.0


def test_mad_brute_force_equality(spark):
    """MAD via the two-pass percentile engine equals the brute-force
    numpy computation on collected values."""
    import numpy as np

    rows = {
        r.l_linestatus: (r.median_price, r.mad_price)
        for r in _reg()["agg_median_abs_deviation"].fn(spark, SF_UNIT).collect()
    }
    li = t(spark, SF_UNIT, "lineitem").select("l_linestatus", "l_extendedprice").collect()
    by_g = {}
    for r in li:
        by_g.setdefault(r.l_linestatus, []).append(r.l_extendedprice)
    assert set(rows) == set(by_g)
    for g, xs in by_g.items():
        med = float(np.percentile(xs, 50, method="linear"))
        mad = float(np.percentile(np.abs(np.array(xs) - med), 50, method="linear"))
        assert abs(rows[g][0] - round(med, 2)) < 1e-9, g
        assert abs(rows[g][1] - round(mad, 2)) < 0.02, g  # interp ulp tolerance


def test_split_leakage_accounts_all_pairs(spark):
    """Every near-dup pair lands in exactly one (split_lo, split_hi)
    cell; pair total matches the generator; leak rows are exactly the
    cross-split cells; labels reproduce the split operator's."""
    from hbase_sep_spark.operators.dedup import minhash_near_dup_pairs

    rows = _reg()["pipeline_split_leakage_audit"].fn(spark, SF_UNIT).collect()
    docs = t(spark, SF_UNIT, "documents")
    n_pairs = minhash_near_dup_pairs(docs, threshold=0.5).count()
    assert sum(r.n_pairs for r in rows) == n_pairs and n_pairs > 0
    for r in rows:
        assert r.split_lo <= r.split_hi
        assert r.leaks == (r.split_lo != r.split_hi)
        assert 0.5 <= r.avg_similarity <= 1.0


def test_token_budget_alloc_sums_exactly_to_budget(spark):
    """Largest-remainder apportionment invariant: allocations are
    non-negative, sum to EXACTLY the 100k budget, and are weakly
    monotone in source token mass (√-proportional shares can't
    invert an ordering by more than the ±1 remainder token)."""
    from hbase_sep_spark.registry import load_all

    q = load_all()["pipeline_token_budget_alloc"]
    rows = q.fn(spark, SF_UNIT).collect()
    allocs = {r["source"]: r["alloc_tokens"] for r in rows}
    tokens = {r["source"]: r["tokens"] for r in rows}
    assert sum(allocs.values()) == 100000
    assert all(a >= 0 for a in allocs.values())
    for s1 in allocs:
        for s2 in allocs:
            if tokens[s1] > tokens[s2]:
                assert allocs[s1] >= allocs[s2] - 1


def test_reservoir_sample_fixed_size_and_deterministic(spark):
    """Every key yields exactly min(k, n_key) rows, and a repeat run
    (fresh plan) yields the identical sample — the reproducibility
    property rand() reservoirs lack."""
    from hbase_sep_spark.registry import load_all

    q = load_all()["sample_reservoir_topk_hash"]
    a = {(r["event_type"], r["event_id"]) for r in q.fn(spark, SF_UNIT).collect()}
    b = {(r["event_type"], r["event_id"]) for r in (q.raw or q.fn)(spark, SF_UNIT).collect()}
    assert a == b
    from collections import Counter

    per_key = Counter(t for t, _ in a)
    assert all(v == 20 for v in per_key.values())  # sf0.001 has ≥20 per type


def test_bfs_levels_structure(spark):
    """BFS sanity on sf0.001: exactly one root at level 0 ('p1'),
    level-1 equals part 1's distinct supplier set, and every level
    is within the bipartite diameter bound."""
    import pyspark.sql.functions as F

    from hbase_sep_spark.io import t as _t
    from hbase_sep_spark.registry import load_all

    q = load_all()["graph_bfs_levels"]
    rows = {r["node"]: r["lvl"] for r in q.fn(spark, SF_UNIT).collect()}
    assert rows["p1"] == 0
    assert sum(1 for v in rows.values() if v == 0) == 1
    supp1 = {
        "s%d" % r["l_suppkey"]
        for r in _t(spark, SF_UNIT, "lineitem")
        .filter(F.col("l_partkey") == 1)
        .select("l_suppkey")
        .distinct()
        .collect()
    }
    assert {n for n, v in rows.items() if v == 1} == supp1
    assert max(rows.values()) <= 6


def test_kmeans_lloyd_inertia_non_increasing(spark):
    """Lloyd's theorem: each assign+update round cannot increase
    total inertia; trajectory must also be deterministic across
    fresh builds (first-k init + lowest-cid tie rule)."""
    from hbase_sep_spark.registry import load_all

    q = load_all()["vec_kmeans_lloyd"]
    rows = sorted(
        (q.raw or q.fn)(spark, SF_UNIT).collect(), key=lambda r: r["iteration"]
    )
    inertias = [r["inertia"] for r in rows]
    assert len(inertias) == 3
    assert all(b <= a + 1e-9 for a, b in zip(inertias, inertias[1:]))
    rows2 = sorted(
        (q.raw or q.fn)(spark, SF_UNIT).collect(), key=lambda r: r["iteration"]
    )
    assert [r["inertia"] for r in rows2] == inertias


def test_mwu_and_ks_match_bruteforce(spark):
    """Semantic pin for the two-level-rank statistics: recompute
    Mann-Whitney U and KS D by brute force in Python on sf0.001 and
    compare exactly (U on the x2 integer grid) / to 1e-12 (D)."""
    from collections import Counter

    import pyspark.sql.functions as F

    from hbase_sep_spark.io import t as _t
    from hbase_sep_spark.registry import load_all

    rows = (
        _t(spark, SF_UNIT, "events")
        .select("value", F.dayofweek("ts").isin(1, 7).alias("we"))
        .collect()
    )
    a = sorted(r["value"] for r in rows if r["we"])
    b = sorted(r["value"] for r in rows if not r["we"])
    n1, n2 = len(a), len(b)
    # brute-force tie-averaged rank sum for group A
    allv = sorted(a + b)
    first = {}
    cnt = Counter(allv)
    pos = 1
    for v in sorted(cnt):
        first[v] = pos
        pos += cnt[v]
    r_a = sum(first[v] + (cnt[v] - 1) / 2 for v in a)
    u2_expected = int(2 * r_a) - n1 * (n1 + 1)

    q = load_all()["agg_mannwhitney_u"]
    got = q.fn(spark, SF_UNIT).collect()[0]
    assert got["n_weekend"] == n1 and got["n_weekday"] == n2
    assert got["u2_weekend"] == u2_expected

    # brute-force KS D over the pooled support
    import bisect

    d_expected = max(
        abs(bisect.bisect_right(a, v) / n1 - bisect.bisect_right(b, v) / n2)
        for v in sorted(set(allv))
    )
    ks = load_all()["agg_ks_test"].fn(spark, SF_UNIT).collect()[0]
    assert abs(ks["ks_d"] - round(d_expected, 6)) < 1e-9


def test_lift_bounds_and_support_consistency(spark):
    """Lift sanity on sf0.001: supports positive, pair support never
    exceeds either marginal, and lift > 0."""
    from hbase_sep_spark.registry import load_all

    q = load_all()["events_type_cooccurrence_lift"]
    rows = q.fn(spark, SF_UNIT).collect()
    assert rows
    for r in rows:
        assert r["n_ab"] > 0 and r["lift"] > 0
        assert r["type_a"] < r["type_b"]


def test_incremental_minhash_upsert_consistent(spark):
    """The round-12 incremental signature-upsert audit: the
    incrementally-maintained pair set (carried-forward + delta-
    touching rederive) must equal the from-scratch run on every row,
    and the injected exact copies must surface as est_jaccard = 1.0
    pairs under their new ids."""
    from hbase_sep_spark.io import t
    from hbase_sep_spark.registry import load_all

    reg = load_all()
    df = reg["dedup_minhash_incremental_upsert"].fn(spark, SF_UNIT)
    rows = df.collect()
    assert rows, "no pairs at all — the copy injection is broken"
    assert all(r["consistent"] for r in rows), [
        r for r in rows if not r["consistent"]
    ][:5]
    # fresh ids are minted strictly above the corpus max (ADVICE-r12:
    # offset derived from the data, not a literal)
    max_id = t(spark, SF_UNIT, "documents").agg({"doc_id": "max"}).first()[0]
    exact = [r for r in rows if r["id_b"] > max_id and r["est_jaccard"] == 1.0]
    assert exact, "expected new-doc exact-copy pairs with est_jaccard 1.0"


def test_lsh_touching_pairs_subset_of_full(spark):
    """lsh_candidate_pairs_touching must emit exactly the full
    candidate set restricted to pairs with >= 1 delta member — on a
    tiny frame where both can be enumerated."""
    from hbase_sep_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_candidate_pairs_touching,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "the quick brown fox jumps over a lazy dog today"),
            (4, "completely different text about spark partitions"),
            (5, "completely different text about spark partitions"),
        ],
        ["doc_id", "text"],
    )
    sig = minhash_signatures(docs)
    full = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sig).collect()}
    delta = spark.createDataFrame([(4,), (5,)], ["doc_id"])
    touching = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs_touching(sig, delta).collect()
    }
    want = {p for p in full if p[0] in (4, 5) or p[1] in (4, 5)}
    assert touching == want
