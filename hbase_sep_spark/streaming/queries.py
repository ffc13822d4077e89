"""§2.10 Streaming queries + §2.1 stream_sep_source.

Each callable runs a REAL Structured Streaming query over the events
feed (`sep_events.read_stream`: the feed cut into per-batch parquet
slices, read by Spark's file source one slice per trigger), drives it
to completion with processAllAvailable() — the deterministic
finite-replay form of a subscription — and returns the materialized
result. All are rows-only checks by design
(SURVEY §2.10): DuckDB has no streaming semantics to oracle against.

Watermarks/windows follow the events fixture (30 days of data,
microsecond ts): 1-day tumbling, 1-day/6-h sliding, 30-min sessions,
1-h watermark.
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.streaming import DataStreamWriter

from hbase_sep_spark.io import EVENT_SCHEMA, scratch_dir, t
from hbase_sep_spark.registry import register
from hbase_sep_spark.sources.sep_events import feed_batch_size, feed_total, read_stream

SECTION = "2.10"

_COUNTER = itertools.count()


def _feed(sf_dir: str) -> str:
    """A fixture's events feed: one file or a segment directory."""
    return f"{sf_dir}/events.parquet"


def _drive(spark: SparkSession, *writers: DataStreamWriter) -> list[str]:
    """Start every configured writer on a fresh checkpoint, drain them
    all, and return their checkpoint dirs in writer order.

    All writers are live before any drains — concurrent consumers, not
    sequential replays.

    Shuffle partitions are pinned to 8 for the queries' lifetime (and
    the caller's setting restored after): each stateful operator
    keeps one state store PER shuffle partition per micro-batch, so a
    session-default 200 turns a 10-batch replay into 2000 state-store
    round trips — a 5-10× slowdown measured with a default-conf
    session. Checkpoints are fresh per run, under the session's scratch
    dir, so the pinned value never conflicts with a prior run's state
    layout.
    """
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "8")
    ckpts = [tempfile.mkdtemp(dir=scratch_dir(spark, "checkpoints")) for _ in writers]
    live = []
    try:
        for w, ckpt in zip(writers, ckpts):
            live.append(w.option("checkpointLocation", ckpt).start())
        for q in live:
            q.processAllAvailable()
        return ckpts
    finally:
        for q in live:
            q.stop()
        spark.conf.set(key, old)


def _memory_sink(stream_df: DataFrame, mode: str = "append") -> tuple[DataStreamWriter, str]:
    """A memory-sink writer for `stream_df` and its table name."""
    name = f"sep_stream_{next(_COUNTER)}"
    return stream_df.writeStream.outputMode(mode).format("memory").queryName(name), name


def _run_to_memory(stream_df: DataFrame, mode: str = "append") -> DataFrame:
    """Drive the streaming query over the whole feed, return the
    memory-sink table as a batch DataFrame."""
    spark = stream_df.sparkSession
    writer, name = _memory_sink(stream_df, mode)
    _drive(spark, writer)
    return spark.table(name)


def _final_rows(rows: DataFrame, *order: str) -> DataFrame:
    """Each user_id's row that is largest on `order`. For an
    update-mode memory sink, which holds one row per (key,
    micro-batch), that is the key's final state when `order` leads
    with a count carried in state (it grows with every batch the key
    is in)."""
    w = Window.partitionBy("user_id").orderBy(*[F.desc(c) for c in order])
    return rows.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")


def _fresh_dir(spark: SparkSession, name: str) -> str:
    """An empty session-scoped scratch dir for a sink's output."""
    path = scratch_dir(spark, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _epoch_sink(out_root: str, *aggs):
    """An idempotent micro-batch sink (the EventListener.processEvents
    analog): each batch's per-type `aggs` overwrite a deterministic
    epoch-keyed parquet dir, so a redelivered batch replaces itself."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(*aggs)
            .withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .parquet(os.path.join(out_root, f"epoch={int(epoch_id)}"))
        )

    return sink


def _read_epochs(spark: SparkSession, out_root: str) -> DataFrame:
    """The union of every epoch an _epoch_sink wrote."""
    return spark.read.option("basePath", out_root).parquet(out_root + "/epoch=*")


def _publish(merged: DataFrame, state_dir: str, epoch_id: int) -> None:
    """Make `merged` the `current` version of a parquet state table:
    write a staging dir, rename it to the epoch's version `v<epoch>`,
    and copy that over `current`."""
    staging = os.path.join(state_dir, f"staging_{epoch_id}")
    merged.write.mode("overwrite").parquet(staging)
    refreshed = os.path.join(state_dir, f"v{epoch_id}")
    os.rename(staging, refreshed)
    current = os.path.join(state_dir, "current")
    shutil.rmtree(current, ignore_errors=True)
    shutil.copytree(refreshed, current)


def _current(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The published `current` version of a parquet state table, or
    None before the first publish."""
    path = os.path.join(state_dir, "current")
    return spark.read.parquet(path) if os.path.exists(path) else None


def _content_hash(df: DataFrame) -> tuple[int, int]:
    """Order-independent content fingerprint of `df`: (row count, sum
    of per-row xxhash64 over its columns in name order). The sum is
    decimal(38,0): exact and overflow-free at any row count (a raw
    long sum of xxhash64 values is ANSI ARITHMETIC_OVERFLOW within a
    few rows). Replay order and partitioning cannot affect it."""
    row_h = F.xxhash64(F.concat_ws("|", *[F.col(c).cast("string") for c in sorted(df.columns)]))
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(row_h.cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"]) if row["h"] is not None else 0


def _timed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch events table under the transport's dead-letter policy
    (NULL ts / event_id never enter the feed): what a replay can
    deliver."""
    return t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_id").isNotNull()
    )


def _latest_per_key(ev: DataFrame, carried: tuple[tuple[str, str], ...]) -> DataFrame:
    """The stateful argmax-(ts, event_id) consumer: per user_id, the
    newest event's `carried` (column, type) values across all
    micro-batches, in explicit applyInPandasWithState state, plus
    n_seen (events delivered for the key). Output: user_id,
    last_event_id, last_<column>..., n_seen — each key's final state.

    max-(ts, event_id) state is idempotent under duplicate delivery,
    so redelivered events cannot move it (only n_seen counts them).
    last_ts is INTEGER ticks (astype('int64') of the arrow datetime),
    never float seconds: at 2026 epochs (~1.7e18 ns) float64 quantizes
    to ~256 ns and distinct timestamps would collapse."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    empty = {"double": 0.0, "string": "none"}
    to_py = {"double": float, "string": str}
    fields = "".join(f"last_{c} {typ}, " for c, typ in carried)

    def step(key, pdfs, state: GroupState):
        last_ts, last_eid, *last, n_seen = (
            state.get if state.exists else (-(1 << 62), -1, *[empty[typ] for _, typ in carried], 0)
        )
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n_seen += len(pdf)
            ts = pdf["ts"].astype("int64")
            # Vectorized argmax of (ts, event_id): rows at the max ts,
            # tie-broken by the largest event_id among them.
            i = pdf["event_id"][ts == ts.max()].idxmax()
            cand = (int(ts[i]), int(pdf["event_id"][i]))
            if cand > (last_ts, last_eid):
                last_ts, last_eid = cand
                last = [to_py[typ](pdf[c][i]) for c, typ in carried]
        state.update((last_ts, last_eid, *last, n_seen))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "last_event_id": [last_eid],
                **{f"last_{c}": [v] for (c, _), v in zip(carried, last)},
                "n_seen": [n_seen],
            }
        )

    updated = ev.groupBy("user_id").applyInPandasWithState(
        step,
        outputStructType=f"user_id long, last_event_id long, {fields}n_seen long",
        stateStructType=f"last_ts long, last_event_id long, {fields}n_seen long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _final_rows(_run_to_memory(updated, mode="update"), "n_seen", "last_event_id")


@register("stream_sep_source", oracle=None, section="2.1")
def stream_sep_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SEP subscription itself: replay the full feed through the
    sep_events transport in offset-tracked micro-batches; the result is
    exactly the batch events table (stream/batch duality)."""
    return _run_to_memory(read_stream(spark, _feed(sf_dir)))


@register("stream_tumbling_count", oracle=None, section=SECTION)
def stream_tumbling_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events per type per 1-day tumbling window, with a 1-hour
    watermark bounding state."""
    ev = read_stream(spark, _feed(sf_dir))
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = _run_to_memory(agg, mode="complete")
    return out.select(
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "n_events",
    )


@register("stream_sliding_avg", oracle=None, section=SECTION)
def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (1 day, slide 6 h) average event value."""
    ev = read_stream(spark, _feed(sf_dir))
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day", "6 hours").alias("win"))
        .agg(F.round(F.avg("value"), 4).alias("avg_value"), F.count(F.lit(1)).alias("n_events"))
    )
    out = _run_to_memory(agg, mode="complete")
    return out.select(
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "avg_value",
        "n_events",
    )


@register("stream_session_window", oracle=None, section=SECTION)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap —
    state is merged session ranges per key."""
    ev = read_stream(spark, _feed(sf_dir))
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = _run_to_memory(agg, mode="complete")
    return out.select(
        "user_id",
        F.date_format("sess.start", "yyyy-MM-dd HH:mm:ss").alias("sess_start"),
        F.date_format("sess.end", "yyyy-MM-dd HH:mm:ss").alias("sess_end"),
        "n_events",
    )


@register("stream_watermark_late", oracle=None, section=SECTION)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data handling: append-mode windowed counts where only
    windows the watermark has passed are emitted — the multi-batch
    replay advances the watermark batch by batch, closing windows as
    it goes (rows appear per closed window, late events beyond the
    1-hour threshold would be dropped)."""
    ev = read_stream(spark, _feed(sf_dir), batch_size=feed_batch_size(_feed(sf_dir), 1000, 10))
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = _run_to_memory(agg, mode="append")
    return out.select(
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "n_events",
    )


@register("stream_dedup_watermark", oracle=None, section=SECTION)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once view of an at-least-once feed: the source
    re-delivers every 5th event of the previous batch (SEP redelivery
    semantics) and dropDuplicatesWithinWatermark collapses them —
    output count equals the clean feed."""
    ev = read_stream(
        spark, _feed(sf_dir), batch_size=feed_batch_size(_feed(sf_dir), 1000, 10), redeliver_every=5
    )
    dedup = ev.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(["event_id"])
    out = _run_to_memory(dedup)
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique_events"))


@register("stream_stateful_latest", oracle=None, section=SECTION)
def stream_stateful_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key running state via applyInPandasWithState: the SEP
    consumer's materialized 'current row' — latest (ts, value) per
    user, carried across micro-batches in explicit state."""
    return stateful_latest_over(spark, read_stream(spark, _feed(sf_dir)))


def stateful_latest_over(spark: SparkSession, ev: DataFrame) -> DataFrame:
    """The stateful latest-per-key pipeline over ANY events stream.

    Split out of stream_stateful_latest so the at-least-once property
    test (tests/test_streaming.py) can drive the SAME product code
    over a redelivering feed: the converged state must equal the
    batch events_latest_per_key result — the SEP invariant SURVEY
    §5.4 names. The registered query is this pipeline over the clean
    subscription."""
    return _latest_per_key(ev, (("value", "double"),))


@register("stream_bootstrap_then_tail", oracle=None, section=SECTION)
def stream_bootstrap_then_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-subscriber bootstrap — the CDC pattern every late joiner
    needs: a BATCH snapshot of the feed up to position K (cheap bulk
    parquet read, no replay) plus a STREAMING tail from offset K
    onward (the replay started at feed row K). The union must equal
    the full TIMED feed exactly — no gap, no overlap at the seam (NULL event-times are dead-lettered
    by the transport on both phases, round-8 null-ts sweep).
    Asserted against the batch table here (the returned frame
    aggregates both phases with a phase tag).

    Scale shape: the seam is a PREDICATE, not an order statistic. The
    boundary key — the (ts, event_id) at feed position K — comes from
    one footer read plus one row-group-sliced single-row read (the
    same arithmetic the source's offsets use; driver cost is O(1)
    regardless of feed size), and the snapshot filters the RAW
    physical-ts scan with `(ts, event_id) < boundary`. For the
    native encodings (int64 epoch of any unit, timestamp_ntz) the
    predicate sits directly on the scanned column and reaches parquet
    as PushedFilters, pruning row groups at the source; on the
    exotic-writer recovery paths (a uint64 epoch scanning as
    decimal(20,0), sub-64-bit signed ints) it sits above the
    bigint-normalizing cast and filters post-scan — correctness over
    pruning there, since Spark's parquet filter conversion does not
    push predicates through a cast (round-12 ADVICE). The
    previous shape (`orderBy(ts, event_id).limit(K)`) was a global
    sort plus a single-point limit — a non-starter at 100 TB."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from hbase_sep_spark.io import events_physical, events_raw
    from hbase_sep_spark.sources.sep_events import _read_table

    path = _feed(sf_dir)
    total = feed_total(path)  # footer-only; segment-dir aware
    k = total // 2

    # Integer-epoch feeds carry NO unit annotation (nanos under
    # nanosAsLong, or a raw Kafka/Debezium int64 in s/ms/µs/ns):
    # events_physical widens them to bigint and classifies the unit
    # from footer stats like io.t() does, so the seam literal and
    # predicate are 64-bit integers in the feed's own unit.
    raw, to_session_ts, int_unit = events_physical(events_raw(spark, sf_dir), path)
    # Boundary = the first row the TAIL will deliver. The stream
    # dead-letters NULL ts / event_id rows (io.events_stream — a record
    # with no time has no position in the (ts, event_id) replay
    # order), so that is the first such complete raw row at/after
    # position k; scan forward in bounded slices until one is found.
    # NULL-ts rows fall out of the snapshot too: the tuple predicate
    # below is NULL (not true) for them, so seam and tail agree the
    # dead-letter rows belong to neither phase.
    boundary = None
    lo = k
    while lo < total:
        hi = min(total, lo + 4096)
        rows = _read_table(path, lo, hi)
        rows = rows.filter(pc.and_(pc.is_valid(rows["ts"]), pc.is_valid(rows["event_id"])))
        if rows.num_rows:
            boundary = rows.slice(0, 1)
            break
        lo = hi
    if boundary is None:
        # Empty feed (round-7 empty-feed sweep) or an all-NULL-ts
        # tail: the tail delivers nothing, so the snapshot is every
        # timed row before the end of the feed.
        seam = F.col("ts").isNotNull() if total else F.lit(False)
    else:
        # The feed is stored in (ts, event_id) order (asserted in
        # tests), so "position < K" is exactly the tuple predicate
        # "(ts, event_id) < boundary". The literal is the boundary's
        # physical ts: an integer in the feed's unit, else its UTC wall
        # time as a foldable timestamp_ntz, so the predicate is
        # pushable.
        b_ts = boundary["ts"]
        if int_unit:
            b_lit = F.lit(b_ts.cast(pa.int64())[0].as_py())
        else:
            b_lit = F.lit(b_ts.cast(pa.timestamp("us"), safe=False)[0].as_py()).cast(
                "timestamp_ntz"
            )
        b_eid = F.lit(boundary["event_id"].cast(pa.int64())[0].as_py())
        seam = (F.col("ts") < b_lit) | ((F.col("ts") == b_lit) & (F.col("event_id") < b_eid))
    snapshot = (
        raw.filter(seam)
        .withColumn("ts", to_session_ts)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("phase", F.lit("snapshot"))
    )

    # Phase 2: stream the tail starting at offset k.
    tail_stream = read_stream(spark, path, start_row=k)
    tail = _run_to_memory(tail_stream).withColumn("phase", F.lit("tail"))

    return snapshot.unionByName(tail).groupBy("phase").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )


@register("stream_latest_op_wins", oracle=None, section=SECTION)
def stream_latest_op_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-aware stateful consumer: the streaming form of
    events_latest_op_wins. Mutation type derives from the event class
    (`error` ⇒ row tombstone, matching queries/mutations.py); per-key
    state tracks the newest mutation across micro-batches, and a key
    whose final mutation is a delete is ABSENT from the snapshot —
    the HBase tombstone masking a CDC consumer must implement.
    Asserted equal to the batch query in tests/test_mutations.py."""
    ev = read_stream(spark, _feed(sf_dir)).withColumn(
        "op", F.when(F.col("event_type") == "error", F.lit("delete")).otherwise(F.lit("put"))
    )
    # Each key's final state, then the tombstone: deleted keys drop
    # out of the snapshot.
    return (
        _latest_per_key(ev, (("op", "string"), ("value", "double")))
        .filter(F.col("last_op") == "put")
        .select("user_id", "last_event_id", "last_value")
    )


@register("stream_static_join", oracle=None, section=SECTION)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream⋈static enrichment: the event stream joined to a static
    dimension (event-type tiers) — the static side broadcasts into
    every micro-batch."""
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
    ev = read_stream(spark, _feed(sf_dir))
    joined = ev.join(F.broadcast(tiers), "event_type")
    out = _run_to_memory(joined)
    return out.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2).cast("double").alias("sum_value"),
    )


@register("stream_foreach_batch_sink", oracle=None, section=SECTION)
def stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent micro-batch sink — the EventListener.processEvents
    analog ([R: sep-api/.../EventListener.java — UNVERIFIED]): each
    micro-batch lands in a deterministic epoch-keyed parquet dir
    (overwrite ⇒ redelivered batches are idempotent), then the union
    of all epochs is read back."""
    out_root = _fresh_dir(spark, "foreach_sink")
    ev = read_stream(spark, _feed(sf_dir), batch_size=feed_batch_size(_feed(sf_dir), 2500, 4))
    sink = _epoch_sink(out_root, F.count(F.lit(1)).alias("n_events"))
    _drive(spark, ev.writeStream.foreachBatch(sink))
    return _read_epochs(spark, out_root).groupBy("event_type").agg(F.sum("n_events").alias("n_events"))


@register("stream_sink_exactly_once_audit", oracle=None, section=SECTION)
def stream_sink_exactly_once_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once-through-idempotency AUDIT of the foreachBatch
    sink (VERDICT-r11 item 1a): foreachBatch is at-least-once — after
    a failure between sink write and checkpoint commit, Spark RERUNS
    the same micro-batch with the SAME epoch_id, so the sink contract
    (the SEP EventListener's: process duplicates harmlessly
    [R: sep-api/.../EventListener.java — UNVERIFIED, SURVEY §0]) is that
    applying a batch twice leaves output identical to applying it
    once. stream_foreach_batch_sink demonstrates the idempotent
    epoch-keyed-overwrite sink; this query PROVES the property: every
    micro-batch is applied twice with its epoch_id (the redelivery),
    the sink partition's content fingerprint (row count + sum of
    per-row xxhash64 — order-independent) is captured after each
    application, and the output must show fingerprints identical per
    epoch AND the union of all epochs summing to the clean feed.

    Driver state is the audit log itself: three longs per epoch
    (bounded by epoch count, not data). The per-application
    fingerprint is a 1-row aggregate collect inside foreachBatch —
    the same bounded-stats shape as the quantile/centroid collects.

    rows-only: one row per micro-batch (feed_rows / batch_size
    epochs), columns (epoch, n_rows, replay_identical, totals_match);
    a correct sink yields TRUE in both flag columns on every row
    (asserted in tests/test_streaming.py)."""
    out_root = _fresh_dir(spark, "sink_x1_audit")
    audit: dict[int, tuple[int, int, int, int]] = {}
    apply_batch = _epoch_sink(
        out_root,
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )

    def sink_batch(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        path = os.path.join(out_root, f"epoch={int(epoch_id)}")
        apply_batch(batch_df, epoch_id)
        n1, h1 = _content_hash(s.read.parquet(path))
        # The redelivery: Spark re-running this micro-batch after a
        # pre-commit failure calls the sink again with the same
        # epoch_id and the same rows.
        apply_batch(batch_df, epoch_id)
        n2, h2 = _content_hash(s.read.parquet(path))
        audit[int(epoch_id)] = (n1, h1, n2, h2)

    # Batch size scales with feed volume (footer-only count): the
    # audit pays 2 writes + 2 fingerprint aggregates PER EPOCH, so the
    # epoch count stays bounded (~8) instead of O(feed/2500) driver
    # round trips at scale.
    ev = read_stream(spark, _feed(sf_dir), batch_size=feed_batch_size(_feed(sf_dir), 2500, 8))
    _drive(spark, ev.writeStream.foreachBatch(sink_batch))

    schema = "epoch long, n_rows long, replay_identical boolean, totals_match boolean"
    if not audit:
        # Zero-row feed (round-10 zero-row class): no micro-batch ever
        # fired, so there are no epoch dirs to read back — empty in,
        # empty out.
        return spark.createDataFrame([], schema)

    # Totals: the union of all epoch partitions must equal the batch
    # table's per-type counts (the feed delivered exactly once into
    # the sink). Both sides are tiny aggregates; the compare is one
    # small join counted driver-side.
    sunk = _read_epochs(spark, out_root).groupBy("event_type").agg(F.sum("n_events").alias("n_sunk"))
    expected = (
        _timed_events(spark, sf_dir).groupBy("event_type").agg(F.count(F.lit(1)).alias("n_expected"))
    )
    n_mismatch = (
        sunk.join(expected, "event_type", "full_outer")
        .filter(
            ~F.col("n_sunk").eqNullSafe(F.col("n_expected"))
        )
        .count()
    )

    rows = [
        (e, n1, n1 == n2 and h1 == h2, n_mismatch == 0)
        for e, (n1, h1, n2, h2) in sorted(audit.items())
    ]
    return spark.createDataFrame(rows, schema)


@register("stream_multi_subscription_fanout", oracle=None, section=SECTION)
def stream_multi_subscription_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-subscription fan-out (VERDICT-r11 item 3) — SEP's core
    multi-consumer story [R: sep-impl/.../SepConsumer.java, one ZK
    offset path per subscription name — UNVERIFIED, SURVEY §0]: two
    subscriptions over ONE feed, each with
    its own durable checkpoint, running CONCURRENTLY. Each must
    replay the complete feed, and the offset logs must never
    cross-contaminate — proven here by giving the subscriptions
    different batch sizes, so their offset sequences are structurally
    incompatible: any cross-talk (a shared or clobbered offset log)
    would skip or duplicate a range in one of them and break the
    content-hash equality.

    Output: one row per subscription with its row count, its batch
    count read from its OWN checkpoint offset log (different between
    the two — the independence witness), and two equality flags:
    matches_peer (both subscriptions saw byte-identical content) and
    matches_feed (that content is exactly the batch events table
    under the transport's dead-letter policy). The content hash is
    the order-independent sum of per-row xxhash64 — replay order and
    partitioning cannot affect it.

    rows-only: 2 rows; all flags TRUE on a correct transport
    (asserted in tests/test_streaming.py)."""
    # Batch sizes scale with feed volume (footer-only count) so the
    # replay stays a bounded number of micro-batches at any SF; the
    # two subscriptions keep structurally different offset sequences
    # (12 vs 5 batches) at every scale.
    feed = _feed(sf_dir)
    subs = (("sub_a", feed_batch_size(feed, 900, 12)), ("sub_b", feed_batch_size(feed, 2100, 5)))
    sinks = [_memory_sink(read_stream(spark, feed, batch_size=bs)) for _name, bs in subs]
    ckpts = _drive(spark, *(writer for writer, _table in sinks))

    cols = [fld.name for fld in EVENT_SCHEMA.fields]
    feed_n, feed_h = _content_hash(_timed_events(spark, sf_dir).select(*cols))
    sigs = {}
    for (name, _bs), (_writer, table), ckpt in zip(subs, sinks, ckpts):
        n, h = _content_hash(spark.table(table).select(*cols))
        # One offset-log entry per committed micro-batch; skip the
        # local-fs checksum siblings (".N.crc") or the count doubles.
        n_batches = len(
            [f for f in os.listdir(os.path.join(ckpt, "offsets")) if not f.startswith(".")]
        )
        sigs[name] = (n, h, n_batches)

    (na, ha, ba), (nb, hb, bb) = sigs["sub_a"], sigs["sub_b"]
    rows = [
        ("sub_a", na, ba, ha == hb and na == nb, ha == feed_h and na == feed_n),
        ("sub_b", nb, bb, ha == hb and na == nb, hb == feed_h and nb == feed_n),
    ]
    return spark.createDataFrame(
        rows,
        "subscription string, n_rows long, n_batches long, "
        "matches_peer boolean, matches_feed boolean",
    )


@register("stream_stream_interval_join", oracle=None, section=SECTION)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream⋈stream interval join: purchases matched to the same
    user's clicks within the preceding hour — two independent
    sep_events subscriptions joined with watermarks bounding both
    sides' state (the streaming form of join_interval_events; Spark
    drops state outside the watermark+interval window, so state is
    bounded however long the feeds run)."""
    purchases = (
        read_stream(spark, _feed(sf_dir))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        read_stream(spark, _feed(sf_dir))
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            p_user = c_user AND
            c_ts >= p_ts - INTERVAL 1 HOUR AND
            c_ts <= p_ts
            """
        ),
    )
    out = _run_to_memory(joined)
    return out.select("purchase_id", "click_id", F.col("p_user").alias("user_id"))


@register("stream_incremental_upsert_view", oracle=None, section=SECTION)
def stream_incremental_upsert_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical SEP consumer: maintain a materialized
    'current row per key' view from the change feed, incrementally.

    Each micro-batch upserts into a parquet-backed state table:
    new per-key maxima replace old rows (anti-join + union — the
    MERGE INTO emulation for a plain parquet store; with Delta/Iceberg
    this is a MERGE). Batch-internal dedup picks the latest (ts,
    event_id) per key first, so redeliveries and intra-batch updates
    collapse. The final view must equal the batch latest-per-key
    query — asserted in tests/test_streaming.py.
    """
    state_dir = _fresh_dir(spark, "upsert_view")

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        latest = _final_rows(
            batch_df.select("user_id", "ts", "event_id", "event_type", "value"), "ts", "event_id"
        )
        existing = _current(batch_df.sparkSession, state_dir)
        if existing is not None:
            latest = existing.join(latest.select("user_id"), "user_id", "left_anti").unionByName(latest)
        _publish(latest, state_dir, epoch_id)

    ev = read_stream(
        spark, _feed(sf_dir), batch_size=feed_batch_size(_feed(sf_dir), 2000, 5), redeliver_every=7
    )
    _drive(spark, ev.writeStream.foreachBatch(upsert))
    return spark.read.parquet(os.path.join(state_dir, "current"))


@register("stream_scd2_maintain", oracle=None, section=SECTION)
def stream_scd2_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD-type-2 maintenance — the streaming twin of
    events_scd2_history and the canonical CDC-consumer deliverable: a
    dimension table where every key version carries [valid_from,
    valid_to) effectivity, maintained one micro-batch at a time
    (close the affected keys' open rows at the batch's first new ts
    per key, append the batch's versions with within-batch lead()).
    tests/test_streaming.py asserts the maintained table equals the
    batch window query over the whole feed — convergence evidence a
    rows-only check alone doesn't give.

    At-least-once input: the source redelivers ranges
    (redeliver_every=7) and the merge is idempotent via an event_id
    anti-join against the already-applied set of the batch's keys —
    the SEP listener contract (process duplicates harmlessly) made
    concrete.

    Scale shape: per batch the touched state is only the affected
    keys' OPEN rows (closed history is append-only and never
    rewritten — here the fixture state is small enough to rewrite
    whole files; with Delta/Iceberg this is MERGE INTO + partition
    overwrite on the open partition); within-batch versioning is one
    user_id window; the first-new-ts side is key-cardinality and
    broadcasts."""
    state_dir = _fresh_dir(spark, "scd2_maintain")

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.select("user_id", "event_id", "value", "ts")
        state = _current(batch_df.sparkSession, state_dir)
        if state is not None:
            # Idempotence under redelivery: drop events already applied.
            batch = batch.join(state.select("event_id"), "event_id", "left_anti")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        new_rows = batch.withColumn("valid_to_ts", F.lead("ts").over(w)).select(
            "user_id", "event_id", "value",
            F.col("ts").alias("valid_from_ts"), "valid_to_ts",
        )
        if state is None:
            merged = new_rows
        else:
            first_new = batch.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
            open_rows = state.filter(F.col("valid_to_ts").isNull())
            closed_now = (
                open_rows.join(F.broadcast(first_new), "user_id")
                .withColumn("valid_to_ts", F.col("first_ts"))
                .drop("first_ts")
            )
            untouched_open = open_rows.join(first_new, "user_id", "left_anti")
            history = state.filter(F.col("valid_to_ts").isNotNull())
            merged = (
                history.unionByName(untouched_open)
                .unionByName(closed_now)
                .unionByName(new_rows)
            )
        _publish(merged, state_dir, epoch_id)

    ev = read_stream(
        spark, _feed(sf_dir), batch_size=feed_batch_size(_feed(sf_dir), 2000, 5), redeliver_every=7
    )
    _drive(spark, ev.writeStream.foreachBatch(merge_batch))
    final = spark.read.parquet(os.path.join(state_dir, "current"))
    return final.select(
        "user_id",
        "event_id",
        "value",
        F.date_format("valid_from_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("valid_from"),
        F.date_format("valid_to_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("valid_to"),
        F.col("valid_to_ts").isNull().alias("is_current"),
    )


@register("stream_anomaly_score", oracle=None, section=SECTION)
def stream_anomaly_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Causal expanding anomaly scoring with explicit per-key state:
    each event's value is standardized against the user's running
    (n, Σv, Σv²) over all PRIOR events — state carried across
    micro-batches via applyInPandasWithState, the streaming form of
    ts_rolling_zscore's trailing window with an unbounded frame.
    Scores are causal (stats strictly precede the scored row), so a
    replay from offset 0 reproduces them bit-for-bit; the final
    per-user (count, mean, anomaly count) is cross-checked against a
    batch expanding-window recomputation in tests/test_streaming.py.

    Inside each Arrow batch the expanding stats are vectorized
    cumulative sums seeded from state — no per-row Python loop; at
    100 TB-class precision requirements the Σv² form would switch to
    Welford/Chan merging, noted here because catastrophic
    cancellation, not throughput, is the real hazard of sum-of-squares
    at scale.

    All Arrow chunks of a group's micro-batch are concatenated and
    sorted ONCE before the cumulative pass (ADVICE r4): per-chunk
    sorting would break the global (ts, event_id) causal order if a
    group ever spans multiple out-of-order chunks. Memory stays
    bounded by the group's per-batch volume, which the source's
    batch_size already caps.

    Anomaly = |z| > 3 with ≥ 10 prior events and prior std > 1e-9;
    n_scored counts rows that met BOTH scoring gates."""
    import numpy as np
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = read_stream(spark, _feed(sf_dir))

    out_schema = (
        "user_id long, n_events long, n_scored long, n_anomalies long, "
        "mean_value double, max_abs_z double"
    )
    state_schema = (
        "n long, s1 double, s2 double, n_anom long, max_z double, n_sc long"
    )

    def score(key, pdfs, state: GroupState):
        n, s1, s2, n_anom, max_z, n_sc = (
            state.get if state.exists else (0, 0.0, 0.0, 0, 0.0, 0)
        )
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
            v = pdf["value"].to_numpy(dtype=np.float64)
            k = len(v)
            cs = np.cumsum(v)
            cs2 = np.cumsum(v * v)
            # Stats BEFORE row i: seeded by carried state, shifted by one.
            n_b = n + np.arange(k, dtype=np.int64)
            s1_b = s1 + np.concatenate(([0.0], cs[:-1]))
            s2_b = s2 + np.concatenate(([0.0], cs2[:-1]))
            with np.errstate(invalid="ignore", divide="ignore"):
                mean_b = np.where(n_b > 0, s1_b / np.maximum(n_b, 1), 0.0)
                var_b = np.where(
                    n_b > 1,
                    (s2_b - n_b * mean_b * mean_b) / np.maximum(n_b - 1, 1),
                    0.0,
                )
                std_b = np.sqrt(np.maximum(var_b, 0.0))
                scored = (n_b >= 10) & (std_b > 1e-9)
                z = np.where(scored, (v - mean_b) / std_b, 0.0)
            n_anom += int(np.sum(np.abs(z) > 3.0))
            n_sc += int(np.sum(scored))
            max_z = max(max_z, float(np.max(np.abs(z))))
            n += k
            s1 += float(cs[-1])
            s2 += float(cs2[-1])
        state.update((n, s1, s2, n_anom, max_z, n_sc))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "n_scored": [n_sc],
                "n_anomalies": [n_anom],
                "mean_value": [s1 / n if n else 0.0],
                "max_abs_z": [max_z],
            }
        )

    updated = ev.groupBy("user_id").applyInPandasWithState(
        score,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _final_rows(_run_to_memory(updated, mode="update"), "n_events")


@register("stream_windowed_distinct_hll", oracle=None, section=SECTION)
def stream_windowed_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed distinct-user estimation on the stream: daily unique
    users per event type via approx_count_distinct (HLL++) under a
    1-hour watermark. Exact count-distinct is unsupported (and
    unwanted) in streaming aggregation — per-key distinct state is
    unbounded, while the HLL register set is fixed-size and MERGEABLE
    across micro-batches, which is exactly why sketches are the
    streaming distinct path at 100 TB (same state argument as
    agg_hll_sketch_union on the batch side).

    tests/test_streaming.py bounds the estimate against the batch
    exact distinct per (window, type) at HLL++'s default rsd."""
    ev = read_stream(spark, _feed(sf_dir))
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    out = _run_to_memory(agg, mode="complete")
    return out.select(
        F.date_format("win.start", "yyyy-MM-dd").alias("win_day"),
        "event_type",
        "approx_users",
        "n_events",
    )
