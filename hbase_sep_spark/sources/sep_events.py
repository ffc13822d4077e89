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

Implementation: Spark 4 Python DataSource (pyspark.sql.datasource)
with a partition-based DataSourceStreamReader — the 100 TB shape:
- offsets are row positions in the ts-ordered feed; the DRIVER only
  ever touches the parquet FOOTER (row count) and arithmetic — the
  feed itself is never materialized driver-side;
- `partitions(start, end)` splits each micro-batch into row ranges;
- `read(partition)` runs on the WORKERS, reading only the parquet
  row groups overlapping its range (row-group pruning + slicing).
A 100 TB feed replays with driver state = one integer per batch and
per-worker IO = its own row-group slice. (The previous implementation
used SimpleDataSourceStreamReader, which is driver-side by contract —
it loaded the whole feed into a Python list on the driver.)

A SepSubscription over a segment DIRECTORY does not use this reader:
`read_segments` serves it from Spark's built-in parquet file source
with the same transport contract in Spark expressions, which avoids
the per-start Python source runner and sees segments that land while
the query runs. Single-file feeds and `read_stream` (the 18 stream_*
queries) stay on the reader below.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from hbase_sep_spark.io import listing, memo

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


@dataclass
class SepRange(InputPartition):
    """One worker's slice of a micro-batch: feed rows [lo, hi),
    optionally strided (redelivery partitions re-emit every `step`-th
    row of the previous batch)."""

    lo: int
    hi: int
    step: int = 1


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
    """Worker-side range read of GLOBAL feed rows [lo, hi) as a
    NORMALIZED arrow table: segments overlapping the range are visited
    in feed order, and within each only the overlapping row groups are
    fetched. Returns None for an empty range.

    All feed-edge contracts live here (round 13 — hoisted from the old
    row-at-a-time `_read_rows` so the streaming `read()` can hand the
    same table to Spark as arrow RecordBatches with zero per-row
    Python work):

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
    this; the streaming hot path hands the arrow table to Spark
    directly via `read()`."""
    tbl = _read_table(path, lo, hi, step)
    if tbl is None or tbl.num_rows == 0:
        return iter(())
    names = [fld.name for fld in EVENT_SCHEMA.fields]
    return iter(tuple(r[n] for n in names) for r in tbl.to_pylist())


class SepEventsStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.path = options["path"]
        # The rate limit (rows per trigger). Explicit option values are
        # honored verbatim; the DEFAULT is feed_batch_size's 2500-row
        # floor over ~4 batches, so a 100 TB feed is not billions of
        # micro-batches (production sources tune maxOffsetsPerTrigger
        # to throughput the same way).
        raw_bs = options.get("batch_size", "auto")
        self.batch_size = (
            feed_batch_size(self.path, 2500, 4) if raw_bs == "auto" else int(raw_bs)
        )
        self.redeliver_every = int(options.get("redeliver_every", "0"))
        # Rows per worker partition within one micro-batch (the
        # parallelism knob; at cluster scale this tracks row-group
        # granularity instead). Default keeps ~20 partitions per
        # batch once the adaptive rate limit kicks in.
        raw_rpp = options.get("rows_per_partition", "auto")
        self.rows_per_partition = (
            max(1250, self.batch_size // 20) if raw_rpp == "auto" else int(raw_rpp)
        )
        # Non-zero start_row = the late-subscriber bootstrap seam: a
        # batch snapshot covers [0, start_row), the stream tails from
        # there (see stream_bootstrap_then_tail).
        self.start_row = int(options.get("start_row", "0"))
        self._n_rows: int | None = None
        self._pos = self.start_row
        # Delivered high-water mark: the max feed position ever seen in
        # a planned batch or commit. Guards the restart edge where a
        # fresh reader's first latestOffset() trails the restored
        # committed offset (Spark compares offsets as opaque JSON, so a
        # trailing offset still gets logged as a batch END and the
        # next batch would otherwise re-emit acked rows).
        self._hwm = self.start_row

    # -- driver-side: offset arithmetic only ---------------------------
    def _total(self) -> int:
        if self._n_rows is None:
            # Footer-only reads: no feed data touches the driver
            # (handles both a single feed file and a segment dir).
            self._n_rows = feed_total(self.path)
        return self._n_rows

    def initialOffset(self) -> dict:
        return {"row": self.start_row}

    def latestOffset(self) -> dict:
        # Advance at most one batch per trigger (the rate limit that
        # makes the finite replay multi-batch, which the watermark /
        # late-data queries depend on).
        #
        # Restart semantics: a restarted query constructs a FRESH
        # reader (_pos = start_row) and Spark offers no restore
        # callback before the first latestOffset(), so the first
        # returned offset after a restart can trail the restored
        # committed offset. Spark compares offsets as opaque JSON, so
        # it plans one (committed -> trailing) batch; partitions()
        # clamps that to an EMPTY range (hi < lo emits nothing) and
        # re-syncs _pos from the batch START — the restored committed
        # position — so the very next trigger resumes exactly at the
        # checkpoint with no redelivery of acked rows.
        self._pos = min(self._pos + self.batch_size, self._total())
        return {"row": self._pos}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["row"], end["row"]
        hwm = self._hwm
        # Re-sync the rate limiter and high-water mark from BOTH ends:
        # `lo` carries the restored checkpoint position on the first
        # post-restart batch (where hi may trail it — see
        # latestOffset()).
        self._hwm = max(hwm, lo, hi)
        self._pos = max(self._pos, lo, hi)
        # Suppress rows this reader instance already planned: after a
        # backward-offset episode the engine's next batch start is the
        # trailing END, so [lo, hwm) duplicates acked rows. In healthy
        # operation hwm == lo (each batch starts where the last ended)
        # and this is the identity. An uncommitted last batch replayed
        # on restart has hwm == start_row <= lo, so replay (the
        # at-least-once path Spark itself drives) is unaffected.
        lo_eff = max(lo, hwm)
        if hi <= lo_eff:
            # Post-restart trailing batch (hi < lo) or fully-acked
            # range: nothing new to read.
            return [SepRange(lo=hi, hi=hi)]
        parts = [
            SepRange(lo=p, hi=min(p + self.rows_per_partition, hi))
            for p in range(lo_eff, hi, self.rows_per_partition)
        ]
        if self.redeliver_every and lo_eff > 0:
            # At-least-once: one extra partition re-emitting a sample
            # of the PREVIOUS batch.
            parts.append(
                SepRange(
                    lo=max(0, lo_eff - self.batch_size),
                    hi=lo_eff,
                    step=self.redeliver_every,
                )
            )
        return parts

    def commit(self, end: dict) -> None:
        # The durable position lives in the query checkpoint (Spark
        # persists offsets); re-sync the rate limiter on restart.
        self._pos = max(self._pos, end["row"])
        self._hwm = max(self._hwm, end["row"])

    # -- worker-side ----------------------------------------------------
    def read(self, partition: SepRange):
        # Hand Spark arrow RecordBatches, not Python rows: the worker
        # forwards them to the JVM wholesale instead of converting and
        # pickling row-by-row (round 13 — the normalized table already
        # matches the declared schema exactly, tz-aware µs timestamps
        # included).
        tbl = _read_table(self.path, partition.lo, partition.hi, partition.step)
        if tbl is None or tbl.num_rows == 0:
            return iter(())
        return iter(tbl.to_batches())


class SepEventsDataSource(DataSource):
    """spark.readStream.format("sep_events").option("path", ...)"""

    @classmethod
    def name(cls) -> str:
        return "sep_events"

    def schema(self):
        return EVENT_SCHEMA

    def streamReader(self, schema):
        return SepEventsStreamReader(self.options)


def _ensure_package_on_workers(spark) -> None:
    """Ship the hbase_sep_spark package to Spark's Python workers.

    The DataSource class is pickled by reference; the worker (and the
    driver-side python_streaming_source_runner subprocess) must be
    able to import the module — which fails whenever the launching
    process's cwd isn't the repo root. addPyFile of a package zip is
    the standard fix and covers every future task."""
    flag = "spark.hbase_sep_spark.pyfiles.added"
    try:
        if spark.conf.get(flag, "no") == "yes":
            return
    except Exception:  # noqa: BLE001 - conf.get w/ default varies by version
        pass
    import atexit
    import os
    import tempfile
    import zipfile

    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    pkg_root = os.path.join(repo_root, "hbase_sep_spark")
    zpath = os.path.join(
        tempfile.gettempdir(), f"hbase_sep_spark_pkg_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_root):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, repo_root))
    spark.sparkContext.addPyFile(zpath)
    # addPyFile copies the zip into Spark's own file-server dir, so the
    # temp copy is disposable — reap it at interpreter exit rather than
    # leaking one zip per process (they accumulate across runs).
    atexit.register(_rm, zpath)
    spark.conf.set(flag, "yes")


def _rm(path: str) -> None:
    import contextlib
    import os

    with contextlib.suppress(OSError):
        os.remove(path)


def register_sep_source(spark) -> None:
    """Idempotent registration of the sep_events format.

    The DataSource is unpickled inside Spark's
    python_streaming_source_runner subprocess, which does NOT see
    addPyFile-shipped modules (that mechanism only wraps task
    execution). Registering this module, and `hbase_sep_spark.io`
    that it imports, for pickle-BY-VALUE makes the class fully
    self-contained on the wire, so registration works no matter what
    the launching process's cwd or sys.path is."""
    import sys

    from pyspark import cloudpickle

    from hbase_sep_spark import io

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    cloudpickle.register_pickle_by_value(io)
    _ensure_package_on_workers(spark)
    spark.dataSource.register(SepEventsDataSource)


def read_stream(spark, path: str, **options):
    """The subscription's readStream: the sep_events source over the
    feed at `path` (a file or a segment directory), each keyword one
    source option (batch_size, redeliver_every, rows_per_partition,
    start_row)."""
    register_sep_source(spark)
    reader = spark.readStream.format("sep_events").option("path", path)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()


# FileStreamSource ignores a file older than its newest seen file minus
# maxFileAge (default 7 days): a feed copied in with old mtimes, or a
# cursor resumed after a week, would lose segments. The seen-files map
# then never purges, so it holds one entry per segment of the feed.
_NEVER_AGE_OUT = "1000000d"


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
      batch (`feed_batch_size`'s (2500, 4) rule, or an explicit int)
      over the mean rows per segment, rounded up, at least 1.

    The glob, not the directory, is the source path: it applies the
    listing rule (`*.parquet`, hidden names skipped) and lists in name
    order, which the mtime sort keeps for ties. Offsets are the file
    source's own (`{"logOffset": N}` plus its seen-files log)."""
    import os

    from pyspark.sql import functions as F

    from hbase_sep_spark.io import int_ts_to_session_expr, int_ts_unit

    segs = _feed_segments(path)
    _files, sig = listing(path)
    _check_landing_order(sig)
    total = segs[-1][1] + segs[-1][2]
    rows = feed_batch_size(path, 2500, 4) if batch_size == "auto" else int(batch_size)
    per_trigger = max(1, -(-rows * len(segs) // total)) if total else len(segs)
    # TIMESTAMP(NANOS) segments scan as int64 (io.events_raw's setting).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Inferring the schema runs a Spark job (~0.12 s warm), so it is
    # memoized on the first segment, which a live feed never changes.
    first = segs[0][0]
    schema = memo("segment_schema", first, lambda: spark.read.parquet(first).schema, spark=spark)
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", per_trigger)
        .option("maxFileAge", _NEVER_AGE_OUT)
        .parquet(os.path.join(path, "*.parquet"))
    )
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
