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
The feed-edge rule (ts dispatch, EVENT_SCHEMA casts, NULL ts /
event_id dead-letter) is io's, `io.events_stream`, applied in Spark on
every path; this module only decides which raw rows each micro-batch
holds.
- A segment DIRECTORY, the shape a real feed has, is read in place by
  `read_segments`, paced in whole segments. It is never copied.
- Any other replay (`read_stream`: the 18 stream_* queries and a
  single-file SepSubscription) is first cut by `cut_slices` into one
  parquet SLICE per micro-batch of raw feed rows, each one
  `_read_table` range (plus the redelivered sample of the previous
  batch), and the file source reads the slices one per trigger
  (`read_slices`). The driver holds one slice at a time, never the
  feed.
"""

from __future__ import annotations

import os
import tempfile

from hbase_sep_spark.io import EVENT_SCHEMA, events_stream, listing, memo, scratch_dir


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
    """Range read of GLOBAL feed rows [lo, hi) as they are stored,
    projected to the six event columns: segments overlapping the range
    are visited in feed order, and within each only the overlapping
    row groups are fetched. With `step`, every `step`-th row of the
    range: redelivery samples by raw feed position, before the stream
    dead-letters any row. Returns None for a range past the feed's end."""
    import pyarrow as pa

    chunks = []
    for fp, base, n in _feed_segments(path):
        if base + n > lo and base < hi:
            chunks.extend(_file_chunks(fp, max(lo - base, 0), min(hi - base, n)))
        if base + n >= hi:
            break
    if not chunks:
        return None
    return pa.concat_tables(chunks).select(EVENT_SCHEMA.fieldNames())[::step]


# FileStreamSource ignores a file older than its newest seen file minus
# maxFileAge (default 7 days): a feed copied in with old mtimes, or a
# cursor resumed after a week, would lose segments. The seen-files map
# then never purges, so it holds one entry per segment of the feed.
_NEVER_AGE_OUT = "1000000d"


def _file_source(spark, path: str, schema_file: str, feed_path: str, per_trigger: int):
    """The events in the parquet files of the directory `path` as a
    stream through io's feed-edge rule, oldest modification time
    first, `per_trigger` files per micro-batch. The scan schema is the
    footer schema of `schema_file`; the ts unit of an integer epoch is
    classified on `feed_path`.

    The glob, not the directory, is the source path: it applies the
    listing rule (`*.parquet`, hidden names skipped) and lists in name
    order, which the mtime sort keeps for ties."""
    # TIMESTAMP(NANOS) files scan as int64 (io.events_raw's setting).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Inferring the schema runs a Spark job (~0.12 s warm), so it is
    # memoized on the file, which a live feed never changes.
    schema = memo(
        "segment_schema", schema_file, lambda: spark.read.parquet(schema_file).schema, spark=spark
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", per_trigger)
        .option("maxFileAge", _NEVER_AGE_OUT)
        .parquet(os.path.join(path, "*.parquet"))
    )
    return events_stream(raw, feed_path)


def cut_slices(
    path: str, out_dir: str, batch_size: int, redeliver_every: int = 0, start_row: int = 0
) -> str:
    """Write the feed at `path` into `out_dir` as one parquet slice per
    micro-batch and return `out_dir`. Slice i holds feed rows [lo, hi),
    lo = start_row + i * batch_size; with `redeliver_every`, it also
    holds every `redeliver_every`-th row of [lo - batch_size, lo), the
    at-least-once redelivery of the previous batch (from the second
    slice on, or from the first when `start_row` > 0).

    Each part is one `_read_table` range of raw feed rows, so a slice
    has the feed's physical types and `read_slices` applies the edge
    rule; the driver holds one slice at a time. The footer ts-order
    check runs on the source feed (`feed_total`), not on the slices,
    whose redelivered rows are out of ts order. Slices are written in
    name order and only once, so their modification times never
    decrease and the file source replays them in order."""
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


def read_slices(spark, out_dir: str, feed_path: str):
    """The slices `cut_slices` wrote to `out_dir` from the feed at
    `feed_path`, one per trigger. The scan schema is the first
    slice's, so slices cut in another physical form (a subscription's
    durable slices from an older cut) still resume; an empty feed has
    no slices, and its schema is the feed's first segment's."""
    first = (listing(out_dir)[0] or listing(feed_path)[0])[0]
    return _file_source(spark, out_dir, first, feed_path, 1)


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
    return read_slices(spark, out_dir, path)


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
    """A segment directory's events through Spark's parquet file source
    and io's feed-edge rule (`io.events_stream`), with the scan schema
    of the first segment's footer.

    - at start: the footer ts-order check (`_feed_segments`) and the
      landing-order check (`_check_landing_order`);
    - pacing in whole segments: `maxFilesPerTrigger` is the rows per
      batch (`batch_rows`) over the mean rows per segment, rounded up,
      at least 1."""
    segs = _feed_segments(path)
    _files, sig = listing(path)
    _check_landing_order(sig)
    total = segs[-1][1] + segs[-1][2]
    rows = batch_rows(path, batch_size)
    per_trigger = max(1, -(-rows * len(segs) // total)) if total else len(segs)
    return _file_source(spark, path, segs[0][0], path, per_trigger)
