"""Table loading helpers.

All graded queries read the driver-generated parquet tables
(TESTDATA.md). `t()` is the single scan entry point so predicate
pushdown / column pruning behavior is uniform: callers apply
`.select`/`.filter` immediately after and Catalyst pushes both into
the parquet scan (verify with `.explain('formatted')` → PushedFilters,
ReadSchema).
"""

from __future__ import annotations

from collections import OrderedDict
from typing import Callable, Generic, Hashable, Sequence, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_V = TypeVar("_V")


class LruCache(Generic[_V]):
    """Tiny bounded LRU: the store behind `memo`, one per tag.

    The harness touches a handful of keys, but a long-lived
    multi-tenant session (or a growing feed) would otherwise grow the
    store without bound. Values are analyzed plans, footer facts and
    small stats dicts, so the bound is about entry count, not bytes.
    """

    def __init__(self, maxsize: int = 64) -> None:
        self.maxsize = maxsize
        self._d: OrderedDict[Hashable, _V] = OrderedDict()

    def get(self, key: Hashable) -> _V | None:
        v = self._d.get(key)
        if v is not None:
            self._d.move_to_end(key)
        return v

    def put(self, key: Hashable, value: _V) -> None:
        self._d[key] = value
        self._d.move_to_end(key)
        while len(self._d) > self.maxsize:
            self._d.popitem(last=False)

    def __len__(self) -> int:
        return len(self._d)

    def __contains__(self, key: Hashable) -> bool:
        return key in self._d


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Session scratch roots this process has made; each is removed when
# the process exits.
_SCRATCH_ROOTS: set[str] = set()


def scratch_dir(spark: SparkSession, *parts: str) -> str:
    """Session-scoped scratch path for sink/roundtrip artifacts and
    replay slices: <tmp>/hbase_sep_spark/<applicationId>/<parts...>.

    Scoping by applicationId keeps concurrent harness/driver runs (or
    other users on a shared machine) from clobbering each other's
    files between an eager write and a lazy read-back — the same
    reason the streaming checkpoints already use mkdtemp. The
    session's root is removed at interpreter exit (an atexit hook
    registered the first time it is used), so runs do not leave their
    scratch behind."""
    import atexit
    import os
    import shutil
    import tempfile

    root = os.path.join(tempfile.gettempdir(), "hbase_sep_spark", spark.sparkContext.applicationId)
    if root not in _SCRATCH_ROOTS:
        _SCRATCH_ROOTS.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    path = os.path.join(root, *parts)
    os.makedirs(path, exist_ok=True)
    return path


def fixture_paths(sf_dir: str) -> tuple[str, ...]:
    """The registry tables' paths under `sf_dir`: what a value built
    from the whole fixture (a query plan, scratch state) keys on."""
    return tuple(f"{sf_dir}/{name}.parquet" for name in TABLES)


def fixture_key(sf_dir: str) -> str:
    """Scratch-subdir key for a fixture: a digest of its FULL absolute
    path (ADVICE-r12: two fixtures sharing a basename must not clobber
    each other's persisted scratch state) and of the listing signature
    of its tables, so state persisted from a fixture is rebuilt once a
    table grows or is rewritten at the same path — the rule `memo`
    applies to in-memory values."""
    import hashlib
    import os

    path = os.path.abspath(sf_dir.rstrip("/"))
    sigs = tuple(_signature(p) for p in fixture_paths(path))
    return hashlib.sha1(repr((path, sigs)).encode("utf-8")).hexdigest()[:12]


def listing(path: str) -> tuple[list[str], tuple]:
    """The data files of a table path and their listing signature.

    A file is its own one-file listing; a directory lists its
    `*.parquet` files in sorted-filename order (the layout rule),
    skipping names that start with `.` or `_` — Spark's own rule for
    hidden and metadata files (`_SUCCESS`, a writer's `_tmp.parquet`),
    so a footer count never includes a file the scan does not read.
    The signature is each file's (path, size, mtime_ns): a same-path
    rewrite or a new segment changes it, so a cache keyed on it never
    serves a stale listing."""
    import os
    import stat

    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return [path], ((path, st.st_size, st.st_mtime_ns),)
    files = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    sig = tuple(
        (fp, st.st_size, st.st_mtime_ns) for fp in files for st in (os.stat(fp),)
    )
    return files, sig


def _signature(path: str) -> tuple:
    """listing(path)'s signature, or () for a missing path (which a
    scan then reports in Spark's own words)."""
    import os

    return listing(path)[1] if os.path.exists(path) else ()


# tag → that kind of value's LRU: each kind keeps its own bound, so a
# busy kind (a long feed's per-segment footers) never evicts another.
_MEMOS: dict[str, LruCache] = {}


def memo(
    tag: str,
    paths: str | Sequence[str],
    build: Callable[[], _V],
    *,
    spark: SparkSession | None = None,
    args: tuple = (),
    maxsize: int = 64,
) -> _V:
    """The one cache-key rule: `build()`'s value for `paths` as they are
    listed now, built once and then served from the LRU named `tag`
    (bounded at `maxsize` entries, fixed by the tag's first call).

    The key is built here and nowhere else: each path with its listing
    signature — a table that grows, is rewritten at the same path or
    disappears misses and is rebuilt, never served stale — plus the
    session's applicationId when `spark` is given, plus `args`, the
    parameters other than the files that `build()` depends on. Pass
    `spark` when the value is bound to the session (a DataFrame, or
    anything a Spark job computed under its conf). Every call pays the
    listing (a stat or two per file); only `build()` is saved."""
    if isinstance(paths, str):
        paths = (paths,)
    key = (
        spark.sparkContext.applicationId if spark is not None else None,
        tuple((p, _signature(p)) for p in paths),
        args,
    )
    cache = _MEMOS.get(tag)
    if cache is None:
        cache = _MEMOS[tag] = LruCache(maxsize)
    value = cache.get(key)
    if value is None:
        value = build()
        cache.put(key, value)
    return value


def fanout(sf_dir: str, name: str, rows_per_worker: int, cores: int) -> int:
    """Python-worker fan-out for a table that ships as one input split:
    one partition per `rows_per_worker` footer rows, capped at `cores`
    (the session's defaultParallelism). Callers apply their own floor
    or skip-below-2 rule, so small fixtures keep their historical plan."""
    return min(cores, table_rows(sf_dir, name) // rows_per_worker)


def table_rows(sf_dir: str, name: str) -> int:
    """Footer-only row count of one fixture table — no data pages
    read; directory tables enumerate part files in sorted-filename
    order (the layout rule). Memoized on the listing, so a same-path
    regeneration (the driver precedent) re-counts.
    Use this to make fan-out knobs scale with the data instead of
    pinning a local-mode constant (round 13 — the batch analog of the
    streaming `sep_events.feed_batch_size` rule)."""
    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    return memo(
        "table_rows",
        path,
        lambda: sum(pq.ParquetFile(fp).metadata.num_rows for fp in listing(path)[0]),
    )


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver table. At cluster scale these would be
    partitioned/bucketed catalog tables; the reader API is identical.

    `events.ts` has changed physical type across testdata generations
    (TIMESTAMP(NANOS) in rounds 1-3, TIMESTAMP(MICROS) since round 4),
    so the events branch dispatches on the scanned dtype instead of
    assuming one encoding (the rule lives in events_physical):

    - `bigint`        → an integer epoch column: TIMESTAMP(NANOS) read
      under `nanosAsLong` (see events_raw), OR a raw UNANNOTATED int64
      epoch — the Kafka/Debezium CDC wire shape, whose unit (s/ms/µs/
      ns) is not recorded anywhere in the file. The unit is classified
      from footer statistics (`int_ts_unit`; the magnitude bands are
      1000× apart, so the classification is unambiguous for any epoch
      between 1973 and 5138) and the rebuild uses the matching
      timestamp_seconds/millis/micros constructor. The previous code
      assumed nanos unconditionally, which would have turned an
      int64-millis feed into silent 1970-era garbage.
    - `timestamp_ntz` → micros file read natively: cast to the session
      TimestampType (value-preserving under the UTC session timezone)
      so every downstream query sees the same type as before.
    - `timestamp`     → pass through (an identity cast).

    The analyzed scan (its file index and footer metadata) is memoized
    per session and listing, so queries in one session skip repeated
    driver-side planning — the effect a catalog table's cached metadata
    gives at cluster scale — while a table that grows or is rewritten
    at the same path is scanned afresh. Plans only; no data is cached.
    """
    path = f"{sf_dir}/{name}.parquet"
    return memo("scan", path, lambda: _scan(spark, sf_dir, name), spark=spark)


def _scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        path = f"{sf_dir}/events.parquet"
        raw, session_ts, _unit = events_physical(events_raw(spark, sf_dir), path)
        return _normalize_unsigned(raw.withColumn("ts", session_ts))
    return _normalize_unsigned(spark.read.parquet(f"{sf_dir}/{name}.parquet"))


# The events of every stream: the feed's six columns, in these types.
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


def events_physical(raw: DataFrame, feed_path: str):
    """An events scan in its physical form, plus how to read its ts:
    `(raw, session_ts, unit)`.

    `raw` is any scan of event rows — the batch table (events_raw), a
    segment directory or a replay's slice directory — and `feed_path`
    the feed whose footers classify an integer epoch. The returned
    `raw` has an integer-like ts widened to bigint — a UINT64 epoch (a
    C++ writer's uint64_t) scans as decimal(20,0) and a signed
    sub-64-bit epoch (32-bit time_t seconds) as int/smallint/tinyint;
    UINT8/16/32 already widen to bigint natively. `unit` is the
    classified epoch unit of a bigint ts (`int_ts_unit`), else None.
    `session_ts` rebuilds the session TimestampType from `raw`'s ts:
    the unit's constructor for an integer epoch, else a cast
    (timestamp_ntz → timestamp, identity for timestamp). The one owner
    of this rule: io.t() applies `session_ts` to the whole scan,
    `events_stream` to every stream, and stream_bootstrap_then_tail
    filters `raw` on the physical column before applying it, so its
    seam predicate reaches parquet."""
    from pyspark.sql import functions as F

    if dict(raw.dtypes)["ts"] in ("decimal(20,0)", "int", "smallint", "tinyint"):
        raw = raw.withColumn("ts", F.col("ts").cast("bigint"))
    if dict(raw.dtypes)["ts"] == "bigint":
        unit = int_ts_unit(feed_path)
        return raw, int_ts_to_session_expr(unit), unit
    return raw, F.col("ts").cast("timestamp"), None


def events_stream(raw: DataFrame, feed_path: str) -> DataFrame:
    """The feed edge of every stream: `raw` event rows (as
    `events_physical` takes them) in EVENT_SCHEMA.

    - ts through `events_physical`; naive timestamps are UTC wall
      times (the feed contract), which the cast keeps unshifted under
      the UTC session timezone;
    - every other column cast to its EVENT_SCHEMA type: a DECIMAL
      value to the nearest double, a decimal(20,0) (UINT64) or
      narrower int id to bigint, loud on overflow under ANSI;
    - NULL ts / event_id rows dead-lettered. Offsets are positions in
      the (ts, event_id)-ordered feed, so a record with no event time
      has no replay position (the watermark's own isnotnull filter,
      at the edge), and a record with no event_id has no idempotency
      key, so it cannot be safely redelivered."""
    from pyspark.sql import functions as F

    raw, session_ts, _unit = events_physical(raw, feed_path)
    out = raw.select(
        *(
            session_ts.alias("ts") if f.name == "ts" else F.col(f.name).cast(f.dataType)
            for f in EVENT_SCHEMA.fields
        )
    )
    return out.where(F.col("ts").isNotNull() & F.col("event_id").isNotNull())


# Integer-epoch unit classification (round-11 int64-ts hardening).
# The bands sit 1000× apart, so any epoch from 1973-04 (1e8 s) to
# 5138 (1e11 s) classifies unambiguously in every unit — and a
# pre-1970 feed (negative-epoch class) classifies by |value| the same
# way. Only data within ~days of 1970-01-01 is ambiguous; that is the
# documented envelope (such a feed must ship an annotated encoding).
_EPOCH_BANDS = (("s", 10**11), ("ms", 10**14), ("us", 10**17))


def classify_epoch_unit(max_abs: int) -> str:
    """Unit of an integer epoch column given its max |value|."""
    for unit, bound in _EPOCH_BANDS:
        if max_abs < bound:
            return unit
    return "ns"


def int_ts_unit(path: str) -> str:
    """Epoch unit ('s'/'ms'/'us'/'ns') of an INTEGER-typed ts column,
    classified from parquet row-group statistics — footer-only, no
    data pages read (the sep_events segment-index discipline). Falls
    back to reading the ts column itself only when every row group
    lacks usable stats (the round-10 undecodable-stats precedent),
    which is the rare recovery path for an exotic writer; an empty or
    all-NULL feed returns 'ns' (nothing to convert — preserves the
    pre-round-11 nanos assumption byte-for-byte on rounds-1-3 files,
    whose values classify as 'ns' by magnitude anyway). Memoized on
    the listing, so a same-path regeneration re-classifies."""
    return memo("int_ts_unit", path, lambda: _classify_ts_unit(listing(path)[0]))


def _classify_ts_unit(files: list[str]) -> str:
    import pyarrow.parquet as pq

    # An ANNOTATED timestamp column that still scanned as bigint can
    # only be TIMESTAMP(NANOS) under nanosAsLong (the rounds-1-3
    # shape) — pyarrow reads its stats as datetimes, not ints, so
    # short-circuit on the arrow schema before touching statistics.
    import pyarrow.types as patypes

    first_schema = pq.read_schema(files[0])
    if "ts" in first_schema.names and patypes.is_timestamp(
        first_schema.field("ts").type
    ):
        return "ns"
    max_abs = 0
    stats_missing = False
    for fp in files:
        md = pq.ParquetFile(fp).metadata
        idx = next(
            (i for i in range(md.num_columns) if md.schema.column(i).name == "ts"),
            None,
        )
        if idx is None:
            continue
        for rg in range(md.num_row_groups):
            try:
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    stats_missing = True
                    continue
                max_abs = max(max_abs, abs(int(st.min)), abs(int(st.max)))
            except Exception:
                stats_missing = True
    if max_abs == 0 and stats_missing:
        # No usable stats anywhere: read the column (pruned to ts).
        for fp in files:
            col = pq.read_table(fp, columns=["ts"]).column("ts")
            for chunk in col.chunks:
                for v in chunk:
                    if v.is_valid:
                        max_abs = max(max_abs, abs(v.as_py()))
    return classify_epoch_unit(max_abs) if max_abs else "ns"


def int_ts_to_session_expr(unit: str):
    """Session-TimestampType rebuild expression for an integer `ts`
    column of the given epoch unit. The 'ns' form truncates toward
    zero (`div 1000`) — exact under the whole-microseconds envelope
    every nanos generator observed (io docstring, rounds 1-3)."""
    from pyspark.sql import functions as F

    if unit == "ns":
        return F.timestamp_micros(F.expr("ts div 1000"))
    if unit == "us":
        return F.timestamp_micros(F.col("ts"))
    if unit == "ms":
        return F.timestamp_millis(F.col("ts"))
    return F.timestamp_seconds(F.col("ts"))


def _normalize_unsigned(df: DataFrame) -> DataFrame:
    """Normalize exotic parquet physical types to the engine's
    canonical scan schema (BIGINT ids, DOUBLE measures).

    Two regeneration-plausible encodings land as DecimalType and
    break the surface downstream (round-10 sweeps):

    - UNSIGNED ids: a C++/Rust writer (the reference transport's
      native ecosystem) ships parquet UINT64, which Spark maps to
      DecimalType(20,0) — crashing printf('%0Nd', id) composite keys
      in codegen (IllegalFormatConversionException) and rendering
      Decimal('101') vs the oracle's 101 in every id output column
      (31 hash-risk warns). → cast BIGINT (exact below 2^63,
      ANSI-loud above; UINT8/16/32 already widen to signed natively).
    - DECIMAL money: TPC-H's canonical encoding is DECIMAL(12,2);
      a regen shipping it breaks 29 of 100 money queries (Decimal
      output objects vs the oracle's floats, decimal→object dtype
      crashing pandas UDFs). → cast DOUBLE, which reproduces the
      double-fixture semantics bit-for-bit: a 2-dp decimal converts
      to the same nearest-double the generator wrote, and the dsum/
      davg DECIMAL(18,6) casts recover identical exact values on
      both engines.

    Metadata-only: touches the plan, not the data, and only when a
    decimal column is present in the scan schema.
    """
    casts = {}
    for c, dt in df.dtypes:
        if dt == "decimal(20,0)":
            casts[c] = "bigint"
        elif dt.startswith("decimal("):
            casts[c] = "double"
    if not casts:
        return df
    from pyspark.sql import functions as F

    return df.withColumns({c: F.col(c).cast(t) for c, t in casts.items()})


def events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events scan with `ts` in its PHYSICAL form — int64
    nanos-since-epoch for a TIMESTAMP(NANOS) file (read under
    `nanosAsLong`), `timestamp_ntz` for a TIMESTAMP(MICROS) file.

    This is the pushdown-friendly form: for the nanos encoding `t()`'s
    TimestampType `ts` is a PROJECTION over this column, and Catalyst
    does not rewrite predicates through it — a filter on the converted
    column never reaches the parquet scan. Time-range scans that must
    prune at the source (e.g. a CDC bootstrap snapshot below a seam
    offset) filter HERE on the physical column, then convert —
    through events_physical, which owns the ts dispatch.

    NOTE: this flips `spark.sql.legacy.parquet.nanosAsLong` for the
    WHOLE session and deliberately does not restore it — the conf is
    consulted at scan execution time, so restoring it after planning
    would break re-execution of this very DataFrame. It is a no-op for
    micros files."""
    path = f"{sf_dir}/events.parquet"

    def build() -> DataFrame:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark.read.parquet(path)

    return memo("events_raw", path, build, spark=spark)
