"""Subscription API — the SepModel analog (SURVEY §1.1, §3.1 EP1).

Reference surface ([R: sep-api/.../SepModel.java → sep-impl/...
/SepModelImpl.java — UNVERIFIED]): `addSubscription(name)` registers a
durable named consumer (an HBase replication peer in ZooKeeper);
`SepConsumer` then delivers the WAL feed from the peer's saved
position, with per-row ordering; unsubscribing removes the peer.

Spark-native mapping: a subscription is a NAMED, DURABLE streaming
query over the event feed —
- the name maps to a stable checkpoint directory (the replication
  position / durable cursor);
- `start()` resumes from the saved offsets: stop + start replays
  nothing and misses nothing (exactly the replication-peer contract);
- the listener is a foreachBatch callable (the
  EventListener.processEvents analog) or any writeStream sink.

One transport serves the feed, Spark's parquet file source, and every
batch passes io's feed-edge rule (`io.events_stream`):
- a segment DIRECTORY is read in place (`sep_events.read_segments`).
  A running subscription sees segments that land after it started
  (the live tail), and each trigger delivers whole segments, oldest
  first;
- a single parquet FILE is cut once into per-batch slices of raw feed
  rows under the subscription's own directory (`sep_events.cut_slices`),
  paced in rows. The slices are as durable as the cursor: a resume in
  a new process reads the same files, with the scan schema of the
  first slice (slices an older version cut already normalized resume
  too), and `unsubscribe()` removes both. A file that changes after
  its slices were cut fails the next `start()`.
"""

from __future__ import annotations

import getpass
import json
import os
import shutil
import tempfile
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from hbase_sep_spark.io import listing
from hbase_sep_spark.sources.sep_events import (
    batch_rows,
    cut_slices,
    read_segments,
    read_slices,
)


@dataclass
class SepSubscription:
    """One durable subscription to the event feed.

    Cursor format: the checkpoint holds the file source's offsets
    (`{"logOffset": N}` and a seen-files log). A checkpoint holding a
    `{"row": N}` cursor — one written by the retired `sep_events`
    Python source — fails at `start()` with an error naming the
    subscription; so does a file feed whose listing changed since its
    slices were cut. `unsubscribe()` drops the cursor and the slices,
    and the next `start()` replays the retained feed from its
    beginning."""

    spark: SparkSession
    name: str
    feed_path: str
    # Per-user, NOT per-application: a subscription's cursor must
    # survive session restarts (that's the whole point), but a fixed
    # world-shared path would let two users clobber each other.
    root: str = field(
        default_factory=lambda: os.path.join(
            tempfile.gettempdir(), f"sep_subscriptions-{getpass.getuser()}"
        )
    )
    # Rows per micro-batch (sep_events.batch_rows; "auto" = floor 2500
    # over 4 batches). A directory feed rounds it up to whole segments
    # (at least one per trigger); a file feed cuts it exactly.
    batch_size: int | str = "auto"

    @property
    def checkpoint_dir(self) -> str:
        return os.path.join(self.root, self.name, "checkpoint")

    @property
    def slices_dir(self) -> str:
        return os.path.join(self.root, self.name, "slices")

    def stream(self) -> DataFrame:
        if os.path.isdir(self.feed_path):
            return read_segments(self.spark, self.feed_path, self.batch_size)
        return read_slices(self.spark, self._slices(), self.feed_path)

    def _slices(self) -> str:
        """The file feed's slices, cut on the first start and reused by
        every resume. The `_cut` record (a name the file source skips)
        holds the feed's listing signature and the batch size; a
        resume against a different record would replay the wrong
        rows, so it fails loudly instead."""
        rows = batch_rows(self.feed_path, self.batch_size)
        record = json.dumps([listing(self.feed_path)[1], rows])
        marker = os.path.join(self.slices_dir, "_cut")
        if os.path.exists(marker):
            with open(marker) as f:
                if f.read() != record:
                    raise ValueError(
                        f"subscription {self.name!r} was cut from {self.feed_path} "
                        f"before the file or the batch size changed: call "
                        f"unsubscribe() to drop its cursor and slices, and the next "
                        f"start() replays the feed as it is now"
                    )
            return self.slices_dir
        # Slices without a record are a cut that did not finish.
        shutil.rmtree(self.slices_dir, ignore_errors=True)
        cut_slices(self.feed_path, self.slices_dir, rows)
        with open(marker, "w") as f:
            f.write(record)
        return self.slices_dir

    def start(
        self,
        listener: Callable[[DataFrame, int], None],
        transform: Optional[Callable[[DataFrame], DataFrame]] = None,
    ):
        """Begin (or resume) delivery to `listener(batch_df, epoch)`.

        Returns the StreamingQuery; the caller drives it
        (processAllAvailable for a finite replay, awaitTermination for
        a live tail). Restarting with the same subscription name
        resumes from the checkpointed offset — no redelivery of acked
        batches, none skipped.
        """
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        if self._holds_row_cursor():
            raise ValueError(
                f"subscription {self.name!r} holds a sep_events row cursor "
                f"({self.checkpoint_dir}), which the file source cannot "
                f"resume: call unsubscribe() to drop it, and the next start() "
                f"replays the feed from its beginning"
            )
        df = self.stream()
        if transform is not None:
            df = transform(df)
        return (
            df.writeStream.foreachBatch(listener)
            .option("checkpointLocation", self.checkpoint_dir)
            .start()
        )

    def _holds_row_cursor(self) -> bool:
        """Whether the latest offsets-log entry has a `{"row": N}`
        source offset (lines after the version and metadata lines)."""
        log = os.path.join(self.checkpoint_dir, "offsets")
        batches = [int(f) for f in os.listdir(log) if f.isdigit()] if os.path.isdir(log) else []
        if not batches:
            return False
        with open(os.path.join(log, str(max(batches)))) as f:
            lines = f.read().splitlines()[2:]
        for line in lines:
            try:
                offset = json.loads(line)
            except ValueError:
                continue
            if isinstance(offset, dict) and "row" in offset:
                return True
        return False

    def unsubscribe(self) -> None:
        """Drop the durable position and a file feed's slices (the
        removePeer analog). The next start() replays from the beginning
        of the retained feed."""
        shutil.rmtree(os.path.join(self.root, self.name), ignore_errors=True)
