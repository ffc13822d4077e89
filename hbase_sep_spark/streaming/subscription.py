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

Which transport serves the feed:
- a segment DIRECTORY is read by Spark's parquet file source
  (`sep_events.read_segments`). A running subscription sees segments
  that land after it started (the live tail), and each trigger
  delivers whole segments, oldest first;
- a single parquet FILE is read by the `sep_events` Python source
  (`sep_events.read_stream`), paced in rows; its size is read once
  per start, so a running query stops at its start-time size.
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

from hbase_sep_spark.sources.sep_events import read_segments, read_stream


@dataclass
class SepSubscription:
    """One durable subscription to the event feed.

    Cursor format: a directory feed's checkpoint holds the file
    source's offsets (`{"logOffset": N}` and a seen-files log), a file
    feed's holds `sep_events` row positions (`{"row": N}`). The two do
    not convert. A directory subscription whose checkpoint holds a row
    cursor — one written before directory feeds moved to the file
    source — fails at `start()` with an error naming the subscription;
    `unsubscribe()` drops that cursor, and the next `start()` replays
    the retained feed from its first segment."""

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
    # Rows per micro-batch; "auto" = sep_events.feed_batch_size with
    # floor 2500 over 4 batches. A directory feed rounds it up to whole
    # segments (at least one per trigger); a file feed cuts it exactly.
    # The cursor contract is independent of the pacing.
    batch_size: int | str = "auto"

    @property
    def checkpoint_dir(self) -> str:
        return os.path.join(self.root, self.name, "checkpoint")

    def stream(self) -> DataFrame:
        if os.path.isdir(self.feed_path):
            return read_segments(self.spark, self.feed_path, self.batch_size)
        return read_stream(self.spark, self.feed_path, batch_size=self.batch_size)

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
        if os.path.isdir(self.feed_path) and self._holds_row_cursor():
            raise ValueError(
                f"subscription {self.name!r} holds a sep_events row cursor "
                f"({self.checkpoint_dir}), which a segment-directory feed cannot "
                f"resume: call unsubscribe() to drop it, and the next start() "
                f"replays the feed from its first segment"
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
        """Drop the durable position (the removePeer analog). The next
        start() replays from the beginning of the retained feed."""
        shutil.rmtree(os.path.join(self.root, self.name), ignore_errors=True)
