"""Subscription API — the SepModel analog (SURVEY §1.1, §3.1 EP1).

Reference surface ([R: sep-api/.../SepModel.java → sep-impl/...
/SepModelImpl.java — UNVERIFIED]): `addSubscription(name)` registers a
durable named consumer (an HBase replication peer in ZooKeeper);
`SepConsumer` then delivers the WAL feed from the peer's saved
position, with per-row ordering; unsubscribing removes the peer.

Spark-native mapping: a subscription is a NAMED, DURABLE streaming
query over the sep_events source —
- the name maps to a stable checkpoint directory (the replication
  position / durable cursor);
- `start()` resumes from the saved offsets: stop + start replays
  nothing and misses nothing (exactly the replication-peer contract);
- the listener is a foreachBatch callable (the
  EventListener.processEvents analog) or any writeStream sink.
"""

from __future__ import annotations

import getpass
import os
import shutil
import tempfile
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from hbase_sep_spark.sources.sep_events import read_stream


@dataclass
class SepSubscription:
    """One durable subscription to the event feed."""

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
    # "auto" = the source's feed-proportional rate limit
    # (sep_events.feed_batch_size with floor 2500 over 4 batches).
    # Offsets are feed row positions either way, so the durable
    # cursor contract is independent of the pacing.
    batch_size: int | str = "auto"

    @property
    def checkpoint_dir(self) -> str:
        return os.path.join(self.root, self.name, "checkpoint")

    def stream(self) -> DataFrame:
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
        df = self.stream()
        if transform is not None:
            df = transform(df)
        return (
            df.writeStream.foreachBatch(listener)
            .option("checkpointLocation", self.checkpoint_dir)
            .start()
        )

    def unsubscribe(self) -> None:
        """Drop the durable position (the removePeer analog). The next
        start() replays from the beginning of the retained feed."""
        shutil.rmtree(os.path.join(self.root, self.name), ignore_errors=True)
