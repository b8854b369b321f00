"""Head poller — bridges the node's new-heads subscription (S2) into the
file-based micro-batch source the streaming tail consumes.

The reference's sync loop is this bridge: it blocks on the subscription,
fetches each announced block through the same provider as its backfill, and
hands it to the ETL (reference crates/etl/src/etl.rs:126-176,
provider.rs:45-47). Here the two halves are decoupled through the
filesystem so each runs in its natural execution model:

- the poller (one driver-side daemon thread) takes each height ``h`` that
  ``RpcBlockProvider.announced_heights`` yields and appends one parquet drop
  under ``out_dir``: ``provider.fetch_blocks(spark, lo, h)``. That is the
  backfill's own fetch, with its wire normalization and per-height skip, so
  the provider is the only code that reads the block wire format;
- ``start_tail`` (streaming/tail.py) tails ``out_dir`` with exactly-once
  checkpointing and runs the distributed normalize/decode/write per
  micro-batch.

A drop covers ``lo..h``, where ``lo`` is the lowest height no earlier
drop holds. The poller reads back the heights each drop holds, so a height
whose fetch was skipped starts the next drop, and heads the subscription
missed fall inside it. ``lo`` goes back to the commit point
(``lake.resume_point() + 1``) when the lake may lack heights that earlier
drops held:

- at the first head, which covers the gap between the backfill and it;
- when the commit point moved back (a fork truncate removed them);
- when the commit point has not moved for 2, 4, 8, ... heads, in case a
  truncate happened between two reads of it.

The lake being ahead of the drops (another writer) moves ``lo`` up to the
commit point. A head below ``lo`` (a replaced tip) is fetched alone. So
however far the tail lags, or however long it is down, the poller fetches
an amortized O(1) heights per head. A drop is one file, so its fetch runs
in one task: catch-up of a deep backlog belongs to the backfill
(``pipeline.backfill``), whose fetch runs distributed.

The handoff makes the live path restartable from either side: a poller
crash loses nothing already dropped (the tail's checkpoint replays), and a
tail crash loses nothing announced (drops accumulate until consumed).
"""

from __future__ import annotations

import logging
import threading

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)


class HeadPoller:
    """Daemon thread: subscription → one raw-block parquet drop per head.

    ``provider`` is a :class:`~core_etl_spark.sources.provider.RpcBlockProvider`
    (or any object with ``announced_heights(stop=)`` and ``fetch_blocks``);
    of ``lake`` only ``resume_point()`` is read. ``max_heads`` stops after
    N heads have been dropped (tests; production runs until ``stop()``).
    """

    def __init__(
        self,
        spark: SparkSession,
        provider,
        lake,
        out_dir: str,
        max_heads: int | None = None,
    ) -> None:
        self.spark = spark
        self.provider = provider
        self.lake = lake
        self.out_dir = out_dir
        self.max_heads = max_heads
        self.heads_dropped = 0
        #: the exception that killed the loop, if any — a daemon death is
        #: logged AND surfaced, never only swallowed (r16 review)
        self.error: Exception | None = None
        #: lowest height no drop holds yet; the commit point last read and
        #: for how many heads since it has not moved
        self._next: int | None = None
        self._commit = -1
        self._stalled = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._run_safe, daemon=True, name="head-poller"
        )

    # --- lifecycle -----------------------------------------------------------

    def start(self) -> "HeadPoller":
        self._thread.start()
        return self

    def stop(self, timeout: float = 35.0) -> None:
        """Signal the loop to exit and wait for it. The subscription recv
        wakes at least every socket-timeout interval, so the join is
        bounded by that."""
        self._stop.set()
        self._thread.join(timeout)

    def join(self, timeout: float | None = None) -> None:
        self._thread.join(timeout)

    @property
    def alive(self) -> bool:
        return self._thread.is_alive()

    # --- loop ----------------------------------------------------------------

    def _run_safe(self) -> None:
        try:
            self._run()
        except Exception as e:  # noqa: BLE001 — daemon thread: log, don't kill the driver
            self.error = e  # surfaced to callers — `alive` False + error set
            log.exception("head poller died")

    def _run(self) -> None:
        # the stop event lets a quiet subscription wake and end, so stop()
        # never waits on a chain that produces no heads
        for head in self.provider.announced_heights(stop=self._stop):
            if self._stop.is_set():
                break
            commit = self.lake.resume_point()
            self._stalled = self._stalled + 1 if commit == self._commit else 0
            stall = self._stalled >= 2 and not self._stalled & (self._stalled - 1)
            if (self._next is None or commit >= self._next
                    or commit < self._commit or stall):
                self._next = commit + 1
            self._commit = commit
            lo = min(self._next, head)
            got = self._drop(lo, head)
            gap = next((n for n in range(lo, head + 1) if n not in got), None)
            if gap is not None:
                log.warning("head poller: drop %d..%d lacks height %d (its "
                            "fetch was skipped); the next drop starts there",
                            lo, head, gap)
            self._next = head + 1 if gap is None else gap
            self.heads_dropped += 1
            if self.max_heads is not None and self.heads_dropped >= self.max_heads:
                break

    def _drop(self, lo: int, hi: int) -> set[int]:
        """Append one drop of heights lo..hi; return the heights it holds.
        ``coalesce(1)``: one file per drop. The cache keeps the read-back
        from fetching again."""
        drop = self.provider.fetch_blocks(self.spark, lo, hi).coalesce(1).cache()
        try:
            drop.write.mode("append").parquet(self.out_dir)
            got = {r[0] for r in drop.select("number").collect()}
        finally:
            drop.unpersist()
        log.info("head poller: dropped heights %d..%d (%d rows)", lo, hi, len(got))
        return got
