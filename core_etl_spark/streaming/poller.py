"""Head poller — bridges the WS new-heads subscription (S2) into the
file-based micro-batch source the streaming tail consumes.

The reference's sync loop IS this bridge: it blocks on the subscription,
fetches each announced block, and hands it to the ETL one at a time
(reference crates/etl/src/etl.rs:126-176, provider.rs:45-47). Here the two
halves are decoupled through the filesystem so each runs in its natural
execution model:

- the poller (one driver-side daemon thread) consumes
  ``WsJsonRpcTransport.subscribe_blocks()``, fetches every announced height
  via ``<ns>_getBlockByNumber`` — block-at-a-time, the reference's cadence —
  and appends one parquet drop per batch under ``out_dir``;
- ``start_tail`` (streaming/tail.py) tails ``out_dir`` with exactly-once
  checkpointing and runs the distributed normalize/decode/write per
  micro-batch.

The handoff makes the live path restartable from either side: a poller
crash loses nothing already dropped (the tail's checkpoint replays), and a
tail crash loses nothing announced (drops accumulate until consumed).

Scale note: per-head RPC on the driver is the right shape here — a chain
tip advances one block at a time, so the poller's throughput ceiling is
chain cadence, not cluster size. Catch-up of a deep backlog belongs to the
backfill path (``pipeline.backfill``), whose fetch runs distributed.
"""

from __future__ import annotations

import json
import logging
import threading

from pyspark.sql import SparkSession

from .tail import RAW_BLOCK_DDL

log = logging.getLogger(__name__)


class HeadPoller:
    """Daemon thread: subscription → raw-block parquet drops.

    ``transport`` is a :class:`~core_etl_spark.sources.ws.WsJsonRpcTransport`
    (or any object with ``subscribe_blocks(stop=)`` and ``(method, params)
    -> json`` calling). ``batch_size`` > 1 coalesces consecutive heads into one
    drop (fewer files when the chain bursts); ``max_blocks`` stops after N
    blocks (tests; production runs until ``stop()``).
    """

    def __init__(
        self,
        spark: SparkSession,
        transport,
        out_dir: str,
        namespace: str = "xcb",
        batch_size: int = 1,
        max_blocks: int | None = None,
    ) -> None:
        self.spark = spark
        self.transport = transport
        self.out_dir = out_dir
        self.namespace = namespace
        self.batch_size = max(1, batch_size)
        self.max_blocks = max_blocks
        self.blocks_written = 0
        #: the exception that killed the loop, if any — a daemon death is
        #: logged AND surfaced, never only swallowed (r16 review)
        self.error: Exception | None = None
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
        pending: list[dict] = []
        # the stop event lets a quiet subscription wake and end, so stop()
        # never waits on a chain that produces no heads
        heads = self.transport.subscribe_blocks(stop=self._stop)
        try:
            for head in heads:
                if self._stop.is_set():
                    break
                raw = self._fetch_full(head)
                if raw is not None:
                    pending.append(raw)
                if len(pending) >= self.batch_size:
                    self._drop(pending)
                    pending = []
                if self.max_blocks is not None and self.blocks_written + len(
                    pending
                ) >= self.max_blocks:
                    break
        finally:
            # the final drop runs even when the SUBSCRIPTION iterator dies
            # (WS reconnect exhaustion mid-stream): already-fetched blocks
            # must land, not silently evaporate with the thread (r16
            # review — the old comment claimed a finally that didn't
            # exist; _fetch_full swallows its own errors, so the iterator
            # and the drop itself are the only escape paths).
            if pending:
                self._drop(pending)

    def _fetch_full(self, head: dict) -> dict | None:
        """One ``getBlockByNumber(number, full_txs=True)`` per head —
        the header push carries no transactions (etl.rs:137-139 refetches
        the same way).

        Malformed heads are SKIPPED with a log line, never raised (r13
        adversarial audit): the poller is a long-lived daemon, and one
        garbled push — a non-dict head, a number that isn't a hex
        quantity, a reply that isn't a block object — must not kill the
        subscription for every block after it. A skipped height is not
        lost: the tail's stale/parent checks re-sync it from the next
        good head (same recovery as a missed push)."""
        number = head.get("number") if isinstance(head, dict) else None
        if number is None:
            if head is not None:
                log.warning("head poller: skipping malformed head %r", head)
            return None
        try:
            if isinstance(number, str):
                # hex-quantity OR decimal-string form — the same arrival
                # shapes provider._quantity documents; parsing every
                # string as base-16 silently fetched the wrong block for
                # a decimal push (int("291", 16) == 657, r15 review)
                number = int(number, 16) if number.startswith("0x") else int(number)
            number = int(number)
        except (ValueError, TypeError):
            log.warning("head poller: skipping head with bad number %r", number)
            return None
        try:
            payload = self.transport(
                f"{self.namespace}_getBlockByNumber",
                json.dumps([hex(number), True]),
            )
            raw = json.loads(payload)
        except Exception as e:  # noqa: BLE001 — transient RPC failure must
            # not kill the long-lived daemon (r15 review: a node restart
            # mid-fetch raised through _run and live ingest silently
            # stopped forever); the skipped height re-syncs via the
            # tail's contiguity guard + backfill like any missed push
            log.warning("head poller: fetch of %s failed (%s); skipping",
                        hex(number), e)
            return None
        if not isinstance(raw, dict):
            log.warning(
                "head poller: skipping non-object block reply for %s", hex(number)
            )
            return None
        return raw

    def _drop(self, raws: list[dict]) -> None:
        """Append one parquet drop. ``coalesce(1)``: a drop is at most
        ``batch_size`` blocks — one file per micro-batch is the point."""
        df = self.spark.createDataFrame(raws, RAW_BLOCK_DDL)
        df.coalesce(1).write.mode("append").parquet(self.out_dir)
        self.blocks_written += len(raws)
        log.info("head poller: dropped %d block(s) (total %d)",
                 len(raws), self.blocks_written)
