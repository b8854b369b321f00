"""Live-chain wiring end-to-end (S1/S2 → O1/O2): WS backfill through
executor partitions, then the head poller bridging the new-heads
subscription into the streaming tail's drop directory — all against the
in-process loopback server (no real network)."""

from __future__ import annotations

import logging
import os
import time

from pyspark.sql import functions as F

from core_etl_spark.lake import Lake
from core_etl_spark.pipeline import backfill
from core_etl_spark.sources import fixtures as FX
from core_etl_spark.sources.provider import RpcBlockProvider
from core_etl_spark.sources.ws import WsJsonRpcTransport
from core_etl_spark.streaming.poller import HeadPoller
from core_etl_spark.streaming.tail import start_tail
from tests.test_adversarial_streaming import _CommittedThrough, _StubTransport
from tests.test_ws import HANDLERS, _block
from tests.ws_server import MockWsRpcServer


def _poll_then_tail(
    spark, tmp_path, srv, provider, lake, heads, watch: tuple[str, ...] = ()
) -> None:
    """Run a poller over ``heads`` pushed in order, then drain its drops
    with an available-now tail that decodes ``watch``'s transfers."""
    src = str(tmp_path / "drops")
    poller = HeadPoller(spark, provider, lake, src, max_heads=len(heads)).start()
    deadline = time.time() + 10
    while not srv._sub_ids and time.time() < deadline:
        time.sleep(0.02)  # poller subscribing
    assert srv._sub_ids, "poller never subscribed"
    for h in heads:
        srv.push_head(h)
    poller.join(60)
    assert not poller.alive and poller.error is None, poller.error
    assert poller.heads_dropped == len(heads)
    q = start_tail(spark, lake, src, str(tmp_path / "ck"), watch,
                   provider.receipts_for)
    q.awaitTermination(120)


def test_live_export_backfill_then_tail(spark, tmp_path):
    """The reference's full export run (export.rs:46-71 → etl.rs:126-176):
    chunked backfill over RPC, then the subscription-fed tail extends the
    lake past the backfill tip."""
    with MockWsRpcServer(HANDLERS) as srv:
        t = WsJsonRpcTransport(url=srv.url, retries=1, retry_delay=0.1)
        provider = RpcBlockProvider(transport=t, chunk_size=5)
        lake = Lake(spark, str(tmp_path / "wh"), bucket_size=25)

        n = backfill(spark, lake, provider, end=4, chunk_size=5)
        assert n == 5
        assert lake.latest_block_number() == 4
        assert lake.transactions().count() == 10  # 2 txs per fixture block

        _poll_then_tail(spark, tmp_path, srv, provider, lake, [_block(5), _block(6)])
        assert lake.latest_block_number() == 6
        assert lake.blocks().count() == 7
        assert lake.transactions().count() == 14
        t.close()


def test_live_tail_fills_the_gap_before_the_first_head(spark, tmp_path):
    """The first head the subscription announces lies past the backfill's
    tip (the chain moved on while the backfill ran). Each drop starts at
    the commit point, so the tail reaches the last head instead of waiting
    at the gap forever."""
    with MockWsRpcServer(HANDLERS) as srv:
        t = WsJsonRpcTransport(url=srv.url, retries=1, retry_delay=0.1)
        provider = RpcBlockProvider(transport=t, chunk_size=5)
        lake = Lake(spark, str(tmp_path / "wh"), bucket_size=25)
        backfill(spark, lake, provider, end=4, chunk_size=5)
        assert lake.resume_point() == 4

        _poll_then_tail(spark, tmp_path, srv, provider, lake,
                        [_block(7), _block(8), _block(9)])
        assert lake.resume_point() == 9
        assert lake.blocks().count() == 10
        assert lake.transactions().count() == 20
        t.close()


def test_live_tail_refetches_a_height_whose_fetch_failed(spark, tmp_path, caplog):
    """The node rejects the first request for height 6. The drop for head
    7 lacks it, so the tail admits only 5; the poller sees the gap in what
    it dropped, says so, and starts the drop for head 8 at 6."""
    rejected: list[int] = []

    def get_block(params):
        n = int(params[0], 16)
        if n == 6 and not rejected:
            rejected.append(n)
            raise RuntimeError("header not found")
        return _block(n, txs=2)

    handlers = dict(HANDLERS, xcb_getBlockByNumber=get_block)
    with MockWsRpcServer(handlers) as srv:
        t = WsJsonRpcTransport(url=srv.url, retries=1, retry_delay=0.1)
        provider = RpcBlockProvider(transport=t, chunk_size=5)
        lake = Lake(spark, str(tmp_path / "wh"), bucket_size=25)
        backfill(spark, lake, provider, end=4, chunk_size=5)

        with caplog.at_level(logging.WARNING, "core_etl_spark.streaming.poller"):
            _poll_then_tail(spark, tmp_path, srv, provider, lake,
                            [_block(7), _block(8), _block(9)])
        assert rejected == [6]
        assert "drop 5..7 lacks height 6" in caplog.text
        assert lake.resume_point() == 9
        assert lake.blocks().count() == 10
        t.close()


class _ScriptedProvider(RpcBlockProvider):
    """Announces a scripted head sequence and records the height range of
    every fetch the poller asks for."""

    def __init__(self, heads) -> None:
        super().__init__(_StubTransport([]))
        self.heads = heads
        self.ranges: list[tuple[int, int]] = []

    def announced_heights(self, stop=None):
        return self.heads

    def fetch_blocks(self, spark, start, end):
        self.ranges.append((start, end))
        return super().fetch_blocks(spark, start, end)


def test_poller_refetch_stays_bounded_while_drops_pile_up(spark, tmp_path):
    """Heads keep coming while nothing consumes the drops (the tail lags or
    is down), so the commit point stays at 4. Each drop fetches only the
    new head, plus the whole range from the commit point at 2, 4, 8, ...
    heads of stall: 16 heads cost 30 heights, not the 136 of a drop from
    the commit point per head. A commit point that moves up only moves
    ``lo`` up; one that moves back (a fork truncate) refetches from it,
    and a replaced tip is fetched alone."""
    lake = _CommittedThrough(4)

    def heads():
        yield from range(5, 21)
        lake.height = 20  # the tail caught up
        yield 21
        lake.height = 7  # a fork truncate removed 8..20
        yield 22
        yield 15  # a replaced tip

    provider = _ScriptedProvider(heads())
    poller = HeadPoller(spark, provider, lake, str(tmp_path / "drops")).start()
    poller.join(120)
    assert not poller.alive and poller.error is None, poller.error
    singles = [(h, h) for h in range(5, 21)]
    assert provider.ranges == [
        *singles[:2], (5, 7), singles[3], (5, 9), *singles[5:8], (5, 13),
        *singles[9:], (21, 21), (8, 22), (15, 15),
    ]
    assert sum(hi - lo + 1 for lo, hi in provider.ranges[:16]) == 30


def test_live_tail_takes_every_pending_drop_per_batch(spark, tmp_path):
    """A live tail (processing-time trigger) reads every drop pending at
    its trigger in one batch, so heads announced faster than the trigger
    interval do not queue up one file per interval."""
    src = str(tmp_path / "drops")
    raw = FX.raw_blocks(spark, n_blocks=3, txs_per_block=1)
    for h in range(3):
        raw.filter(F.col("number") == h).coalesce(1).write.mode("append").parquet(src)
    assert len([f for f in os.listdir(src) if f.endswith(".parquet")]) == 3
    lake = Lake(spark, str(tmp_path / "wh"), bucket_size=10)
    q = start_tail(spark, lake, src, str(tmp_path / "ck"),
                   trigger_interval="1 second")
    try:
        deadline = time.time() + 120
        while lake.resume_point() < 2 and time.time() < deadline:
            time.sleep(0.1)
    finally:
        q.stop()
    assert lake.resume_point() == 2
    assert [p.numInputRows for p in q.recentProgress if p.numInputRows] == [3]
