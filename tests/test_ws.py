"""S1/S2/S6 — WebSocket JSON-RPC transport against an in-process mock
server: connect-with-retry semantics (reference provider.rs:24-43), RPC
round-trips, the new-heads subscription, and distributed fetch through
``RpcBlockProvider`` with the real transport inside executors."""

from __future__ import annotations

import json
import threading
import time

import pytest

from core_etl_spark.sources.provider import RpcBlockProvider
from core_etl_spark.sources.ws import (
    Network,
    WsError,
    WsJsonRpcTransport,
    known_networks,
    network_url,
)
from tests.ws_server import MockWsRpcServer


def _block(number: int, txs: int = 0) -> dict:
    """A block reply in the node's wire shape: camelCase keys, ``0x``
    quantities, hex u256 values, ``0x``-prefixed data. Its canonical rows
    (``provider._normalize_wire_block``) are hash ``h{number}``, difficulty
    ``"1"``, value ``"1"`` and so on."""
    return {
        "number": hex(number),
        "hash": f"0xh{number}",
        "parentHash": f"0xh{number - 1}",
        "nonce": "0x00",
        "sha3Uncles": "0xu",
        "logsBloom": "0xb",
        "transactionsRoot": "0xt",
        "stateRoot": "0xs",
        "receiptsRoot": "0xr",
        "miner": "0xm",
        "difficulty": "0x1",
        "totalDifficulty": "0x1",
        "extraData": "0x00",
        "energyLimit": hex(8_000_000),
        "energyUsed": "0x0",
        "timestamp": hex(1_700_000_000 + number * 7),
        "transactions": [
            {
                "hash": f"0xtx{number}_{i}",
                "nonce": "0x0",
                "transactionIndex": hex(i),
                "from": "0x" + "a" * 44,
                "to": "0x" + "b" * 44,
                "value": "0x1",
                "energy": hex(21000),
                "energyPrice": "0xa",
                "input": "0x",
            }
            for i in range(txs)
        ],
    }


HANDLERS = {
    "xcb_blockNumber": lambda p: hex(41),
    "net_version": lambda p: "1",
    "xcb_syncing": lambda p: False,
    "xcb_getBlockByNumber": lambda p: _block(int(p[0], 16), txs=2),
}


def test_rpc_roundtrip_and_types():
    with MockWsRpcServer(HANDLERS) as srv:
        t = WsJsonRpcTransport(url=srv.url, retries=0)
        provider = RpcBlockProvider(transport=t)
        assert provider.chain_tip() == 41
        assert provider.network_id() == 1
        assert provider.syncing() is False
        t.close()


def test_connect_retries_until_server_accepts():
    with MockWsRpcServer(HANDLERS, refuse_first=2) as srv:
        t = WsJsonRpcTransport(url=srv.url, retries=5, retry_delay=0.05)
        assert json.loads(t("xcb_blockNumber", "[]")) == "0x29"
        assert srv.connect_attempts == 3  # 2 refused + 1 accepted
        t.close()


def test_connect_gives_up_after_retries():
    # a port with nothing listening: bind-and-close to reserve one
    import socket

    s = socket.create_server(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    t = WsJsonRpcTransport(url=f"ws://127.0.0.1:{port}", retries=2, retry_delay=0.01)
    with pytest.raises(WsError, match="after 3 attempts"):
        t("xcb_blockNumber", "[]")


def test_rpc_error_raises():
    with MockWsRpcServer(HANDLERS) as srv:
        t = WsJsonRpcTransport(url=srv.url, retries=0)
        with pytest.raises(WsError, match="no method"):
            t("xcb_bogus", "[]")
        t.close()


def test_subscribe_blocks_yields_pushed_heads():
    with MockWsRpcServer(HANDLERS) as srv:
        t = WsJsonRpcTransport(url=srv.url, retries=0)
        heads = t.subscribe_blocks()
        got: list[dict] = []

        def consume():
            for h in heads:
                got.append(h)
                if len(got) == 2:
                    return

        c = threading.Thread(target=consume, daemon=True)
        c.start()
        time.sleep(0.1)
        srv.push_head(_block(100))
        srv.push_head(_block(101))
        c.join(5)
        assert [h["number"] for h in got] == ["0x64", "0x65"]
        t.close()


def test_distributed_fetch_through_executors(spark):
    """The transport pickles into mapInPandas closures and each partition
    fetches over its own connection — the S4 fetch path end-to-end."""
    with MockWsRpcServer(HANDLERS) as srv:
        t = WsJsonRpcTransport(url=srv.url, retries=1, retry_delay=0.1)
        provider = RpcBlockProvider(transport=t, chunk_size=5)
        raw = provider.fetch_blocks(spark, 0, 9)
        rows = raw.orderBy("number").collect()
        assert [r.number for r in rows] == list(range(10))
        assert all(len(r.transactions) == 2 for r in rows)
        # local[*] executors share the driver process, but each partition
        # deserializes its own transport copy → several connections
        assert srv.connect_attempts >= 1


def test_reconnects_after_mid_session_drop():
    """The retry policy covers mid-session loss, not just the first connect:
    a server-side close leaves the next call to reconnect and re-send."""
    with MockWsRpcServer(HANDLERS) as srv:
        t = WsJsonRpcTransport(url=srv.url, retries=3, retry_delay=0.05)
        assert json.loads(t("xcb_blockNumber", "[]")) == "0x29"
        srv.drop_connection()
        assert json.loads(t("xcb_blockNumber", "[]")) == "0x29"
        assert srv.connect_attempts == 2
        t.close()


def test_rpc_error_does_not_resend():
    """JSON-RPC error replies raise once — no reconnect, no silent resend."""
    with MockWsRpcServer(HANDLERS) as srv:
        t = WsJsonRpcTransport(url=srv.url, retries=0)
        with pytest.raises(WsError, match="no method"):
            t("xcb_bogus", "[]")
        assert srv.connect_attempts == 1  # never reconnected
        t.close()


def test_subscription_survives_idle_timeout():
    """A quiet chain (> socket timeout between heads) must not kill the
    subscription: each idle recv timeout just polls again."""
    with MockWsRpcServer(HANDLERS) as srv:
        t = WsJsonRpcTransport(url=srv.url, retries=0, timeout=0.3)
        heads = t.subscribe_blocks()
        got: list[dict] = []

        def consume():
            for h in heads:
                got.append(h)
                return

        c = threading.Thread(target=consume, daemon=True)
        c.start()
        time.sleep(1.0)  # several idle timeouts pass
        srv.push_head(_block(7))
        c.join(5)
        assert [h["number"] for h in got] == ["0x7"]
        t.close()


def test_subscription_resubscribes_after_drop():
    """Connection loss mid-subscription: reconnect with the retry policy,
    re-subscribe, keep yielding."""
    with MockWsRpcServer(HANDLERS) as srv:
        t = WsJsonRpcTransport(url=srv.url, retries=3, retry_delay=0.05, timeout=1.0)
        heads = t.subscribe_blocks()
        got: list[dict] = []

        def consume():
            for h in heads:
                got.append(h)
                if len(got) == 2:
                    return

        c = threading.Thread(target=consume, daemon=True)
        c.start()
        time.sleep(0.1)
        srv.push_head(_block(5))
        deadline = time.time() + 5
        while len(got) < 1 and time.time() < deadline:
            time.sleep(0.02)
        srv.drop_connection()
        while len(srv._sub_ids) < 2 and time.time() < deadline:
            time.sleep(0.02)  # client reconnecting + re-subscribing
        assert len(srv._sub_ids) == 2
        srv.push_head(_block(6))
        c.join(5)
        assert [h["number"] for h in got] == ["0x5", "0x6"]
        t.close()


def test_network_config_env_override(monkeypatch):
    assert known_networks()["mainnet"].network_id == 1
    assert network_url("devin").startswith("wss://")
    monkeypatch.setenv("CORE_ETL_WS_MAINNET", "ws://10.0.0.5:8546")
    assert network_url("mainnet") == "ws://10.0.0.5:8546"
    with pytest.raises(ValueError, match="unknown network"):
        network_url("nope")
    assert Network("x", 9, "ws://y").ws_url == "ws://y"
