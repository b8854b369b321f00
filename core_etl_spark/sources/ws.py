"""WebSocket JSON-RPC transport — the live-node path for
:class:`~core_etl_spark.sources.provider.RpcBlockProvider` (S1/S2/S6).

The reference connects over WebSocket with an initial attempt plus five
retries five seconds apart (reference crates/provider/src/provider.rs:23-43)
and exposes a new-heads subscription (provider.rs:45-47). No websocket
library ships in this environment, so the client is a minimal RFC 6455
implementation over the standard library: HTTP/1.1 Upgrade handshake,
masked client frames, ping/pong/close control handling, fragmented text
reassembly. That keeps the transport dependency-free and works identically
inside executors (each ``mapInPandas`` partition reconnects lazily — the
socket is dropped on pickle, so shipping the transport to an executor is
safe and each task opens its own connection).

Network endpoints (reference crates/types/src/network.rs:3-18) are a
configurable mapping, overridable per-network via environment variables
(``CORE_ETL_WS_MAINNET`` / ``CORE_ETL_WS_DEVIN``) or an explicit URL.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import socket
import struct
import threading
import time
from collections import deque
from dataclasses import dataclass
from typing import Callable, Iterator
from urllib.parse import urlparse

_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

OP_CONT, OP_TEXT, OP_BIN, OP_CLOSE, OP_PING, OP_PONG = 0x0, 0x1, 0x2, 0x8, 0x9, 0xA

#: adversarial-input bounds (r13 audit): a corrupt/malicious length field
#: must become a WsError → reconnect, never an unbounded recv/allocation.
#: 64 MiB per frame / 256 MiB per reassembled message is orders of
#: magnitude above any real block payload; the handshake response bound
#: caps a server that streams headers without ever sending \r\n\r\n.
_MAX_FRAME_BYTES = 64 * 1024 * 1024
_MAX_MESSAGE_BYTES = 256 * 1024 * 1024
_MAX_HANDSHAKE_BYTES = 1024 * 1024


class WsError(ConnectionError):
    """Handshake failure, protocol violation, or a dead connection."""


class RpcError(WsError):
    """A JSON-RPC *error reply* — the connection is healthy, the request
    was rejected. Never triggers a reconnect/resend (retrying a rejected
    request would just be rejected again)."""


# --- network config (reference network.rs:3-18) ------------------------------


@dataclass(frozen=True)
class Network:
    """A named chain endpoint: ``network_id`` is what ``net_version``
    returns; ``ws_url`` is where the node's WebSocket RPC listens."""

    name: str
    network_id: int
    ws_url: str


def known_networks() -> dict[str, Network]:
    """Mainnet/Devin with their public WS endpoints (reference
    network.rs:12-17), each overridable via environment so deployments
    point at their own nodes without code changes."""
    return {
        "mainnet": Network(
            "mainnet",
            1,
            os.environ.get("CORE_ETL_WS_MAINNET", "wss://xcbws.coreblockchain.net"),
        ),
        "devin": Network(
            "devin",
            3,
            os.environ.get("CORE_ETL_WS_DEVIN", "wss://xcbws-devin.coreblockchain.net"),
        ),
    }


def network_url(name: str) -> str:
    nets = known_networks()
    try:
        return nets[name.lower()].ws_url
    except KeyError:
        raise ValueError(
            f"unknown network {name!r}; expected one of {sorted(nets)}"
        ) from None


# --- minimal RFC 6455 client -------------------------------------------------


class _WsSocket:
    """One WebSocket connection: blocking, text-frame oriented."""

    def __init__(self, url: str, timeout: float = 30.0) -> None:
        u = urlparse(url)
        if u.scheme not in ("ws", "wss"):
            raise ValueError(f"not a ws:// or wss:// url: {url!r}")
        host = u.hostname or "localhost"
        port = u.port or (443 if u.scheme == "wss" else 80)
        self._sock = socket.create_connection((host, port), timeout=timeout)
        if u.scheme == "wss":
            import ssl

            self._sock = ssl.create_default_context().wrap_socket(
                self._sock, server_hostname=host
            )
        self._buf = b""
        self._handshake(u, host, port)

    def _handshake(self, u, host: str, port: int) -> None:
        key = base64.b64encode(os.urandom(16)).decode()
        path = u.path or "/"
        if u.query:
            path += "?" + u.query
        self._sock.sendall(
            (
                f"GET {path} HTTP/1.1\r\n"
                f"Host: {host}:{port}\r\n"
                "Upgrade: websocket\r\n"
                "Connection: Upgrade\r\n"
                f"Sec-WebSocket-Key: {key}\r\n"
                "Sec-WebSocket-Version: 13\r\n\r\n"
            ).encode()
        )
        resp = self._read_until(b"\r\n\r\n")
        status_line = resp.split(b"\r\n", 1)[0]
        if b" 101 " not in status_line + b" ":
            raise WsError(f"handshake rejected: {status_line!r}")
        accept = base64.b64encode(
            hashlib.sha1((key + _WS_GUID).encode()).digest()
        ).decode()
        if accept.encode() not in resp:
            raise WsError("handshake Sec-WebSocket-Accept mismatch")

    def _read_until(self, marker: bytes) -> bytes:
        while marker not in self._buf:
            if len(self._buf) > _MAX_HANDSHAKE_BYTES:
                raise WsError("handshake response exceeded 1 MiB")
            chunk = self._sock.recv(4096)
            if not chunk:
                raise WsError("connection closed during handshake")
            self._buf += chunk
        head, self._buf = self._buf.split(marker, 1)
        return head + marker

    def _recv_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self._sock.recv(max(4096, n - len(self._buf)))
            if not chunk:
                raise WsError("connection closed mid-frame")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def send_text(self, payload: str) -> None:
        data = payload.encode()
        mask = os.urandom(4)  # client frames MUST be masked (RFC 6455 §5.3)
        header = bytes([0x80 | OP_TEXT])
        n = len(data)
        if n < 126:
            header += bytes([0x80 | n])
        elif n < 1 << 16:
            header += bytes([0x80 | 126]) + struct.pack(">H", n)
        else:
            header += bytes([0x80 | 127]) + struct.pack(">Q", n)
        masked = bytes(b ^ mask[i % 4] for i, b in enumerate(data))
        self._sock.sendall(header + mask + masked)

    def recv_text(self) -> str:
        """Next complete text message; answers pings, raises on close.

        ``socket.timeout`` escapes untouched only when it fires *between*
        frames (no partial bytes consumed) — the caller may simply call
        again (idle subscription). A timeout mid-frame leaves the stream
        unparseable, so it becomes :class:`WsError` → reconnect. Every
        other malformed-stream condition (reserved opcode, oversized
        length field, invalid UTF-8) is also :class:`WsError` (r13
        adversarial audit): after any of them the byte stream's framing
        can't be trusted, and reconnecting is the designed recovery —
        an escaping UnicodeDecodeError would instead kill the
        subscription loop for good."""
        parts: list[bytes] = []
        total = 0
        while True:
            try:
                b1, b2 = self._recv_exact(2)
            except socket.timeout:
                if not parts and not self._buf:
                    raise
                raise WsError("timed out mid-frame; stream position lost") from None
            fin, opcode = b1 & 0x80, b1 & 0x0F
            masked, n = b2 & 0x80, b2 & 0x7F
            if opcode not in (OP_CONT, OP_TEXT, OP_BIN, OP_CLOSE, OP_PING,
                              OP_PONG):
                # a reserved opcode means lost framing or a broken server;
                # appending its payload would silently corrupt the message
                raise WsError(f"reserved/unknown opcode 0x{opcode:x}")
            try:
                if n == 126:
                    (n,) = struct.unpack(">H", self._recv_exact(2))
                elif n == 127:
                    (n,) = struct.unpack(">Q", self._recv_exact(8))
                if n > _MAX_FRAME_BYTES or total + n > _MAX_MESSAGE_BYTES:
                    raise WsError(
                        f"frame length {n} exceeds the sanity bound — "
                        "corrupt length field or hostile server"
                    )
                mask = self._recv_exact(4) if masked else b""
                payload = self._recv_exact(n)
            except socket.timeout:
                raise WsError("timed out mid-frame; stream position lost") from None
            if mask:
                payload = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
            if opcode == OP_PING:
                self._send_control(OP_PONG, payload)
                continue
            if opcode == OP_PONG:
                continue
            if opcode == OP_CLOSE:
                self._send_control(OP_CLOSE, payload)
                raise WsError("server closed the connection")
            parts.append(payload)
            total += len(payload)
            if fin:
                try:
                    return b"".join(parts).decode()
                except UnicodeDecodeError as e:
                    raise WsError(f"invalid UTF-8 in text message: {e}") from None

    def _send_control(self, opcode: int, payload: bytes) -> None:
        mask = os.urandom(4)
        masked = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
        self._sock.sendall(bytes([0x80 | opcode, 0x80 | len(payload)]) + mask + masked)

    def close(self) -> None:
        try:
            self._send_control(OP_CLOSE, b"")
        except OSError:
            pass
        self._sock.close()


# --- JSON-RPC transport ------------------------------------------------------


class WsJsonRpcTransport:
    """The injectable Transport for :class:`RpcBlockProvider`: callable as
    ``(method, params_json) -> result_json`` with the reference's connect
    policy — one attempt plus ``retries`` retries, ``retry_delay`` seconds
    apart (provider.rs:24-43). Connects lazily, so the instance pickles into
    executor closures; each process opens its own connection on first use.

    Notifications that arrive while waiting for a call's response are
    queued, so request/response and the new-heads subscription share one
    socket without losing messages (the reference multiplexes the same way
    through its pubsub frontend).

    Concurrency/failure model:

    - ``_lock`` serializes connect + send + request-id allocation;
      ``_rx_lock`` admits exactly one receiver at a time. A receiver routes
      whatever arrives — replies into ``_replies`` by id, subscription
      pushes into ``_notes`` — so the subscription loop receiving on a
      quiet socket never starves (or consumes) a concurrent RPC reply.
    - Any connection-level failure (``OSError``, server close, mid-frame
      timeout) marks the socket dead; the next use reconnects with the
      full retry policy, and an in-flight RPC is re-sent once. JSON-RPC
      *error replies* (:class:`RpcError`) never reconnect or re-send.
    - ``socket.timeout`` between frames is not a failure: the 30 s socket
      timeout just bounds each blocking recv so an idle subscription
      (quiet chain) keeps polling instead of dying."""

    def __init__(
        self,
        url: str | None = None,
        network: str | None = None,
        retries: int = 5,
        retry_delay: float = 5.0,
        timeout: float = 30.0,
    ) -> None:
        if url is None:
            if network is None:
                raise ValueError("need url= or network=")
            url = network_url(network)
        self.url = url
        self.retries = retries
        self.retry_delay = retry_delay
        self.timeout = timeout
        self._ws: _WsSocket | None = None
        self._lock = threading.Lock()
        self._rx_lock = threading.Lock()
        self._next_id = 0
        self._notes: deque = deque()
        self._replies: dict[int, dict] = {}

    # sockets don't pickle — drop live state, reconnect in the executor
    def __getstate__(self):
        state = self.__dict__.copy()
        state["_ws"] = None
        state["_lock"] = None
        state["_rx_lock"] = None
        state["_notes"] = deque()
        state["_replies"] = {}
        return state

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._lock = threading.Lock()
        self._rx_lock = threading.Lock()

    def _connect(self) -> None:
        try:
            self._ws = _WsSocket(self.url, self.timeout)
            return
        except OSError as e:
            last: Exception = e
        for _ in range(self.retries):
            time.sleep(self.retry_delay)
            try:
                self._ws = _WsSocket(self.url, self.timeout)
                return
            except OSError as e:
                last = e
        raise WsError(
            f"could not connect to {self.url} after {self.retries + 1} attempts"
        ) from last

    def _mark_dead(self) -> None:
        """Drop the socket so the next use reconnects (retry policy and
        all). In-flight replies are gone with the connection."""
        with self._lock:
            if self._ws is not None:
                try:
                    self._ws._sock.close()
                except OSError:
                    pass
                self._ws = None
            self._replies.clear()

    def _recv_one(self) -> None:
        """Receive ONE message (holding ``_rx_lock``) and route it: replies
        by id into ``_replies``, subscription pushes into ``_notes``.

        Malformed server output — unparseable JSON, or a message that
        isn't a JSON object — becomes :class:`WsError` (r13 adversarial
        audit): after one garbled message nothing downstream on this
        connection can be trusted, and WsError is what every caller's
        recovery path catches (reconnect + re-send / re-subscribe). A
        bare ``json.JSONDecodeError`` would instead escape those handlers
        and permanently kill the subscription loop."""
        with self._rx_lock:
            ws = self._ws
            if ws is None:
                raise WsError("connection lost")
            text = ws.recv_text()
        try:
            msg = json.loads(text)
        except ValueError as e:
            raise WsError(f"malformed JSON-RPC message: {e}") from None
        if not isinstance(msg, dict):
            raise WsError(
                f"JSON-RPC message is {type(msg).__name__}, expected object"
            )
        if msg.get("id") is not None:
            self._replies[msg["id"]] = msg
        elif isinstance(msg.get("method"), str) and msg["method"].endswith(
            "_subscription"
        ):
            params = msg.get("params")
            # only dict params can carry a subscription push; anything
            # else would AttributeError inside the heads() consumer
            if isinstance(params, dict):
                self._notes.append(params)

    def __call__(self, method: str, params_json: str) -> str:
        last: Exception | None = None
        for _attempt in range(2):  # original send + one resend after reconnect
            try:
                with self._lock:
                    if self._ws is None:
                        self._connect()
                    self._next_id += 1
                    rid = self._next_id
                    self._ws.send_text(
                        json.dumps(
                            {
                                "jsonrpc": "2.0",
                                "id": rid,
                                "method": method,
                                "params": json.loads(params_json),
                            }
                        )
                    )
            except (WsError, OSError) as e:
                if self._ws is None:
                    raise  # _connect already ran the full retry policy
                last = e  # send on a dead socket — reconnect and resend
                self._mark_dead()
                continue
            try:
                while True:
                    msg = self._replies.pop(rid, None)
                    if msg is not None:
                        if "error" in msg:
                            raise RpcError(f"{method}: {msg['error']}")
                        return json.dumps(msg.get("result"))
                    self._recv_one()
            except RpcError:
                raise
            except (WsError, OSError) as e:
                # dead socket while awaiting the reply (server close, reset,
                # mid-frame timeout, or a plain 30 s reply timeout):
                # reconnect and re-send once (the retry policy must cover
                # mid-session loss, not just the initial connect)
                last = e
                self._mark_dead()
        raise WsError(f"{method}: request failed after reconnect") from last

    def subscribe_blocks(self, stop=None) -> Iterator[dict]:
        """S2 — the new-heads subscription (provider.rs:45-47): subscribe
        via ``xcb_subscribe(["newHeads"])`` and yield each header payload
        as it arrives. Blocking generator; the headers are raw wire
        objects, which ``RpcBlockProvider.announced_heights`` parses into
        heights for the head poller
        (:class:`~core_etl_spark.streaming.poller.HeadPoller`).

        Survives both quiet chains (each 30 s recv timeout just polls
        again) and connection loss (reconnect with the retry policy, then
        re-subscribe — the reference provider behaves the same way).

        ``stop`` (optional ``threading.Event``) ends the generator at the
        next recv timeout: without it a QUIET chain never yields, so a
        consumer like ``HeadPoller`` that checks its stop flag between
        heads could not be joined until the next block arrived (r15
        review — the poller docstring's "join is bounded by the socket
        timeout" was only true on an active chain)."""
        sub_id = json.loads(self("xcb_subscribe", '["newHeads"]'))

        def heads() -> Iterator[dict]:
            nonlocal sub_id
            while True:
                while self._notes:
                    params = self._notes.popleft()
                    if params.get("subscription") == sub_id:
                        head = params.get("result")
                        # a push with a missing/non-object result carries
                        # no header — skip it rather than hand consumers
                        # a None they'd crash on (r13 adversarial audit)
                        if isinstance(head, dict):
                            yield head
                if stop is not None and stop.is_set():
                    return
                try:
                    self._recv_one()
                except socket.timeout:
                    continue  # idle between heads — keep listening
                except (WsError, OSError):
                    self._mark_dead()
                    sub_id = json.loads(self("xcb_subscribe", '["newHeads"]'))

        return heads()

    def close(self) -> None:
        if self._ws is not None:
            self._ws.close()
            self._ws = None


def make_provider(
    network: str = "mainnet",
    url: str | None = None,
    chunk_size: int = 1000,
    **transport_kw,
) -> "RpcBlockProvider":  # noqa: F821 — imported lazily to avoid a cycle
    """Wire a live provider: ``make_provider("devin")`` or an explicit
    ``url=`` for a self-hosted node."""
    from .provider import RpcBlockProvider

    transport = WsJsonRpcTransport(url=url, network=None if url else network, **transport_kw)
    return RpcBlockProvider(transport=transport, chunk_size=chunk_size)
