"""In-process loopback WebSocket JSON-RPC server for transport tests.

Speaks just enough RFC 6455 to exercise the client: Upgrade handshake,
masked-frame decode (client frames must be masked), unmasked text replies,
and server-initiated subscription pushes. A handler that raises is
answered with a JSON-RPC error reply, as a node answers a request it
cannot serve. ``refuse_first`` makes the first N TCP connections fail
before the handshake, to drive the retry policy.
"""

from __future__ import annotations

import base64
import hashlib
import json
import socket
import struct
import threading
from typing import Callable

_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"


class MockWsRpcServer:
    def __init__(
        self,
        handlers: dict[str, Callable[[list], object]] | None = None,
        refuse_first: int = 0,
    ) -> None:
        self.handlers = handlers or {}
        self.refuse_first = refuse_first
        self.connect_attempts = 0
        self._sub_ids: list[str] = []
        #: the connection that subscribed last; heads go there, not to
        #: whichever fetch connected since
        self._sub_conn: socket.socket | None = None
        self._conn: socket.socket | None = None
        self._conn_ready = threading.Event()
        self._srv = socket.create_server(("127.0.0.1", 0))
        self.port = self._srv.getsockname()[1]
        self.url = f"ws://127.0.0.1:{self.port}"
        self._stop = False
        self._thread = threading.Thread(target=self._accept_loop, daemon=True)
        self._thread.start()

    # --- lifecycle -----------------------------------------------------------

    def close(self) -> None:
        self._stop = True
        try:
            self._srv.close()
        except OSError:
            pass
        if self._conn is not None:
            try:
                self._conn.close()
            except OSError:
                pass

    def drop_connection(self) -> None:
        """Close the live connection server-side (mid-session loss drills);
        the accept loop keeps running, so the client can reconnect.
        ``shutdown`` first: a bare ``close`` defers the FIN while the serve
        thread sits in ``recv`` on the same fd, so the client would never
        notice the drop."""
        self._conn_ready.clear()
        if self._conn is not None:
            try:
                self._conn.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass
            try:
                self._conn.close()
            except OSError:
                pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    # --- server loop ----------------------------------------------------------

    def _accept_loop(self) -> None:
        while not self._stop:
            try:
                conn, _ = self._srv.accept()
            except OSError:
                return
            self.connect_attempts += 1
            if self.connect_attempts <= self.refuse_first:
                conn.close()
                continue
            # thread per connection: executor partitions connect concurrently
            threading.Thread(target=self._serve_safe, args=(conn,), daemon=True).start()

    def _serve_safe(self, conn: socket.socket) -> None:
        try:
            self._serve(conn)
        except (OSError, ConnectionError):
            pass

    def _serve(self, conn: socket.socket) -> None:
        buf = b""
        while b"\r\n\r\n" not in buf:
            chunk = conn.recv(4096)
            if not chunk:
                return
            buf += chunk
        head, buf = buf.split(b"\r\n\r\n", 1)
        key = ""
        for line in head.decode().split("\r\n"):
            if line.lower().startswith("sec-websocket-key:"):
                key = line.split(":", 1)[1].strip()
        accept = base64.b64encode(hashlib.sha1((key + _WS_GUID).encode()).digest()).decode()
        conn.sendall(
            (
                "HTTP/1.1 101 Switching Protocols\r\n"
                "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                f"Sec-WebSocket-Accept: {accept}\r\n\r\n"
            ).encode()
        )
        self._conn = conn
        self._conn_ready.set()
        state = {"buf": buf}
        while not self._stop:
            text = self._recv_text(conn, state)
            if text is None:
                return
            self._dispatch(conn, json.loads(text))

    @staticmethod
    def _recv_exact(conn: socket.socket, state: dict, n: int) -> bytes | None:
        while len(state["buf"]) < n:
            chunk = conn.recv(4096)
            if not chunk:
                return None
            state["buf"] += chunk
        out, state["buf"] = state["buf"][:n], state["buf"][n:]
        return out

    def _recv_text(self, conn: socket.socket, state: dict) -> str | None:
        parts = []
        while True:
            hdr = self._recv_exact(conn, state, 2)
            if hdr is None:
                return None
            b1, b2 = hdr
            fin, opcode = b1 & 0x80, b1 & 0x0F
            n = b2 & 0x7F
            if n == 126:
                (n,) = struct.unpack(">H", self._recv_exact(conn, state, 2))
            elif n == 127:
                (n,) = struct.unpack(">Q", self._recv_exact(conn, state, 8))
            mask = self._recv_exact(conn, state, 4) if b2 & 0x80 else b""
            payload = self._recv_exact(conn, state, n)
            if payload is None:
                return None
            if mask:
                payload = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
            if opcode == 0x8:  # close
                return None
            if opcode == 0x9:  # ping → pong
                self._send_frame(conn, 0xA, payload)
                continue
            parts.append(payload)
            if fin:
                return b"".join(parts).decode()

    @staticmethod
    def _send_frame(conn: socket.socket, opcode: int, data: bytes) -> None:
        header = bytes([0x80 | opcode])
        n = len(data)
        if n < 126:
            header += bytes([n])
        elif n < 1 << 16:
            header += bytes([126]) + struct.pack(">H", n)
        else:
            header += bytes([127]) + struct.pack(">Q", n)
        conn.sendall(header + data)

    def _send_text(self, conn: socket.socket, payload: str) -> None:
        self._send_frame(conn, 0x1, payload.encode())

    # --- rpc ------------------------------------------------------------------

    def _dispatch(self, conn: socket.socket, msg: dict) -> None:
        method, params, rid = msg.get("method", ""), msg.get("params", []), msg.get("id")
        if method.endswith("_subscribe"):
            sub_id = f"0xsub{len(self._sub_ids) + 1}"
            self._sub_ids.append(sub_id)
            self._sub_conn = conn
            result = sub_id
        elif method in self.handlers:
            try:
                result = self.handlers[method](params)
            except Exception as e:  # noqa: BLE001 — a handler's failure is the node's error reply
                self._send_error(conn, rid, -32000, f"{method}: {e!r}")
                return
        else:
            self._send_error(conn, rid, -32601, f"no method {method}")
            return
        self._send_text(conn, json.dumps({"jsonrpc": "2.0", "id": rid, "result": result}))

    def _send_error(self, conn: socket.socket, rid, code: int, message: str) -> None:
        self._send_text(
            conn,
            json.dumps({"jsonrpc": "2.0", "id": rid,
                        "error": {"code": code, "message": message}}),
        )

    def push_raw_text(self, text: str) -> None:
        """Push an arbitrary text frame (malformed-JSON probes)."""
        self._conn_ready.wait(5)
        self._send_text(self._conn, text)

    def push_raw_bytes(self, data: bytes) -> None:
        """Push arbitrary bytes straight onto the socket (malformed-frame
        probes: reserved opcodes, lying length fields, invalid UTF-8)."""
        self._conn_ready.wait(5)
        self._conn.sendall(data)

    def push_subscription_params(self, params) -> None:
        """Push a subscription notification with ARBITRARY params (probes
        for non-dict params / missing or non-dict result)."""
        self._conn_ready.wait(5)
        self._send_text(
            self._conn,
            json.dumps(
                {"jsonrpc": "2.0", "method": "xcb_subscription",
                 "params": params}
            ),
        )

    def push_head(self, header: dict) -> None:
        """Push a newHeads notification to the subscribed client."""
        self._conn_ready.wait(5)
        self._send_text(
            self._sub_conn,
            json.dumps(
                {
                    "jsonrpc": "2.0",
                    "method": "xcb_subscription",
                    "params": {"subscription": self._sub_ids[-1], "result": header},
                }
            ),
        )
