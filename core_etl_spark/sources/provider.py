"""Block providers — the reference's provider crate (reference
crates/provider/src/provider.rs) re-shaped for distributed fetch.

The reference fetches blocks one at a time over a WebSocket JSON-RPC client
with driver-side ``tokio::spawn`` concurrency (etl.rs:286-309, ``--threads``
default 3). The Spark-first shape inverts that: the *block range* becomes a
DataFrame (``spark.range``), partitioned into chunks, and each partition
fetches its blocks inside ``mapInPandas`` — so fetch parallelism equals
``partitions × executors`` and scales with the cluster, not with a
driver-side thread flag.

Transport note: the wire call is injectable. The live path is
:class:`~core_etl_spark.sources.ws.WsJsonRpcTransport` — a dependency-free
WebSocket JSON-RPC client with the reference's 5×5 s connect-retry policy
(provider.rs:24-43), unit-tested against an in-process mock server
(tests/test_ws.py, including fetch through executor partitions). The
default transport still raises ``NotImplementedError`` so accidental
network use in tests is loud; wire a live one with ``ws.make_provider()``.
"""

from __future__ import annotations

import json
import logging
import math
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

from ..streaming.tail import RAW_BLOCK_DDL
from . import fixtures

log = logging.getLogger(__name__)

#: transport: (method, params_json) -> result_json — one JSON-RPC exchange
Transport = Callable[[str, str], str]


def _no_network(method: str, params: str) -> str:
    raise NotImplementedError(
        "no transport injected; use core_etl_spark.sources.ws.make_provider() "
        "(WsJsonRpcTransport) to go live, or pass a fake Transport in tests"
    )


def _raw_block_columns() -> list[str]:
    """Top-level column names of RAW_BLOCK_DDL, so an all-skipped fetch
    batch still yields a frame with the right columns (a bare
    ``pd.DataFrame([])`` has none and fails mapInPandas' projection —
    the multimodal ``_frame`` lesson). Splits on top-level commas only:
    the transactions column is an ``array<struct<...,...>>``."""
    from ..operators.multimodal import _ddl_columns

    return _ddl_columns(RAW_BLOCK_DDL)


def _quantity(value, default: int) -> int:
    """A JSON-RPC quantity that may arrive as an int, a hex string
    ("0x1"), a decimal string, or garbage/None — garbage maps to the
    default instead of killing the executor task (r13 adversarial
    audit)."""
    if isinstance(value, bool):
        return int(value)
    if isinstance(value, int):
        return value
    if isinstance(value, str):
        try:
            return int(value, 16) if value.startswith("0x") else int(value)
        except ValueError:
            return default
    return default


#: JSON-RPC wire keys → the engine's canonical snake_case names
_WIRE_KEYS = {
    "parentHash": "parent_hash", "sha3Uncles": "sha3_uncles",
    "logsBloom": "logs_bloom", "transactionsRoot": "transactions_root",
    "stateRoot": "state_root", "receiptsRoot": "receipts_root",
    "totalDifficulty": "total_difficulty", "extraData": "extra_data",
    "energyLimit": "energy_limit", "energyUsed": "energy_used",
    "transactionIndex": "transaction_index", "blockHash": "block_hash",
    "blockNumber": "block_number", "energyPrice": "energy_price",
}
_BLOCK_QTY = ("number", "energy_limit", "energy_used", "timestamp")
_TX_QTY = ("transaction_index",)
#: u256 columns stored as DECIMAL strings (schemas.py type policy)
_BLOCK_U256 = ("difficulty", "total_difficulty")
_TX_U256 = ("value", "energy", "energy_price")


def _strip0x(v):
    return v[2:] if isinstance(v, str) and v.startswith("0x") else v


def _u256_str(v):
    """u256 wire value ("0x..", decimal string, or int) → canonical
    decimal string; non-quantities pass through untouched."""
    if isinstance(v, int) and not isinstance(v, bool):
        return str(v)
    if isinstance(v, str):
        try:
            return str(int(v, 16)) if v.startswith("0x") else str(int(v))
        except ValueError:
            return v
    return v


def _normalize_wire_block(raw: dict) -> dict | None:
    """Canonicalize one node block reply for the typed RAW_BLOCK_DDL frame
    (r15 review): live nodes answer camelCase keys, hex-quantity numbers
    ("0x2a"), hex-u256 values, and 0x-prefixed data strings — fed to the
    DDL verbatim, the quantity strings failed Arrow conversion (stage
    death) and the camelCase keys matched no column (all-NULL rows). The
    canonical engine form is the fixtures' form: snake_case, int
    quantities, decimal-string u256, UNPREFIXED hex data (which is also
    what the CBC20 decode offsets assume) — already-canonical dicts pass
    through unchanged. Returns None for a dict with no parseable height
    (an error envelope or header fragment is not a block; appending it
    minted a number-NULL junk row that masked the missing height)."""
    out = {_WIRE_KEYS.get(k, k): v for k, v in raw.items()}
    number = _quantity(out.get("number"), -1)
    if number < 0:
        return None
    out["number"] = number
    for k in _BLOCK_QTY[1:]:
        if k in out and out[k] is not None:
            out[k] = _quantity(out[k], 0)
    for k in _BLOCK_U256:
        if k in out:
            out[k] = _u256_str(out[k])
    for k, v in list(out.items()):
        if k not in _BLOCK_U256 and k != "transactions":
            out[k] = _strip0x(v)
    txs = out.get("transactions")
    if isinstance(txs, list):
        out["transactions"] = [
            _normalize_wire_tx(t) for t in txs if isinstance(t, dict)
        ]
    return out


def _normalize_wire_tx(t: dict) -> dict:
    out = {_WIRE_KEYS.get(k, k): v for k, v in t.items()}
    for k in _TX_QTY:
        if k in out and out[k] is not None:
            out[k] = _quantity(out[k], 0)
    for k in _TX_U256:
        if k in out:
            out[k] = _u256_str(out[k])
    for k, v in list(out.items()):
        if k not in _TX_U256:
            out[k] = _strip0x(v)
    return out


class FixtureBlockProvider:
    """Deterministic chain for tests and demos (S2-S4 shapes), optionally
    forked at one height (reorg drills)."""

    def __init__(
        self, n_blocks: int = 1000, txs_per_block: int = 4, dirty: bool = False
    ) -> None:
        self.n_blocks = n_blocks
        self.txs_per_block = txs_per_block
        self.dirty = dirty

    def chain_tip(self) -> int:  # S3 get_block(Latest)
        return self.n_blocks - 1

    def network_id(self) -> int:  # S6
        return 1

    def syncing(self) -> bool:  # S6 lazy-mode gate
        return False

    def fetch_blocks(self, spark: SparkSession, start: int, end: int) -> DataFrame:
        """S4 — raw nested blocks for [start, end]."""
        from pyspark.sql import functions as F

        raw = fixtures.raw_blocks(
            spark, self.n_blocks, self.txs_per_block, dirty=self.dirty
        )
        return raw.filter(F.col("number").between(start, end))

    def receipts_for(self, raw: DataFrame, tx_hashes: DataFrame | None = None) -> DataFrame:  # S5
        # the matched-hash hint is ignored: fixture receipts are generated
        # deterministically from the raw batch, no fetch to narrow
        return fixtures.receipts(raw)


class RpcBlockProvider:
    """JSON-RPC provider with distributed fetch (S1-S6).

    ``fetch_blocks`` partitions [start, end] into ``chunk_size`` ranges and
    executes the RPC calls *inside the executors* via ``mapInPandas`` — the
    driver never proxies block payloads. Each partition opens its own
    connection (the reference's retry policy, 5×5 s at provider.rs:23-43,
    belongs in the transport)."""

    def __init__(self, transport: Transport = _no_network, chunk_size: int = 1000) -> None:
        self.transport = transport
        self.chunk_size = chunk_size

    def chain_tip(self) -> int:
        res = json.loads(self.transport("xcb_blockNumber", "[]"))
        # a wrong tip is dangerous, so a non-quantity raises instead of
        # taking _quantity's default
        tip = _quantity(res, -1)
        if tip < 0 or isinstance(res, bool):
            raise ValueError(f"xcb_blockNumber returned non-quantity {res!r}")
        return tip

    def announced_heights(self, stop=None) -> Iterator[int]:
        """S2 — the heights the node announces on its new-heads
        subscription (provider.rs:45-47), parsed like every other wire
        quantity. A head with no parseable height (not an object, no
        ``number``, a non-quantity) is skipped with a log line: the
        subscription is long-lived, and one garbled push must not end it
        for every head after it. ``stop`` is passed to the transport's
        ``subscribe_blocks``, which checks it at least every recv timeout."""
        for head in self.transport.subscribe_blocks(stop=stop):
            number = _quantity(head.get("number"), -1) if isinstance(head, dict) else -1
            if number < 0:
                log.warning("head poller: skipping malformed head %r", head)
                continue
            yield number

    def network_id(self) -> int:
        return int(json.loads(self.transport("net_version", "[]")))

    def syncing(self) -> bool:
        return bool(json.loads(self.transport("xcb_syncing", "[]")))

    def fetch_blocks(self, spark: SparkSession, start: int, end: int) -> DataFrame:
        n = end - start + 1
        parts = max(1, math.ceil(n / self.chunk_size))
        transport = self.transport  # capture for the closure, not self

        def fetch(batches: Iterator) -> Iterator:
            import pandas as pd

            for pdf in batches:
                rows = []
                for number in pdf["id"]:
                    # a node answers null (or garbage) for a height it has
                    # pruned or not yet sealed, and some answer an ERROR
                    # envelope instead (RpcError from the transport) — both
                    # REAL cases whenever a backfill range touches the tip.
                    # Neither may kill the stage 4× (r13 audit; r15 review
                    # extended the guard to raised errors): skip the
                    # height; the V2 gap check flags it and the next
                    # resume re-fetches (same recovery as a missed drop).
                    try:
                        payload = transport(
                            "xcb_getBlockByNumber",
                            json.dumps([hex(int(number)), True]),
                        )
                        raw = json.loads(payload)
                    except NotImplementedError:
                        raise  # env gate (no transport): never skippable
                    except Exception as e:  # noqa: BLE001 — per-height skip
                        log.warning("fetch of block %d failed (%s); skipping",
                                    number, e)
                        continue
                    if isinstance(raw, dict):
                        norm = _normalize_wire_block(raw)
                        if norm is not None:
                            rows.append(norm)
                yield pd.DataFrame(rows, columns=_raw_block_columns())

        rng = spark.range(start, end + 1).repartition(parts)
        return rng.mapInPandas(fetch, schema=RAW_BLOCK_DDL)

    def receipts_for(
        self, raw: DataFrame, tx_hashes: DataFrame | None = None
    ) -> DataFrame:
        """S5 — receipts joined as a dataset, fetched per-partition (the
        reference does one RPC per MATCHED tx at etl.rs:357-360; batching by
        partition amortizes the round-trips). ``tx_hashes`` (a one-column
        ``tx_hash`` frame) narrows the fetch to the hashes the decode will
        actually join — without it every tx in the chunk pays an RPC
        (r15 review)."""
        from pyspark.sql import functions as F

        transport = self.transport

        def fetch(batches: Iterator) -> Iterator:
            import pandas as pd

            for pdf in batches:
                out = []
                for h in pdf["tx_hash"]:
                    # The engine's canonical hash form is UNPREFIXED hex,
                    # but DATA params on the JSON-RPC wire are 0x-prefixed
                    # (the reference round-trips through B256, which
                    # serializes prefixed) — an unprefixed param is an
                    # invalid-params error on a strict node, which the
                    # per-hash guard then masked as status=1 (r16, caught
                    # by the recorded-frame replay, tests/fixtures/).
                    wire_h = h if str(h).startswith("0x") else f"0x{h}"
                    try:
                        rec = json.loads(
                            transport("xcb_getTransactionReceipt",
                                      json.dumps([wire_h]))
                        )
                    except NotImplementedError:
                        raise
                    except Exception:  # noqa: BLE001 — one bad reply must
                        # not kill the stage; mirror the missing-receipt
                        # default (success) rather than failing the chunk
                        rec = None
                    # a missing receipt arrives as null (dropped/replaced
                    # tx — a real case) and a live node returns status as
                    # a hex quantity ("0x1"): neither may kill the stage
                    # (r13 adversarial audit). Default mirrors the
                    # existing missing-status default: success.
                    status = (
                        _quantity(rec.get("status", 1), 1)
                        if isinstance(rec, dict)
                        else 1
                    )
                    out.append({"tx_hash": h, "status": status})
                yield pd.DataFrame(out, columns=["tx_hash", "status"])

        if tx_hashes is not None:
            txs = tx_hashes.select("tx_hash").distinct()
        else:
            txs = raw.select(F.explode("transactions").alias("t")).select(
                F.col("t.hash").alias("tx_hash")
            ).distinct()  # a redelivered/forked block must not double-fetch
        return txs.mapInPandas(fetch, schema="tx_hash string, status long")
