"""The view and verify operations a lake consumer issues, with their answers.

An operation is generated in set-up from the seed: its kind, its keys and the
answer the pure-Python chain model expects. ``run_op`` builds the query
through the program's public view/verify functions, collects it and checks
the answer; the timed span is DataFrame construction through the collected
rows.
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass, field

from . import chain
from .trace import VIEW_KINDS

RANGE_LEN = 100  # heights per range, transfer-window and gap-check operation
RANGE_KINDS = frozenset({
    "blocks_in_range", "token_transfers_by_token", "transfers_by_address",
    "sequence_gaps_scalable",
})


@dataclass
class Op:
    kind: str
    keys: dict
    rows: int  # expected row count
    expect: dict = field(default_factory=dict)  # expected key values


def make_op(kind: str, key: int, tip: int) -> Op:
    """One operation of ``kind`` keyed at height ``key`` on a lake whose
    committed tip is ``tip``; range operations start at ``key``."""
    lo, hi = key, key + RANGE_LEN - 1
    if kind == "block_by_number":
        return Op(kind, {"n": key}, 1, {"number": key, "hash": chain.block_hash(key)})
    if kind == "block_by_hash":
        return Op(kind, {"hash": chain.block_hash(key)}, 1, {"number": key})
    if kind == "blocks_in_range":
        return Op(kind, {"lo": lo, "hi": hi}, RANGE_LEN, {"min": lo, "max": hi})
    if kind == "block_transactions":
        hashes = sorted(chain.tx_hash(key, i) for i in range(chain.TXS_PER_BLOCK))
        return Op(kind, {"n": key}, chain.TXS_PER_BLOCK, {"hashes": hashes})
    if kind == "transaction_by_hash":
        i = key % chain.TXS_PER_BLOCK
        return Op(kind, {"hash": chain.tx_hash(key, i)}, 1,
                  {"block_number": key, "transaction_index": i})
    if kind == "token_transfers_by_token":
        return Op(kind, {"lo": lo, "hi": hi}, chain.transfer_counts(lo, hi)[0])
    if kind == "transfers_by_address":
        return Op(kind, {"lo": lo, "hi": hi}, chain.transfer_counts(lo, hi)[1])
    if kind == "latest_block_number":
        return Op(kind, {}, 1, {"latest": tip})
    if kind == "sequence_gaps_scalable":
        return Op(kind, {"lo": lo, "hi": hi}, 0)
    raise ValueError(f"unknown operation kind {kind!r}")


def max_key(kind: str, tip: int) -> int:
    """Highest key of ``kind`` whose heights all lie at or below ``tip``."""
    return tip - (RANGE_LEN - 1 if kind in RANGE_KINDS else 0)


def kinds_in_order(rng: random.Random, n: int) -> list[str]:
    """``n`` operation kinds, the 9 kinds as evenly as ``n`` allows, in a
    seeded order."""
    kinds = [VIEW_KINDS[i % len(VIEW_KINDS)] for i in range(n)]
    rng.shuffle(kinds)
    return kinds


def build(lake, op: Op):
    from core_etl_spark.lake import TOKEN_TRANSFERS
    from core_etl_spark.operators import verify, views
    from core_etl_spark.schemas import TRANSFER_ALL
    from core_etl_spark.sources.fixtures import KNOWN_ADDR, WATCH_CONTRACT

    k = op.keys
    if op.kind == "block_by_number":
        return lake.block_by_number(k["n"])
    if op.kind == "block_by_hash":
        return views.block_by_hash(lake.blocks(), k["hash"])
    if op.kind == "blocks_in_range":
        return lake.blocks_in_range(k["lo"], k["hi"])
    if op.kind == "block_transactions":
        return lake.block_transactions(k["n"])
    if op.kind == "transaction_by_hash":
        return views.transaction_by_hash(lake.transactions(), k["hash"])
    if op.kind == "token_transfers_by_token":
        window = lake.height_pruned(TOKEN_TRANSFERS, k["lo"], k["hi"])
        return views.token_transfers_by_token(window, WATCH_CONTRACT)
    if op.kind == "transfers_by_address":
        window = lake.height_pruned(TOKEN_TRANSFERS, k["lo"], k["hi"])
        return views.transfers_by_address(window, KNOWN_ADDR, TRANSFER_ALL)
    if op.kind == "latest_block_number":
        return views.latest_block_number(
            lake.blocks(), lake.transactions(), lake.token_transfers()
        )
    return verify.sequence_gaps_scalable(lake.blocks_in_range(k["lo"], k["hi"]))


def check(op: Op, rows) -> bool:
    if len(rows) != op.rows:
        return False
    e = op.expect
    if op.kind in ("block_by_number", "block_by_hash", "transaction_by_hash",
                   "latest_block_number"):
        return all(rows[0][key] == value for key, value in e.items())
    if op.kind == "blocks_in_range":
        nums = sorted(r["number"] for r in rows)
        return nums == list(range(e["min"], e["max"] + 1))
    if op.kind == "block_transactions":
        return sorted(r["hash"] for r in rows) == e["hashes"]
    if op.kind in ("token_transfers_by_token", "transfers_by_address"):
        from core_etl_spark.sources.fixtures import KNOWN_ADDR, WATCH_CONTRACT

        lo, hi = op.keys["lo"], op.keys["hi"]
        in_range = all(lo <= r["block_number"] <= hi for r in rows)
        if op.kind == "token_transfers_by_token":
            return in_range and all(r["address"] == WATCH_CONTRACT for r in rows)
        return in_range and all(KNOWN_ADDR in (r["from_addr"], r["to_addr"]) for r in rows)
    return True  # sequence_gaps_scalable: zero gap rows


def run_op(lake, op: Op, tracer, cpu_s) -> tuple[float, float, bool]:
    """Issue one operation; returns (wall seconds, CPU seconds that
    ``cpu_s()`` advanced by, answer correct)."""
    c0, t0 = cpu_s(), time.perf_counter()
    df = build(lake, op)
    t1 = time.perf_counter()
    rows = df.collect()
    t2, c2 = time.perf_counter(), cpu_s()
    tracer.view_op(op.kind, df, t1 - t0, t2 - t1, len(rows))
    return t2 - t0, c2 - c0, check(op, rows)
