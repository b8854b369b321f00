"""Pure-Python model of the fixture chain, used to check the program's answers.

The fixture (``core_etl_spark/sources/fixtures.py``) derives every block and
transaction from its height with fixed rules. This module restates the rules
the benchmark checks against, independently of Spark:

- block ``n`` has hash ``md5("blk<n>") + md5("blk<n>x")`` and 4 transactions;
- transaction ``i`` of block ``n`` has key ``k = 31n + i`` and hash
  ``md5("tx<k>") + md5("tx<k>x")``;
- ``k % 13 == 0`` is a contract creation (no ``to``), so never a transfer;
  otherwise ``k % 11 == 0`` is a batch of ``1 + n % 3`` transfers,
  ``k % 7 == 0`` a ``transferFrom`` and ``k % 3 == 0`` a ``transfer``;
- the sender is the known address when ``k % 5 == 0``; ``transfer`` and
  batch rows carry the sender as ``from_addr``, ``transferFrom`` rows a
  decoded address that never is the known one.
"""

from __future__ import annotations

import hashlib

TXS_PER_BLOCK = 4


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def block_hash(n: int) -> str:
    return _md5(f"blk{n}") + _md5(f"blk{n}x")


def tx_hash(n: int, i: int) -> str:
    k = n * 31 + i
    return _md5(f"tx{k}") + _md5(f"tx{k}x")


def _transfer_rows(n: int, i: int) -> tuple[int, int]:
    """(transfer rows, rows whose from_addr is the known address) of one tx."""
    k = n * 31 + i
    if k % 13 == 0:
        return 0, 0
    if k % 11 == 0:
        rows = 1 + n % 3
        return rows, rows if k % 5 == 0 else 0
    if k % 7 == 0:
        return 1, 0
    if k % 3 == 0:
        return 1, 1 if k % 5 == 0 else 0
    return 0, 0


def transfer_counts(lo: int, hi: int) -> tuple[int, int]:
    """(all transfer rows, rows sent by the known address) in heights [lo, hi]."""
    total = known = 0
    for n in range(lo, hi + 1):
        for i in range(TXS_PER_BLOCK):
            t, kn = _transfer_rows(n, i)
            total += t
            known += kn
    return total, known
