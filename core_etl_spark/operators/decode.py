"""CBC20 calldata decoding — the reference's contracts/cbc20 crate
(reference crates/contracts/src/cbc20.rs:15-78, dispatch etl.rs:346-384)
re-expressed as pure Catalyst column expressions. No Python UDFs: the hot
path is substring slicing, hex→int ``conv``, and ``posexplode`` over a
``sequence`` — all whole-stage-codegen'd JVM expressions.

Calldata layout (ABI-style, hex chars; addresses are 44 hex chars
right-aligned in 64-char words):

- ``transfer``      selector ``4b40e901``: to = input[28:72], value = input[72:136]
  (cbc20.rs:41-46)
- ``transferFrom``  selector ``31f2e679``: from = input[28:72], to = input[92:136],
  value = input[136:200] (cbc20.rs:73-78)
- ``batchTransfer`` selector ``e86e7c5f``: two offset words, count word at
  input[136:200] (hex→int), then ``count`` recipient words, a second count
  word, then ``count`` value words; emits one row per (to_i, value_i) with
  ``transfer_index = i`` (cbc20.rs:59-71) — the 1→N row explosion.

Decoded ``value`` stays a **hex string** (u256 fidelity — SURVEY §1.2);
use :mod:`core_etl_spark.functions.u256` for arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

SELECTOR_TRANSFER = "4b40e901"
SELECTOR_BATCH_TRANSFER = "e86e7c5f"
SELECTOR_TRANSFER_FROM = "31f2e679"
ALL_SELECTORS = (SELECTOR_TRANSFER, SELECTOR_BATCH_TRANSFER, SELECTOR_TRANSFER_FROM)

#: 0-based char offsets of the reference layout, as (start, length) for the
#: 1-based SQL ``substring``. Word = 64 chars, address = trailing 44.
_ADDR_IN_WORD = 20  # chars of zero padding before the 44-char address


def _slice(col: Column, start0: int, length: int) -> Column:
    """substring with the reference's 0-based offsets (cbc20.rs slices)."""
    return F.substring(col, start0 + 1, length)


def is_transfer_call(input_col: Column, to_addr_col: Column, contract: str) -> Column:
    """T4 — transfer-call predicate: tx targets the watched contract AND the
    calldata starts with a known selector (reference cbc20.rs:25-32,
    etl.rs:353)."""
    return (to_addr_col == F.lit(contract)) & (
        _slice(input_col, 0, 8).isin(*ALL_SELECTORS)
    )


def decode_transfer(input_col: Column, sender_col: Column) -> list[Column]:
    """T5 — single ``transfer``: sender is the tx originator; to/value are
    calldata words (cbc20.rs:41-46).

    KNOWN, ORACLE-PINNED TOLERANCE (r15 review): unlike the batch path's
    ``batch_wellformed`` gate, the single/``transferFrom`` decoders carry
    no length guard — truncated-but-selector-matching calldata yields a
    short ``to_addr`` / empty ``value`` row rather than being dropped.
    The dirty-chain oracles replay exactly these slices (the arm is part
    of t45x/t4678x's pinned surface), and no DoS is possible here (fixed
    slices, no ``sequence``); consumers that need well-formed rows filter
    on ``length(to_addr) = 44``. Revisit with a seat in a future rotation
    if the drop semantics are preferred — both engines must change
    together."""
    return [
        sender_col.alias("from_addr"),
        _slice(input_col, 28, 44).alias("to_addr"),
        _slice(input_col, 72, 64).alias("value"),
        F.lit(0).cast("long").alias("transfer_index"),
    ]


def decode_transfer_from(input_col: Column) -> list[Column]:
    """T7 — ``transferFrom``: from/to/value all from calldata
    (cbc20.rs:73-78)."""
    return [
        _slice(input_col, 28, 44).alias("from_addr"),
        _slice(input_col, 92, 44).alias("to_addr"),
        _slice(input_col, 136, 64).alias("value"),
        F.lit(0).cast("long").alias("transfer_index"),
    ]


#: A plausible batchTransfer count word: 48 zero chars then 16 hex chars.
#: Any real batch count fits with room to spare (the payload bound below is
#: far tighter), and constraining ``conv``'s input to ≤16 hex digits keeps
#: its result within u64 so ``try_cast`` can judge overflow to NULL instead
#: of ANSI-throwing.
_COUNT_WORD_RE = "^0{48}[0-9a-fA-F]{16}$"


def batch_count(input_col: Column) -> Column:
    """T12 — the recipient count: hex word at [136:200] parsed base-16
    (cbc20.rs:62 ``usize::from_str_radix``), defensively: NULL — never a
    throw, never a fabricated number — when the word is not a plausible
    count (non-hex, odd garbage, or a value past what 16 hex digits /
    a signed 64-bit int can hold)."""
    word = _slice(input_col, 136, 64)
    return F.when(
        word.rlike(_COUNT_WORD_RE), F.conv(word, 16, 10).try_cast("long")
    )


def batch_wellformed(input_col: Column) -> Column:
    """A ``batchTransfer`` payload is decodable iff its count word parses
    (:func:`batch_count`) to ``n ≥ 1`` AND the calldata actually carries
    ``n`` recipient + ``n`` value words: ``length ≥ 264 + 128·n`` (header
    200 + 64·n recipients + 64 second-count + 64·n values). NULL/short/
    lying calldata fails the predicate (NULL input → NULL → false).

    This is the r13-audit DoS bound (VERDICT r13 directive 2): without it
    one corrupt row whose count word reads ``ffffffff…`` makes
    ``sequence(0, n−1)`` build a billions-element array and kills the
    stage. The bound is arithmetic-safe too — the comparison is
    ``n ≤ (length − 264) / 128``, never ``264 + 128·n``, so a huge parsed
    n cannot ANSI-overflow the check itself. The reference loops blindly
    over the claimed count (cbc20.rs:62-71) and would slice out of
    bounds; "same capability" does not require the same DoS."""
    n = batch_count(input_col)
    cap = F.floor((F.length(input_col) - 264) / F.lit(128)).cast("long")
    return n.isNotNull() & (n >= 1) & (n <= cap)


def decode_batch_transfer(df: DataFrame, input_col: str, sender_col: str) -> DataFrame:
    """T6 — ``batchTransfer``: 1 row → N rows via ``posexplode(sequence)``.

    Offsets are computed from the parsed count: recipient word *i* starts at
    200 + 64·i, the value section starts after the second count word at
    264 + 64·N. All JVM-side; the explode multiplies rows without any
    Python round-trip (cbc20.rs:59-71).

    Only well-formed rows decode (:func:`batch_wellformed`); a payload
    whose count word lies about what the bytes carry yields ZERO transfer
    rows — emitting rows from a lying header would fabricate transfers
    from garbage. Callers auditing drops can select
    ``~batch_wellformed(col)`` on the batch-selector subset.
    """
    exploded = (
        df.filter(batch_wellformed(F.col(input_col)))
        .withColumn("_n", batch_count(F.col(input_col)))
        .select(
            "*",
            F.posexplode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("_i", "_pos"),
        )
    )
    to_i = F.expr(f"substring({input_col}, 201 + 64 * _i + {_ADDR_IN_WORD}, 44)")
    val_i = F.expr(f"substring({input_col}, 265 + 64 * _n + 64 * _i, 64)")
    decoded_names = {"from_addr", "to_addr", "value", "transfer_index"}
    return exploded.select(
        *[c for c in df.columns if c not in decoded_names],
        F.col(sender_col).alias("from_addr"),
        to_i.alias("to_addr"),
        val_i.alias("value"),
        F.col("_i").cast("long").alias("transfer_index"),
    )


def extract_token_transfers(
    transactions: DataFrame,
    contract: str,
    receipts: DataFrame | None = None,
    input_col: str = "input",
    sender_col: str = "from_addr",
) -> DataFrame:
    """T4+T5/T6/T7+T8 — full transfer extraction for one watched token
    (reference etl.rs:346-384): predicate filter, selector dispatch (the
    ``SmartContract`` trait dispatch at etl.rs:402-411 becomes a 3-way
    filtered union), then row assembly with block_number/tx_hash/address and
    the receipt-status join (reference does a per-tx RPC at etl.rs:357-360;
    we join a receipts dataset instead — no per-row round-trips).

    ``receipts``: optional (tx_hash, status) DataFrame; missing → status 1.
    """
    matched = transactions.filter(
        is_transfer_call(F.col(input_col), F.col("to_addr"), contract)
    )
    sel = _slice(F.col(input_col), 0, 8)
    base_cols = ["block_number", "hash"]

    single = matched.filter(sel == SELECTOR_TRANSFER).select(
        *base_cols, *decode_transfer(F.col(input_col), F.col(sender_col))
    )
    t_from = matched.filter(sel == SELECTOR_TRANSFER_FROM).select(
        *base_cols, *decode_transfer_from(F.col(input_col))
    )
    batch_src = matched.filter(sel == SELECTOR_BATCH_TRANSFER).select(
        *base_cols, input_col, sender_col
    )
    batch = decode_batch_transfer(batch_src, input_col, sender_col).select(
        *base_cols, "from_addr", "to_addr", "value", "transfer_index"
    )

    transfers = single.unionByName(t_from).unionByName(batch).select(
        "block_number",
        "from_addr",
        "to_addr",
        "value",
        F.col("hash").alias("tx_hash"),
        F.lit(contract).alias("address"),
        "transfer_index",
    )
    if receipts is not None:
        rc = receipts.select(
            F.col("tx_hash").alias("_r_tx"), F.col("status").cast("long").alias("status")
        )
        # No forced broadcast: receipts SCALE with the chunk (chunk_size ×
        # txs/block — a 1M-block chunk of a busy chain is 10⁸+ receipts),
        # so the join strategy is left to stats + AQE, same rule as g03's
        # scaling dims; at true scale the fallback is a shuffle join on
        # tx_hash. Measured local cost of that rule (r10, min-of-5
        # isolated o1 at sf0.1; PROGRESS.md r10.2): AQE 2.00 s vs forced
        # broadcast 1.72 s — the ~0.28 s is AQE materializing the shuffle
        # before it can see the receipts are small and convert SMJ→BHJ
        # (the mapInPandas fetch has no stats, so the static planner
        # can't pick the broadcast). Accepted: the r08 "identical wall"
        # claim was wrong, the OOM-safety rule is not.
        transfers = (
            transfers.join(rc, transfers["tx_hash"] == rc["_r_tx"], "left")
            .drop("_r_tx")
            .withColumn("status", F.coalesce(F.col("status"), F.lit(1).cast("long")))
        )
    else:
        transfers = transfers.withColumn("status", F.lit(1).cast("long"))
    return transfers
