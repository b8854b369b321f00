"""Normalization transforms — the reference's AtomsBlock→Block /
AtomsTransaction→Transaction conversions (reference
crates/types/src/block.rs:29-64, transaction.rs:23-39) plus the storage
layer's created_at/block_number propagation (sqlite3.rs:407-460).

All pure projections: normalization is ``select`` + ``coalesce`` + casts;
the reference's driver-side HashMap lookups (timestamp_map /
block_number_map) become broadcast hash joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..schemas import BLOCK_SCHEMA, TRANSACTION_SCHEMA


def created_at(ts_col: F.Column) -> F.Column:
    """T10 — unix seconds → storage timestamp (reference formats
    ``%Y-%m-%d %H:%M:%S`` at sqlite3.rs:414; we keep a real TimestampType
    and render strings only at the presentation edge)."""
    return F.timestamp_seconds(ts_col)


def normalize_blocks(raw: DataFrame) -> DataFrame:
    """T1 — raw block → blocks row: derived ``transaction_count``
    (= len(transactions), block.rs:59), ``matured`` initialized 0
    (block.rs:61), ``created_at`` derived. Hex fields arrive normalized
    from the fixture/RPC reader; u256s stay strings (SURVEY §1.2).

    ROW-PRESERVING BY CONTRACT (r16 review, pinned by
    tests/test_etl.py::test_normalize_blocks_is_row_preserving): every
    ingest caller proves delivery over the RAW batch and hands the
    result to ``Lake.write_all(verified_hi=...)`` — the backfill and the
    repair probe the raw chunk's heights, the streaming tail's contiguity
    guard admits exactly [last+1, last+n] — while the written blocks
    frame is normalize_blocks(raw). Adding ANY filter here (e.g.
    dropping NULL-hash rows) would let the marker claim heights whose
    block rows were never written — the permanent resume-past-a-hole
    defect. Malformed-row handling belongs in the
    providers (wire normalization) or downstream sweeps
    (unverifiable_blocks), never in this projection."""
    cols = [f.name for f in BLOCK_SCHEMA.fields]
    out = raw.select(
        "*",
        # NULL transactions array (header-only/garbage reply) counts 0 like
        # the reference's len() (block.rs:59) — bare size() yields NULL
        # under ANSI and silently drops the block from count sums (r15)
        F.coalesce(F.size("transactions"), F.lit(0)).cast("long").alias(
            "transaction_count"
        ),
        F.lit(0).cast("long").alias("matured"),
        created_at(F.col("timestamp")).alias("created_at"),
    )
    return out.select(*cols)


def normalize_transactions(raw: DataFrame) -> DataFrame:
    """T2 — explode the tx array and flatten: ``to`` NULL → '' (contract
    creation, transaction.rs:34), missing block refs → zero values
    (transaction.rs:26-27), ``from``/``to`` renamed ``from_addr``/``to_addr``
    (transaction.rs:13-16). created_at inherited from the parent block
    in the same projection (no join needed on the ingest path)."""
    tx = raw.select(
        F.col("number").alias("block_number"),
        F.col("hash").alias("block_hash"),
        F.col("timestamp").alias("_block_ts"),
        F.explode("transactions").alias("t"),
    )
    out = tx.select(
        F.col("t.hash").alias("hash"),
        F.coalesce(F.col("t.nonce"), F.lit("")).alias("nonce"),
        F.coalesce(F.col("block_hash"), F.lit("")).alias("block_hash"),
        F.coalesce(F.col("block_number"), F.lit(0)).cast("long").alias("block_number"),
        F.coalesce(F.col("t.transaction_index"), F.lit(0)).cast("long").alias(
            "transaction_index"
        ),
        F.col("t.from").alias("from_addr"),
        F.coalesce(F.col("t.to"), F.lit("")).alias("to_addr"),
        F.col("t.value").alias("value"),
        F.col("t.energy").alias("energy"),
        F.col("t.energy_price").alias("energy_price"),
        F.coalesce(F.col("t.input"), F.lit("0x")).alias("input"),
        created_at(F.col("_block_ts")).alias("created_at"),
    )
    return out.select(*[f.name for f in TRANSACTION_SCHEMA.fields])


def filter_addresses(txs: DataFrame, watch: list[str] | set[str]) -> DataFrame:
    """T3 — address watch filter: keep a tx iff sender or recipient is
    watched (reference etl.rs:199-204). ``isin`` compiles to an in-set
    predicate pushed into the scan."""
    addrs = sorted(watch)
    return txs.filter(F.col("from_addr").isin(addrs) | F.col("to_addr").isin(addrs))


def propagate_created_at(
    transfers: DataFrame, transactions: DataFrame, blocks: DataFrame
) -> DataFrame:
    """T11 — the reference's timestamp/block_number HashMap propagation
    (sqlite3.rs:407-460): a transfer inherits created_at (+ block_number if
    missing) from its tx; a tx inherits from its block. Two hash joins
    whose sides AQE broadcasts while small — never FORCED broadcasts (r15
    review): both sides scale with the chunk, the exact pattern the r09
    receipts rule removed (a 1M-block chunk forced through the driver is
    a guaranteed OOM).

    created_at COALESCES down the inheritance chain (r15 review): block
    join result, then the tx's own created_at, then whatever the transfer
    already carried — the old unconditional overwrite stamped NULL
    whenever the block-hash hop missed (a dirty NULL-hash block) even
    though the tx row carried the timestamp all along."""
    tx_ts = transactions.select(
        F.col("hash").alias("_tx_hash"),
        F.col("block_hash").alias("_blk_hash"),
        F.col("block_number").alias("_tx_block_number"),
        F.col("created_at").alias("_tx_created_at"),
    )
    blk_ts = blocks.select(
        F.col("hash").alias("_b_hash"), F.col("created_at").alias("_b_created_at")
    )
    chain = [F.col("_b_created_at"), F.col("_tx_created_at")]
    if "created_at" in transfers.columns:
        chain.append(transfers["created_at"])
    return (
        transfers.join(tx_ts, transfers["tx_hash"] == tx_ts["_tx_hash"], "left")
        .join(blk_ts, F.col("_blk_hash") == F.col("_b_hash"), "left")
        .withColumn("created_at", F.coalesce(*chain))
        .withColumn(
            "block_number",
            F.coalesce(F.col("block_number"), F.col("_tx_block_number")).cast("long"),
        )
        .drop("_tx_hash", "_blk_hash", "_tx_block_number", "_b_hash",
              "_b_created_at", "_tx_created_at")
    )
