"""Deterministic blockchain fixture generator (FIXTURES.md §A).

Builds raw nested blocks — the shape the node's
``get_block_with_transactions`` returns (reference provider.rs:54-74) —
entirely with Spark expressions over ``spark.range`` (no driver-side loops,
so a 10-million-block fixture costs the same plan). Invariants:

- ``number`` contiguous from 0; ``parent_hash`` = hash of number−1;
- ``timestamp`` spaced 7 s from a fixed epoch;
- per-block tx list with deterministic calldata: every 3rd tx a CBC20
  ``transfer`` to the watch contract, every 7th a ``transferFrom``, every
  11th a ``batchTransfer`` (N = 1 + number % 3), rest plain value moves;
- a known address pair appears as both sender and receiver (TransferType
  From/To/All tests);
- optional fork: ``with_fork`` re-issues one height with a different hash
  (reorg/K7/K10 tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

WATCH_CONTRACT = "c" * 44
KNOWN_ADDR = "ab" * 22  # appears on both sides of transfers

_EPOCH = 1_700_000_000


def _hash64(prefix: str, key) -> "F.Column":
    """64-char deterministic hex id."""
    k = F.concat(F.lit(prefix), key.cast("string"))
    return F.concat(F.md5(k), F.md5(F.concat(k, F.lit("x"))))


def _addr44(prefix: str, key) -> "F.Column":
    """44-char deterministic hex address."""
    k = F.concat(F.lit(prefix), key.cast("string"))
    return F.concat(F.md5(k), F.substring(F.md5(F.concat(k, F.lit("y"))), 1, 12))


def _word(col) -> "F.Column":
    return F.lpad(col, 64, "0")


def raw_blocks(
    spark: SparkSession,
    n_blocks: int = 100,
    txs_per_block: int = 4,
    with_fork_at: int | None = None,
    dirty: bool = False,
) -> DataFrame:
    """Nested raw blocks: one row per block with a ``transactions``
    array<struct> — the S4 fetch shape before T1/T2 normalization.

    ``dirty=True`` (r14, VERDICT r13 directive 1) corrupts the chain the
    way a real node's output is corrupt, deterministically keyed on the
    block number / tx key so the DuckDB oracle can replay byte-identical
    corruption: NULL block timestamps (num % 13 == 5) and NULL block
    hashes (num % 17 == 3) at the block level, plus the per-tx calldata
    corruption in :func:`_tx_struct` (NULL/truncated/odd-length input,
    lying batch count words, NULL recipients). The reference tolerates
    the null fields via defaults (transaction.rs:26-36); its decode
    slices would panic on the truncated calldata (cbc20.rs:41-78)."""
    b = spark.range(0, n_blocks).withColumnRenamed("id", "number")

    num = F.col("number")
    tx_struct = F.transform(
        F.sequence(F.lit(0), F.lit(txs_per_block - 1)),
        lambda i: _tx_struct(num, i, dirty=dirty),
    )
    blk_hash = _hash64("blk", num)
    if dirty:
        blk_hash = F.when(num % 17 == 3, F.lit(None).cast("string")).otherwise(blk_hash)
    out = b.select(
        num,
        blk_hash.alias("hash"),
        F.when(num == 0, F.lit("0" * 64)).otherwise(_hash64("blk", num - 1)).alias(
            "parent_hash"
        ),
        _hash64("nonce", num).alias("nonce"),
        _hash64("uncles", num).alias("sha3_uncles"),
        _hash64("bloom", num).alias("logs_bloom"),
        _hash64("txroot", num).alias("transactions_root"),
        _hash64("stroot", num).alias("state_root"),
        _hash64("rcroot", num).alias("receipts_root"),
        _addr44("miner", num % 5).alias("miner"),
        (num * 1000 + 12345).cast("string").alias("difficulty"),
        (num * num * 500 + 99999).cast("string").alias("total_difficulty"),
        F.lit("00").alias("extra_data"),
        F.lit(8_000_000).cast("long").alias("energy_limit"),
        (num % 1000 * 7919 % 8_000_000).cast("long").alias("energy_used"),
        (
            F.when(F.lit(dirty) & (num % 13 == 5), F.lit(None).cast("long"))
            .otherwise((F.lit(_EPOCH) + num * 7).cast("long"))
        ).alias("timestamp"),
        tx_struct.alias("transactions"),
    )
    if with_fork_at is not None:
        fork = (
            out.filter(num == with_fork_at)
            .withColumn("hash", _hash64("fork", num))
            .withColumn("extra_data", F.lit("f0"))
        )
        out = out.unionByName(fork)
    return out


def _tx_struct(num, i, dirty: bool = False):
    """One transaction struct; calldata kind cycles by (number*31 + i).
    ``dirty=True`` post-corrupts input/to keyed on ``k % 19`` — see
    :func:`raw_blocks`."""
    k = num * 31 + i
    sender = F.when((k % 5) == 0, F.lit(KNOWN_ADDR)).otherwise(_addr44("s", k))
    recipient = F.when((k % 4) == 0, F.lit(KNOWN_ADDR)).otherwise(_addr44("r", k))
    n_batch = (1 + num % 3).cast("int")
    count_word = _word(F.conv(n_batch.cast("string"), 10, 16))

    transfer_input = F.concat(
        F.lit("4b40e901"), _word(_addr44("t", k)), _word(F.substring(F.md5(k.cast("string")), 1, 16))
    )
    tfrom_input = F.concat(
        F.lit("31f2e679"),
        _word(_addr44("f", k)),
        _word(_addr44("t", k)),
        _word(F.substring(F.md5(k.cast("string")), 1, 16)),
    )
    batch_words = lambda tag: F.array_join(  # noqa: E731
        F.transform(
            F.sequence(F.lit(1), n_batch),
            lambda j: _word(_addr44(tag, k * 10 + j)),
        ),
        "",
    )
    batch_input = F.concat(
        F.lit("e86e7c5f"),
        _word(F.lit("40")),
        _word(F.lit("80")),
        count_word,
        batch_words("bt"),
        count_word,
        batch_words("bv"),
    )
    is_cbc20 = ((k % 3) == 0) | ((k % 7) == 0) | ((k % 11) == 0)
    to_addr = F.when(is_cbc20, F.lit(WATCH_CONTRACT)).otherwise(recipient)
    input_col = (
        F.when((k % 11) == 0, batch_input)
        .when((k % 7) == 0, tfrom_input)
        .when((k % 3) == 0, transfer_input)
        .otherwise(F.lit("0x"))
    )
    if dirty:
        # the same corruption arms as plans/decode_specs.DIRTY_FIXTURE_CTE,
        # keyed on k % 19 (19 is coprime to every kind modulus, so every
        # (kind × corruption) combination occurs)
        head136 = F.substring(input_col, 1, 136)
        tail = F.substring(input_col, 201, 1 << 20)

        def _count_word(w: str):
            return F.concat(head136, F.lit(w), tail)

        m = k % 19
        input_col = (
            F.when(m == 0, F.lit(None).cast("string"))
            .when(m == 1, F.substring(input_col, 1, 40))
            .when(m == 2, F.concat(input_col, F.lit("f")))
            .when(m == 3, _count_word("f" * 64))
            .when(m == 4, _count_word("0" * 64))
            .when(m == 5, _count_word("0" * 48 + "z" * 16))
            .when(m == 6, F.substring(input_col, 1, 392))
            .otherwise(input_col)
        )
        to_addr = F.when(m == 7, F.lit(None).cast("string")).otherwise(to_addr)
    return F.struct(
        _hash64("tx", k).alias("hash"),
        F.conv((k % 100).cast("string"), 10, 16).alias("nonce"),
        i.cast("long").alias("transaction_index"),
        sender.alias("from"),
        # every 13th tx is a contract creation (missing `to`)
        F.when((k % 13) == 0, F.lit(None).cast("string")).otherwise(to_addr).alias("to"),
        (k * 1_000_000_007).cast("string").alias("value"),
        F.lit("21000").alias("energy"),
        (10 + k % 90).cast("string").alias("energy_price"),
        input_col.alias("input"),
    )


def receipts(raw: DataFrame, tx_hashes: DataFrame | None = None) -> DataFrame:
    """(tx_hash, status) receipt set: deterministic failures every 17th tx
    (feeds the T8 status join; reference fetches these per-tx over RPC,
    provider.rs:76-89). ``tx_hashes`` is the ``receipts_for`` narrowing
    hint; generation is local and cheap, so it is ignored and every tx
    gets a receipt."""
    tx = raw.select(F.explode("transactions").alias("t")).select(
        F.col("t.hash").alias("tx_hash")
    )
    return tx.withColumn(
        "status",
        F.when(
            F.conv(F.substring("tx_hash", 1, 4), 16, 10).cast("long") % 17 == 0, 0
        ).otherwise(1).cast("long"),
    )
