"""ETL ingest-path tests: fixture generator → T1/T2 normalize → CBC20
decode (T4-T8) → created_at propagation (T11), plus u256 helpers.

The three calldata golden fixtures are the reference's own worked examples
(reference crates/contracts/cbc20/src/cbc20.rs:40,47-58,72 comments) — the
only golden data the reference ships.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from core_etl_spark.functions import u256
from core_etl_spark.operators import decode as D
from core_etl_spark.operators import transforms as T
from core_etl_spark.schemas import BLOCK_SCHEMA, TRANSACTION_SCHEMA
from core_etl_spark.sources import fixtures as FX

ADDR_A = "ab416902d2548d52352a05423d13266ee7aaf140a068"[:44]
ADDR_B = "ab7153b962840676c37ba604c7816b0967cdb645cc54"[:44]
WORD_1 = "0" * 63 + "1"
WORD_2 = "0" * 63 + "2"
CONTRACT = "c" * 44
SENDER = "d" * 44

# Reference worked examples, cbc20.rs comments.
TRANSFER_INPUT = "4b40e901" + ("0" * 20 + ADDR_A) + WORD_1
TRANSFER_FROM_INPUT = "31f2e679" + ("0" * 20 + ADDR_A) + ("0" * 20 + ADDR_A) + WORD_1
BATCH_INPUT = (
    "e86e7c5f"
    + "0" * 62 + "40"
    + "0" * 62 + "a0"
    + WORD_2
    + ("0" * 20 + ADDR_A)
    + ("0" * 20 + ADDR_B)
    + WORD_2
    + WORD_1
    + WORD_1
)


@pytest.fixture(scope="module")
def golden_txs(spark):
    rows = [
        ("t1", 7, SENDER, CONTRACT, TRANSFER_INPUT),
        ("t2", 7, SENDER, CONTRACT, TRANSFER_FROM_INPUT),
        ("t3", 8, SENDER, CONTRACT, BATCH_INPUT),
        ("t4", 8, SENDER, CONTRACT, "deadbeef" + "0" * 128),  # unknown selector
        ("t5", 8, SENDER, "e" * 44, TRANSFER_INPUT),  # wrong contract
    ]
    return spark.createDataFrame(
        rows, "hash string, block_number long, from_addr string, to_addr string, input string"
    )


@pytest.fixture(scope="module")
def raw(spark):
    return FX.raw_blocks(spark, n_blocks=40, txs_per_block=4).cache()


def test_golden_transfer_decode(golden_txs, spark):
    out = D.extract_token_transfers(golden_txs, CONTRACT)
    rows = {(r.tx_hash, r.transfer_index): r for r in out.collect()}
    # unknown selector + wrong contract excluded (T4)
    assert set(r[0] for r in rows) == {"t1", "t2", "t3"}

    t1 = rows[("t1", 0)]
    assert (t1.from_addr, t1.to_addr, t1.value) == (SENDER, ADDR_A, WORD_1)

    t2 = rows[("t2", 0)]
    assert (t2.from_addr, t2.to_addr, t2.value) == (ADDR_A, ADDR_A, WORD_1)

    # batchTransfer: 1 row → 2 rows, indexed, sender from tx originator
    b0, b1 = rows[("t3", 0)], rows[("t3", 1)]
    assert (b0.from_addr, b0.to_addr, b0.value) == (SENDER, ADDR_A, WORD_1)
    assert (b1.from_addr, b1.to_addr, b1.value) == (SENDER, ADDR_B, WORD_1)
    assert all(r.address == CONTRACT and r.status == 1 for r in rows.values())


def test_receipt_status_join(golden_txs, spark):
    receipts = spark.createDataFrame([("t1", 0), ("t3", 1)], "tx_hash string, status long")
    out = D.extract_token_transfers(golden_txs, CONTRACT, receipts=receipts)
    st = {r.tx_hash: r.status for r in out.collect()}
    assert st["t1"] == 0          # failed receipt propagates
    assert st["t2"] == 1          # missing receipt defaults success
    assert st["t3"] == 1


def test_batch_transfer_hostile_count_word_cannot_explode(spark):
    # VERDICT r13 directive 2: a corrupt/hostile count word must never
    # reach sequence() — `ffffffff…` would try to build a billions-element
    # array and one bad row kills the stage. Malformed batch payloads
    # decode to ZERO rows; well-formed neighbors in the same frame still
    # decode. (The reference loops blindly over the claimed count,
    # cbc20.rs:62-71 — same capability, without the DoS.)
    head = "e86e7c5f" + "0" * 62 + "40" + "0" * 62 + "a0"
    one_recipient = ("0" * 20 + ADDR_A) + ("0" * 63 + "1") + WORD_1
    rows = [
        ("huge", head + "f" * 64 + one_recipient),
        ("zero", head + "0" * 64 + one_recipient),
        ("nonhex", head + "0" * 48 + "z" * 16 + one_recipient),
        ("mixed", head + "0" * 48 + "12zz56789abcdef0" + one_recipient),
        # claims 3 recipients, payload carries 1 (length < 264 + 128*3)
        ("lying", head + "0" * 63 + "3" + one_recipient),
        # over-long count that would overflow even u64 parsing
        ("wide", head + "0" * 40 + "f" * 24 + one_recipient),
        ("null", None),
        ("trunc", head[:40]),
        # the well-formed control: count=1 and the payload carries it
        ("good", head + "0" * 63 + "1" + one_recipient),
        # trailing garbage after a complete payload is ignored
        ("tail", head + "0" * 63 + "1" + one_recipient + "f"),
    ]
    txs = spark.createDataFrame(
        [(h, 1, SENDER, CONTRACT, i) for h, i in rows],
        "hash string, block_number long, from_addr string, to_addr string, input string",
    )
    out = D.extract_token_transfers(txs, CONTRACT).collect()
    assert {r.tx_hash for r in out} == {"good", "tail"}
    good = next(r for r in out if r.tx_hash == "good")
    assert (good.to_addr, good.value, good.transfer_index) == (ADDR_A, WORD_1, 0)
    # and the predicate itself is exported for drop audits
    flagged = txs.filter(
        (F.substring("input", 1, 8) == D.SELECTOR_BATCH_TRANSFER)
        & ~F.coalesce(D.batch_wellformed(F.col("input")), F.lit(False))
    )
    assert {r.hash for r in flagged.collect()} == {
        "huge", "zero", "nonhex", "mixed", "lying", "wide", "trunc",
    }


def _names_types(schema):
    return [(f.name, f.dataType) for f in schema.fields]


def test_normalize_blocks_schema_and_invariants(raw):
    blocks = T.normalize_blocks(raw)
    assert _names_types(blocks.schema) == _names_types(BLOCK_SCHEMA)
    agg = blocks.agg(
        F.count("*").alias("n"),
        F.sum("matured").alias("m"),
        F.sum(F.when(F.col("transaction_count") == 4, 1).otherwise(0)).alias("tc"),
        F.count("created_at").alias("ca"),
    ).collect()[0]
    assert (agg.n, agg.m, agg.tc, agg.ca) == (40, 0, 40, 40)


def test_normalize_transactions_schema_and_nulls(raw):
    txs = T.normalize_transactions(raw)
    assert _names_types(txs.schema) == _names_types(TRANSACTION_SCHEMA)
    assert txs.count() == 160
    # contract creations: to_addr coalesced to '' (transaction.rs:34)
    assert txs.filter(F.col("to_addr").isNull()).count() == 0
    assert txs.filter(F.col("to_addr") == "").count() > 0
    # tx inherits the parent block's created_at
    blocks = T.normalize_blocks(raw)
    j = txs.join(blocks.select("hash", F.col("created_at").alias("b_ca")),
                 txs["block_hash"] == blocks["hash"])
    assert j.filter(F.col("created_at") != F.col("b_ca")).count() == 0


def test_fixture_chain_contiguity(raw):
    blocks = T.normalize_blocks(raw)
    parent = blocks.select(F.col("hash").alias("p_hash"), (F.col("number") + 1).alias("child"))
    broken = (
        blocks.filter(F.col("number") > 0)
        .join(parent, blocks["number"] == parent["child"])
        .filter(F.col("parent_hash") != F.col("p_hash"))
    )
    assert broken.count() == 0


def test_address_filter(raw):
    txs = T.normalize_transactions(raw)
    kept = T.filter_addresses(txs, {FX.KNOWN_ADDR})
    assert 0 < kept.count() < txs.count()
    bad = kept.filter(
        (F.col("from_addr") != FX.KNOWN_ADDR) & (F.col("to_addr") != FX.KNOWN_ADDR)
    )
    assert bad.count() == 0


def test_fixture_end_to_end_extraction(raw):
    """Fixture decode counts follow the calldata cycle: k=31*num+i, CBC20 iff
    k%3==0 or k%7==0 or k%11==0 (minus every-13th contract creations)."""
    txs = T.normalize_transactions(raw)
    receipts = FX.receipts(raw)
    transfers = D.extract_token_transfers(txs, FX.WATCH_CONTRACT, receipts=receipts)
    n_single = n_from = n_batch_rows = 0
    for num in range(40):
        for i in range(4):
            k = num * 31 + i
            if k % 13 == 0:  # contract creation, to=NULL→'' — never matches
                continue
            if k % 11 == 0:
                n_batch_rows += 1 + num % 3
            elif k % 7 == 0:
                n_from += 1
            elif k % 3 == 0:
                n_single += 1
    assert transfers.count() == n_single + n_from + n_batch_rows
    assert transfers.filter(F.col("status") == 0).count() > 0
    # every decoded address is a 44-char hex word, every value 64-char
    bad = transfers.filter(
        (F.length("to_addr") != 44) | (F.length("value") != 64)
        | (F.length("from_addr") != 44)
    )
    assert bad.count() == 0


def test_propagate_created_at(raw):
    blocks = T.normalize_blocks(raw)
    txs = T.normalize_transactions(raw)
    transfers = D.extract_token_transfers(txs, FX.WATCH_CONTRACT).withColumn(
        "created_at", F.lit(None).cast("timestamp")
    )
    out = T.propagate_created_at(transfers, txs, blocks)
    assert out.filter(F.col("created_at").isNull()).count() == 0
    assert out.count() == transfers.count()


def test_u256_hex_to_decimal(spark):
    cases = [
        ("00", 0),
        ("0x1f", 31),
        ("ffffffffffffffff", 2**64 - 1),          # 64-bit max
        ("10000000000000000", 2**64),             # needs the two-limb path
        ("0" * 32 + hex(10**38 - 1)[2:], 10**38 - 1),  # Decimal(38) max, full word
        ("0" * 32 + "f" * 32, None),              # 2^128-1: 39 digits → NULL
        ("f" * 64, None),                         # >128 bits → NULL (policy)
        (WORD_1, 1),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "h string")
    got = [r.v for r in df.select(u256.hex_u256_to_decimal(F.col("h")).alias("v"))
           .collect()]
    assert [None if v is None else int(v) for v in got] == [e for _, e in cases]


def test_u256_dec_and_long(spark):
    df = spark.createDataFrame([("123456789012345678901234567890", "ff")], "d string, h string")
    r = df.select(
        u256.dec_u256_to_decimal(F.col("d")).alias("d"),
        u256.hex_to_long(F.col("h")).alias("l"),
    ).collect()[0]
    assert int(r.d) == 123456789012345678901234567890 and r.l == 255


def test_load_tables_normalizes_both_ts_encodings(spark, tmp_path):
    """The driver's generator has shipped events.ts two ways across rounds:
    INT64 TIMESTAMP(NANOS) (read as long under nanosAsLong) and
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ).
    load_tables must deliver plain TimestampType with identical values
    for both."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from core_etl_spark.io import load_tables

    t0 = dt.datetime(2024, 1, 1, 12, 30, 0, 250000)
    micros = int(t0.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)

    nanos_dir = tmp_path / "enc_nanos"
    ntz_dir = tmp_path / "enc_ntz"
    for d in (nanos_dir, ntz_dir):
        d.mkdir()
    pq.write_table(
        pa.table({"event_id": [1], "ts": pa.array([micros * 1000], pa.timestamp("ns"))}),
        str(nanos_dir / "events.parquet"),
    )
    pq.write_table(
        pa.table({"event_id": [1], "ts": pa.array([micros], pa.timestamp("us"))}),
        str(ntz_dir / "events.parquet"),
    )

    for d in (nanos_dir, ntz_dir):
        df = load_tables(spark, str(d), ("events",), register=False)["events"]
        assert str(df.schema["ts"].dataType) == "TimestampType()", str(d)
        [row] = df.collect()
        assert row.ts == t0, (str(d), row.ts)


# --- r15 review: wire normalization + propagation fixes ----------------------


def test_wire_block_normalization_roundtrip():
    from core_etl_spark.sources.provider import _normalize_wire_block

    wire = {
        "number": "0x2a",
        "hash": "0x" + "ab" * 32,
        "parentHash": "0x" + "cd" * 32,
        "energyLimit": "0x7a1200",
        "energyUsed": 100,
        "timestamp": "0x6553f000",
        "difficulty": "0xff",
        "totalDifficulty": "255",
        "extraData": "0x00",
        "transactions": [
            {
                "hash": "0x" + "ee" * 32,
                "transactionIndex": "0x1",
                "from": "0x" + "aa" * 22,
                "to": "0x" + "bb" * 22,
                "value": "0xde0b6b3a7640000",  # 10^18
                "energyPrice": "0x3b9aca00",
                "input": "0x4b40e901" + "0" * 128,
                "blockHash": "0x" + "ab" * 32,
            }
        ],
    }
    out = _normalize_wire_block(wire)
    assert out["number"] == 42
    assert out["hash"] == "ab" * 32 and out["parent_hash"] == "cd" * 32
    assert out["energy_limit"] == 8000000 and out["timestamp"] == 0x6553F000
    assert out["difficulty"] == "255" and out["total_difficulty"] == "255"
    tx = out["transactions"][0]
    assert tx["transaction_index"] == 1
    assert tx["value"] == str(10**18)
    assert tx["energy_price"] == "1000000000"
    assert tx["input"].startswith("4b40e901")  # decode offsets now line up
    assert tx["block_hash"] == "ab" * 32

    # canonical (fixture-shaped) input passes through unchanged
    canonical = {"number": 7, "hash": "ff" * 32, "timestamp": 1700000000,
                 "difficulty": "123", "transactions": []}
    assert _normalize_wire_block(dict(canonical)) == canonical
    # an error envelope / header fragment with no height is NOT a block
    assert _normalize_wire_block({"jsonrpc": "2.0", "code": -32000}) is None
    assert _normalize_wire_block({"number": "garbage"}) is None


def test_rpc_fetch_skips_error_replies(spark):
    import json as _json

    from core_etl_spark.sources.provider import RpcBlockProvider

    def transport(method, params):
        if method == "xcb_getBlockByNumber":
            n = int(_json.loads(params)[0], 16)
            if n == 2:
                raise RuntimeError("block not found")  # RpcError-shaped
            return _json.dumps({"number": hex(n), "hash": "aa" * 32,
                                "timestamp": 1700000000 + n,
                                "transactions": []})
        raise AssertionError(method)

    provider = RpcBlockProvider(transport=transport, chunk_size=10)
    got = sorted(r.number for r in provider.fetch_blocks(spark, 0, 4).collect())
    assert got == [0, 1, 3, 4]  # height 2 skipped, stage alive


def test_chain_tip_quantity_forms():
    import json as _json

    import pytest

    from core_etl_spark.sources.provider import RpcBlockProvider

    def mk(reply):
        return RpcBlockProvider(transport=lambda m, p: _json.dumps(reply))

    assert mk("0x2a").chain_tip() == 42
    assert mk("42").chain_tip() == 42
    assert mk(42).chain_tip() == 42
    with pytest.raises(ValueError, match="non-quantity"):
        mk(None).chain_tip()
    with pytest.raises(ValueError, match="non-quantity"):
        mk("garbage").chain_tip()


def test_propagate_created_at_survives_null_block_hash(spark):
    # r15 review: the block-hash hop misses for a dirty NULL-hash block,
    # but the tx row carries the timestamp — coalesce, don't overwrite
    from core_etl_spark.operators import transforms as T

    blocks = spark.createDataFrame(
        [(1, None, "2024-01-01 00:00:00")],
        "number long, hash string, created_at string",
    ).select("number", "hash", F.col("created_at").cast("timestamp"))
    txs = spark.createDataFrame(
        [("t1", "", 1, "2024-01-01 00:00:00")],
        "hash string, block_hash string, block_number long, created_at string",
    ).select("hash", "block_hash", "block_number",
             F.col("created_at").cast("timestamp"))
    transfers = spark.createDataFrame(
        [("t1", None)], "tx_hash string, block_number long"
    )
    out = T.propagate_created_at(transfers, txs, blocks).collect()[0]
    assert out.created_at is not None
    assert out.block_number == 1


def test_normalize_blocks_null_tx_array_counts_zero(spark):
    from core_etl_spark.operators import transforms as T
    from core_etl_spark.sources import fixtures as FX

    raw = FX.raw_blocks(spark, n_blocks=2, txs_per_block=1)
    nulled = raw.withColumn(
        "transactions",
        F.when(F.col("number") == 0, F.lit(None)).otherwise(F.col("transactions")),
    )
    out = {r.number: r.transaction_count for r in T.normalize_blocks(nulled).collect()}
    assert out[0] == 0 and out[1] == 1


def test_load_tables_view_follows_sf_dir(spark, tmp_path):
    # r15 review (live-verified): the view-registered flag was global per
    # (dir, table) but the temp view is global per session — alternating
    # sf_dirs left spark.sql() reading whichever dir registered LAST.
    import os

    from core_etl_spark.io import load_tables

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(a); os.makedirs(b)
    spark.createDataFrame([(1,)], "v long").write.parquet(f"{a}/region.parquet")
    spark.createDataFrame([(2,)], "v long").write.parquet(f"{b}/region.parquet")
    load_tables(spark, a, ("region",))
    assert spark.sql("select v from region").collect()[0].v == 1
    load_tables(spark, b, ("region",))
    assert spark.sql("select v from region").collect()[0].v == 2
    load_tables(spark, a, ("region",))  # cache hit — view must follow
    assert spark.sql("select v from region").collect()[0].v == 1


def test_normalize_blocks_is_row_preserving(spark):
    """r16 review pin: every ingest caller passes write_all a verified_hi
    proved over the RAW batch (the backfill's contiguity probe, the
    streaming tail's contiguity guard) — sound only while normalize_blocks
    never drops a row.
    Exercised on the DIRTY fixture (NULL hashes, NULL transactions,
    malformed fields): every raw row must yield exactly one block row."""
    from core_etl_spark.operators.transforms import normalize_blocks
    from core_etl_spark.sources import fixtures as FX

    for dirty in (False, True):
        raw = FX.raw_blocks(spark, n_blocks=60, txs_per_block=3, dirty=dirty)
        assert normalize_blocks(raw).count() == raw.count(), f"dirty={dirty}"


def test_u256_garbage_hex_is_null_never_zero(spark):
    """conv('zz',16,10) returns '0' (verified live) — without the hex
    validity gate, garbage words silently became ZERO and were counted
    into downstream aggregates instead of excluded (r16 review; the
    module's documented policy is malformed → NULL)."""
    cases = ["zz", "", "0x", "12g4", "0xgg", None, "1f", "0x1f", "00"]
    df = spark.createDataFrame([(h,) for h in cases], "h string")
    got = df.select(
        u256.hex_to_long(F.col("h")).alias("l"),
        u256.hex_u256_to_decimal(F.col("h")).alias("d"),
    ).collect()
    expect = [None, None, None, None, None, None, 31, 31, 0]
    assert [r.l for r in got] == expect
    assert [None if r.d is None else int(r.d) for r in got] == expect
