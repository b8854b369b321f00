"""Maintenance & streaming specs — SURVEY §2.3 (K6-K10) and §2.6 (O1-O3).

K6 (maturity) and K10 (reorg detection) are pure transforms, so they get
full DuckDB oracles over a shared-dialect fixture CTE (same pattern as
decode_specs). The genuinely stateful ops — K7/K8 partition rewrite, the O2
streaming tail with checkpointing — run a real temp warehouse inside the
builder and return a *summary DataFrame* of the resulting state. Since r09
these are oracle-backed too: the builders run deterministically (pinned
fixture mtimes, one file per trigger) and the summary reduces to something
DuckDB can replay — o2's streamed warehouse must digest-equal a clean batch
backfill (o1's shared fixture-regeneration oracle), and the o2b/o2c/o2e/o2f
state machines are replayed with recursive CTEs / window SQL (see each
spec's oracle comment). The invariant assertions additionally live in
tests/test_lake.py and tests/test_streaming.py.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.maintenance import detect_reorgs, with_maturity
from .base import register

#: shared-dialect chain fixture: heights 0..149 from customer keys, with a
#: deterministic hash chain (md5 of the height, parent = md5 of height-1).
CHAIN_CTE = """
chain AS (
    SELECT CAST(c_custkey AS BIGINT) - 1 AS number,
           md5(concat('blk', CAST(c_custkey - 1 AS STRING))) AS hash,
           CASE WHEN c_custkey = 1 THEN repeat('0', 32)
                ELSE md5(concat('blk', CAST(c_custkey - 2 AS STRING))) END AS parent_hash
    FROM customer WHERE c_custkey <= 150
)
"""

_CHAIN_SQL = f"WITH {CHAIN_CTE} SELECT * FROM chain"


@register(
    "k06_maturity_flag",
    tables=("customer",),
    oracle=f"""
        WITH {CHAIN_CTE}
        SELECT number,
               CAST(CASE WHEN number <= (SELECT max(number) FROM chain) - 5
                    THEN 1 ELSE 0 END AS BIGINT) AS matured
        FROM chain
    """,
    tags=("k6", "maintenance", "agg"),
)
def k06(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """K6 — maturity recomputed against the tip (reference mutates in place
    at sqlite3.rs:213-228, driven at etl.rs:171; we derive it, so the flag
    can never go stale). The tip agg broadcasts into the projection."""
    chain = spark.sql(_CHAIN_SQL)
    return with_maturity(chain, depth=5).select("number", "matured")


@register(
    "k10_reorg_detect",
    tables=("customer",),
    oracle=f"""
        WITH {CHAIN_CTE},
        incoming AS (
            SELECT number,
                   CASE WHEN number % 40 = 7 THEN md5(concat('fork', CAST(number AS STRING)))
                        ELSE hash END AS hash,
                   CASE WHEN number % 40 = 23 THEN md5(concat('fork', CAST(number AS STRING)))
                        ELSE parent_hash END AS parent_hash
            FROM chain WHERE number >= 100
        ),
        same_height AS (
            SELECT s.number AS forked_number
            FROM incoming i JOIN chain s ON i.number = s.number
            WHERE i.hash IS DISTINCT FROM s.hash
        ),
        parent_mismatch AS (
            SELECT s.number AS forked_number
            FROM incoming i JOIN chain s ON i.number - 1 = s.number
            WHERE i.parent_hash IS NOT NULL AND s.hash IS NOT NULL
              AND i.parent_hash <> s.hash
        )
        SELECT DISTINCT forked_number
        FROM (SELECT * FROM same_height UNION ALL SELECT * FROM parent_mismatch)
    """,
    tags=("k10", "maintenance", "join"),
)
def k10(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """K10 — reorg detection: same-height hash conflicts (the reference's
    insert-PK-conflict signal, etl.rs:147-169) plus parent-hash mismatches
    at height-1. Incoming headers 100+ carry injected forks at number%40==7
    (re-issued hash) and %40==23 (broken parent link)."""
    chain = spark.sql(_CHAIN_SQL)
    incoming = chain.filter(F.col("number") >= 100).select(
        "number",
        F.when(
            F.col("number") % 40 == 7,
            F.md5(F.concat(F.lit("fork"), F.col("number").cast("string"))),
        ).otherwise(F.col("hash")).alias("hash"),
        F.when(
            F.col("number") % 40 == 23,
            F.md5(F.concat(F.lit("fork"), F.col("number").cast("string"))),
        ).otherwise(F.col("parent_hash")).alias("parent_hash"),
    )
    return detect_reorgs(chain, incoming)


#: dirty reorg fixture (r14 chain-corruption audit): the stored chain has
#: NULL hashes at number % 17 == 3 (a corrupt warehouse row); the incoming
#: batch carries the k10 forks PLUS NULL hashes (% 40 == 11) and NULL
#: parent links (% 40 == 31) — what a flaky node actually returns.
_K10X_STORED = """
stored AS (
    SELECT number,
           CASE WHEN number % 17 = 3 THEN NULL ELSE hash END AS hash,
           parent_hash
    FROM chain
)
"""

_K10X_INCOMING = """
incoming AS (
    SELECT number,
           CASE WHEN number % 40 = 7 THEN md5(concat('fork', CAST(number AS STRING)))
                WHEN number % 40 = 11 THEN NULL
                ELSE hash END AS hash,
           CASE WHEN number % 40 = 23 THEN md5(concat('fork', CAST(number AS STRING)))
                WHEN number % 40 = 31 THEN NULL
                ELSE parent_hash END AS parent_hash
    FROM chain WHERE number >= 100
)
"""


@register(
    "k10x_reorg_detect_dirty",
    tables=("customer",),
    oracle=f"""
        WITH {CHAIN_CTE}, {_K10X_STORED}, {_K10X_INCOMING},
        same_height AS (
            SELECT s.number AS forked_number
            FROM incoming i JOIN stored s ON i.number = s.number
            WHERE i.hash IS DISTINCT FROM s.hash
        ),
        parent_mismatch AS (
            SELECT s.number AS forked_number
            FROM incoming i JOIN stored s ON i.number - 1 = s.number
            WHERE i.parent_hash IS NOT NULL AND s.hash IS NOT NULL
              AND i.parent_hash <> s.hash
        )
        SELECT DISTINCT forked_number
        FROM (SELECT * FROM same_height UNION ALL SELECT * FROM parent_mismatch)
    """,
    tags=("k10", "maintenance", "join", "adversarial"),
)
def k10x(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """K10 on CORRUPT hashes, with per-signal null semantics (r15 —
    operators/maintenance.py::detect_reorgs): a NULL hash at the SAME
    height flags (the batch carries the replacement, so flag-on-NULL
    self-heals by re-ingest; with plain ``!=`` the NULL predicate dropped
    the row and a reorg at a corrupt height was invisible — r14 audit),
    while the PARENT-mismatch signal requires definite disagreement —
    the r14 flag-on-unknowable-parent let one NULL-hash block at a
    micro-batch boundary truncate data the stream could never restore
    (found by the nb=3000 dirty-chain soak, scripts/dirty_chain_soak.py)."""
    chain = spark.sql(_CHAIN_SQL)
    stored = chain.select(
        "number",
        F.when(F.col("number") % 17 == 3, F.lit(None).cast("string"))
        .otherwise(F.col("hash")).alias("hash"),
        "parent_hash",
    )
    fork = F.md5(F.concat(F.lit("fork"), F.col("number").cast("string")))
    incoming = chain.filter(F.col("number") >= 100).select(
        "number",
        F.when(F.col("number") % 40 == 7, fork)
        .when(F.col("number") % 40 == 11, F.lit(None).cast("string"))
        .otherwise(F.col("hash")).alias("hash"),
        F.when(F.col("number") % 40 == 23, fork)
        .when(F.col("number") % 40 == 31, F.lit(None).cast("string"))
        .otherwise(F.col("parent_hash")).alias("parent_hash"),
    )
    return detect_reorgs(stored, incoming)


@contextmanager
def _shuffle_partitions(spark: SparkSession, n: int):
    """Scope ``spark.sql.shuffle.partitions`` to the stateful fixture specs:
    their inputs are a few hundred rows, so the session's cluster-sized
    partition count buys nothing and costs a task (and, for streaming, a
    state-store instance) per partition per micro-batch. Restored on exit —
    the production pipeline keeps the session default, which IS sized to the
    data (SURVEY §4)."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _temp_lake(spark: SparkSession, n_blocks: int, bucket: int = 25):
    from ..lake import Lake
    from ..operators.transforms import normalize_blocks, normalize_transactions
    from ..sources.fixtures import raw_blocks

    root = tempfile.mkdtemp(prefix="lake_spec_")
    lake = Lake(spark, root, bucket_size=bucket)
    raw = raw_blocks(spark, n_blocks=n_blocks, txs_per_block=2)
    lake.write_all(normalize_blocks(raw), normalize_transactions(raw))
    return lake, root


@register(
    "k78_partition_mutations",
    tables=(),
    # The mutation end-state IS deterministic: the fixture chain is pure
    # md5 expressions over range(100) (sources/fixtures.py:30-33), and
    # clean(42) + truncate_from_last_saved(30) are two DELETEs (reference
    # sqlite3.rs:272-392) — so DuckDB can regenerate the whole surviving
    # warehouse and the riskiest code in lake.py sits under the driver's
    # value hash instead of a row count (VERDICT r05 stretch #7).
    oracle="""
        WITH b AS (
            SELECT range AS number,
                   md5('blk' || CAST(range AS VARCHAR))
                     || md5('blk' || CAST(range AS VARCHAR) || 'x') AS hash,
                   CASE WHEN range = 0 THEN repeat('0', 64)
                        ELSE md5('blk' || CAST(range - 1 AS VARCHAR))
                          || md5('blk' || CAST(range - 1 AS VARCHAR) || 'x')
                   END AS parent_hash,
                   CAST(1700000000 + range * 7 AS BIGINT) AS ts
            FROM range(0, 100)
        )
        SELECT CAST(number AS BIGINT) AS number, hash, parent_hash, ts,
               CAST(2 AS BIGINT) AS n_txs
        FROM b
        WHERE number <> 42      -- clean_blocks([42])
          AND number <= 99 - 30 -- truncate_from_last_saved(30): tip stays 99
    """,
    tags=("k7", "k8", "maintenance", "mutation"),
)
def k78(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """K7+K8 — reorg clean of one height and truncate-last-N as
    partition-scoped rewrites on a real temp warehouse; returns the full
    surviving blocks table joined (full-outer, so orphaned tx rows would
    surface as null-hash rows) with per-height tx counts — the exact
    end-state the oracle regenerates. Invariants in tests/test_lake.py."""
    with _shuffle_partitions(spark, 8):
        lake, root = _temp_lake(spark, n_blocks=100)
        try:
            lake.clean_blocks([42])
            lake.truncate_from_last_saved(30)
            final = lake.blocks().select(
                "number", "hash", "parent_hash", F.col("timestamp").alias("ts")
            )
            txn = (
                lake.transactions()
                .groupBy(F.col("block_number").alias("number"))
                .agg(F.count("*").alias("n_txs"))
            )
            out = final.join(txn, "number", "full_outer").select(
                "number", "hash", "parent_hash", "ts",
                F.coalesce("n_txs", F.lit(0)).alias("n_txs"),
            )
            # the lake dirs die with the spec, so materialize before cleanup
            out = out.localCheckpoint(eager=True)
            return out
        finally:
            shutil.rmtree(root, ignore_errors=True)


# --- shared fixture-replay SQL (sources/fixtures.py in the DuckDB dialect) --

_FX_NV = "CAST(num AS VARCHAR)"


def _fx_h64(p: str, key: str) -> str:
    return f"md5('{p}'||{key})||md5('{p}'||{key}||'x')"


def _fx_a44(p: str, key: str) -> str:
    return f"md5('{p}'||{key})||substr(md5('{p}'||{key}||'y'),1,12)"


def _fx_digest(concat: str) -> str:
    """Order-insensitive exact-integer digest: sum of a 32-bit md5 prefix
    of the canonical row string (CAST guards DuckDB's HUGEINT sum)."""
    return f"CAST(sum(CAST('0x'||substr(md5({concat}),1,8) AS BIGINT)) AS BIGINT)"


def _fx_blk_cte(nb: int) -> str:
    """``nums`` + ``blk`` CTE bodies regenerating raw_blocks' header columns."""
    nv = _FX_NV
    return f"""nums AS (SELECT range AS num FROM range(0, {nb})),
        blk AS (
            SELECT num,
                   {_fx_h64('blk', nv)} AS hash,
                   CASE WHEN num = 0 THEN repeat('0', 64)
                        ELSE {_fx_h64('blk', 'CAST(num - 1 AS VARCHAR)')} END AS parent_hash,
                   {_fx_h64('nonce', nv)} AS nonce,
                   {_fx_h64('uncles', nv)} AS sha3_uncles,
                   {_fx_h64('bloom', nv)} AS logs_bloom,
                   {_fx_h64('txroot', nv)} AS transactions_root,
                   {_fx_h64('stroot', nv)} AS state_root,
                   {_fx_h64('rcroot', nv)} AS receipts_root,
                   {_fx_a44('miner', 'CAST(num % 5 AS VARCHAR)')} AS miner,
                   CAST(num * 1000 + 12345 AS VARCHAR) AS difficulty,
                   CAST(num * num * 500 + 99999 AS VARCHAR) AS total_difficulty,
                   ((num % 1000) * 7919) % 8000000 AS energy_used,
                   1700000000 + num * 7 AS ts
            FROM nums
        )"""


def _fx_blk_concat(tpb: int) -> str:
    """Canonical blocks-row string in BLOCK_SCHEMA column order."""
    return (
        "concat_ws('|', num, hash, parent_hash, nonce, sha3_uncles, logs_bloom,"
        " transactions_root, state_root, receipts_root, miner, difficulty,"
        f" total_difficulty, '00', 8000000, energy_used, ts, {tpb}, 0, ts)"
    )


#: Spark-side canonical column list matching ``_fx_blk_concat`` — built at
#: call time because it needs F.col expressions.
def _blk_digest_cols():
    return ["number", "hash", "parent_hash", "nonce", "sha3_uncles",
            "logs_bloom", "transactions_root", "state_root", "receipts_root",
            "miner", "difficulty", "total_difficulty", "extra_data",
            "energy_limit", "energy_used", "timestamp", "transaction_count",
            "matured", F.col("created_at").cast("long")]


def _digest_frame(df: DataFrame, tbl: str, cols: list) -> DataFrame:
    """(tbl, n_rows, digest) — the Spark twin of ``_fx_digest``."""
    s = F.concat_ws("|", *cols)
    return df.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(
            F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
        ).alias("digest"),
    ).select(F.lit(tbl).alias("tbl"), "n_rows", "digest")


def _o1_oracle(nb: int = 500, tpb: int = 4, extra: str | None = None) -> str:
    """DuckDB replay of the ENTIRE ingest end-state: the fixture chain
    (sources/fixtures.py raw_blocks — pure md5/arithmetic over range(nb)
    × tpb txs) normalized, CBC20-decoded, and receipt-joined exactly as
    the ingest path does, then collapsed to one (tbl, n_rows, digest) row
    per lake table. The digest is an order-insensitive exact-integer sum
    of a 32-bit md5 prefix over every business column, so any divergence
    in any column of any row of the warehouse breaks the hash row.
    ``extra`` overrides the trailing select columns (o1 appends its
    backfill counters; o2 its tip) — the tail path MUST converge to the
    same warehouse a clean backfill produces, which is exactly what
    sharing this oracle between o1 and o2 asserts."""
    known = "ab" * 22
    watch = "c" * 44
    kv = "CAST(k AS VARCHAR)"
    h64, a44 = _fx_h64, _fx_a44

    def w(e: str) -> str:
        return f"lpad({e},64,'0')"

    vw = f"lpad(substr(md5({kv}),1,16),64,'0')"
    transfer_input = f"'4b40e901'||{w(a44('t', kv))}||{vw}"
    tfrom_input = f"'31f2e679'||{w(a44('f', kv))}||{w(a44('t', kv))}||{vw}"
    n_b = "(1 + num % 3)"
    count_word = f"lpad(CAST({n_b} AS VARCHAR),64,'0')"

    def batch_words(tag: str) -> str:
        ws = [w(a44(tag, f"CAST(k*10+{j} AS VARCHAR)")) for j in (1, 2, 3)]
        return (
            f"CASE {n_b} WHEN 1 THEN {ws[0]} WHEN 2 THEN {ws[0]}||{ws[1]} "
            f"ELSE {ws[0]}||{ws[1]}||{ws[2]} END"
        )

    batch_input = (
        f"'e86e7c5f'||{w(chr(39) + '40' + chr(39))}||{w(chr(39) + '80' + chr(39))}"
        f"||{count_word}||{batch_words('bt')}||{count_word}||{batch_words('bv')}"
    )
    status = (
        "CASE WHEN CAST('0x'||substr(md5('tx'||CAST(k AS VARCHAR)),1,4) AS BIGINT)"
        " % 17 = 0 THEN 0 ELSE 1 END"
    )

    digest = _fx_digest
    blk_concat = _fx_blk_concat(tpb)
    tx_concat = (
        "concat_ws('|', hash, nonce, block_hash, num, i, from_addr, to_addr,"
        " value, '21000', CAST(10 + k % 90 AS VARCHAR), input, ts)"
    )
    xf_concat = (
        f"concat_ws('|', num, f, t2, v, tx_hash, '{watch}', transfer_index,"
        f" {status}, ts)"
    )
    return f"""
        WITH {_fx_blk_cte(nb)},
        blocks_d AS (
            SELECT 'blocks' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
                   {digest(blk_concat)} AS digest
            FROM blk
        ),
        txd AS (
            SELECT t.num, t.ts, t.hash AS block_hash, i.i, t.num * 31 + i.i AS k
            FROM blk t CROSS JOIN
                 (SELECT unnest(generate_series(0, {tpb - 1})) AS i) i
        ),
        txf AS (
            SELECT num, ts, block_hash, i, k,
                   {h64('tx', kv)} AS hash,
                   upper(to_hex(k % 100)) AS nonce,
                   CASE WHEN k % 5 = 0 THEN '{known}' ELSE {a44('s', kv)} END AS from_addr,
                   CASE WHEN k % 13 = 0 THEN ''
                        WHEN (k % 3 = 0 OR k % 7 = 0 OR k % 11 = 0) THEN '{watch}'
                        WHEN k % 4 = 0 THEN '{known}'
                        ELSE {a44('r', kv)} END AS to_addr,
                   CAST(k * 1000000007 AS VARCHAR) AS value,
                   CASE WHEN k % 11 = 0 THEN {batch_input}
                        WHEN k % 7 = 0 THEN {tfrom_input}
                        WHEN k % 3 = 0 THEN {transfer_input}
                        ELSE '0x' END AS input
            FROM txd
        ),
        txs_d AS (
            SELECT 'transactions' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
                   {digest(tx_concat)} AS digest
            FROM txf
        ),
        x_single AS (
            SELECT num, ts, k, hash AS tx_hash, from_addr AS f,
                   {a44('t', kv)} AS t2, {vw} AS v,
                   CAST(0 AS BIGINT) AS transfer_index
            FROM txf
            WHERE k % 3 = 0 AND k % 7 <> 0 AND k % 11 <> 0 AND k % 13 <> 0
        ),
        x_from AS (
            SELECT num, ts, k, hash AS tx_hash, {a44('f', kv)} AS f,
                   {a44('t', kv)} AS t2, {vw} AS v,
                   CAST(0 AS BIGINT) AS transfer_index
            FROM txf
            WHERE k % 7 = 0 AND k % 11 <> 0 AND k % 13 <> 0
        ),
        x_batch AS (
            SELECT t.num, t.ts, t.k, t.hash AS tx_hash, t.from_addr AS f,
                   {a44('bt', 'CAST(t.k*10 + j.j AS VARCHAR)')} AS t2,
                   lpad({a44('bv', 'CAST(t.k*10 + j.j AS VARCHAR)')}, 64, '0') AS v,
                   CAST(j.j - 1 AS BIGINT) AS transfer_index
            FROM txf t
            JOIN (SELECT unnest(generate_series(1, 3)) AS j) j
              ON j.j <= 1 + t.num % 3
            WHERE t.k % 11 = 0 AND t.k % 13 <> 0
        ),
        xfers AS (
            SELECT * FROM x_single
            UNION ALL SELECT * FROM x_from
            UNION ALL SELECT * FROM x_batch
        ),
        xfers_d AS (
            SELECT 'token_transfers' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
                   {digest(xf_concat)} AS digest
            FROM xfers
        )
        SELECT tbl, n_rows, digest,
               {extra or f"CAST({nb} AS BIGINT) AS n_backfilled, CAST(0 AS BIGINT) AS n_resumed"}
        FROM (SELECT * FROM blocks_d
              UNION ALL SELECT * FROM txs_d
              UNION ALL SELECT * FROM xfers_d)
    """


def _o1x_oracle(nb: int = 200, tpb: int = 4, extra: str | None = None) -> str:
    """DuckDB replay of the DIRTY-chain ingest end-state (r14, VERDICT r13
    directive 1): the fixture chain with ``dirty=True`` corruption
    (sources/fixtures.py — NULL block ts/hash, NULL/truncated/odd-length
    calldata, lying batch count words, NULL recipients), normalized with
    the reference's NULL-defaults (``to``→'', ``input``→'0x',
    ``block_hash``→'', transaction.rs:26-36), CBC20-decoded through the
    well-formed-batch gate, and digested per table. Unlike
    :func:`_o1_oracle` (which replays transfer columns from the generator
    formulas), the transfer legs here SLICE the constructed-and-corrupted
    input — byte-for-byte what the operator decodes."""
    known = "ab" * 22
    watch = "c" * 44
    kv = "CAST(k AS VARCHAR)"
    h64, a44 = _fx_h64, _fx_a44

    def w(e: str) -> str:
        return f"lpad({e},64,'0')"

    vw = f"lpad(substr(md5({kv}),1,16),64,'0')"
    transfer_input = f"'4b40e901'||{w(a44('t', kv))}||{vw}"
    tfrom_input = f"'31f2e679'||{w(a44('f', kv))}||{w(a44('t', kv))}||{vw}"
    n_b = "(1 + num % 3)"
    count_word = f"lpad(CAST({n_b} AS VARCHAR),64,'0')"

    def batch_words(tag: str) -> str:
        ws = [w(a44(tag, f"CAST(k*10+{j} AS VARCHAR)")) for j in (1, 2, 3)]
        return (
            f"CASE {n_b} WHEN 1 THEN {ws[0]} WHEN 2 THEN {ws[0]}||{ws[1]} "
            f"ELSE {ws[0]}||{ws[1]}||{ws[2]} END"
        )

    batch_input = (
        f"'e86e7c5f'||{w(chr(39) + '40' + chr(39))}||{w(chr(39) + '80' + chr(39))}"
        f"||{count_word}||{batch_words('bt')}||{count_word}||{batch_words('bv')}"
    )
    status = (
        "CASE WHEN CAST('0x'||substr(md5('tx'||CAST(k AS VARCHAR)),1,4) AS BIGINT)"
        " % 17 = 0 THEN 0 ELSE 1 END"
    )
    digest = _fx_digest
    blk_concat = _fx_blk_concat(tpb)
    tx_concat = (
        "concat_ws('|', hash, nonce, block_hash, num, i, from_addr, to_addr,"
        " value, '21000', CAST(10 + k % 90 AS VARCHAR), input, ts)"
    )
    xf_concat = (
        f"concat_ws('|', num, from_addr, t2, v, tx_hash, '{watch}',"
        f" transfer_index, {status}, ts)"
    )
    nv = _FX_NV
    return f"""
        WITH nums AS (SELECT range AS num FROM range(0, {nb})),
        blk AS (
            SELECT num,
                   CASE WHEN num % 17 = 3 THEN NULL
                        ELSE {_fx_h64('blk', nv)} END AS hash,
                   CASE WHEN num = 0 THEN repeat('0', 64)
                        ELSE {_fx_h64('blk', 'CAST(num - 1 AS VARCHAR)')} END AS parent_hash,
                   {_fx_h64('nonce', nv)} AS nonce,
                   {_fx_h64('uncles', nv)} AS sha3_uncles,
                   {_fx_h64('bloom', nv)} AS logs_bloom,
                   {_fx_h64('txroot', nv)} AS transactions_root,
                   {_fx_h64('stroot', nv)} AS state_root,
                   {_fx_h64('rcroot', nv)} AS receipts_root,
                   {_fx_a44('miner', 'CAST(num % 5 AS VARCHAR)')} AS miner,
                   CAST(num * 1000 + 12345 AS VARCHAR) AS difficulty,
                   CAST(num * num * 500 + 99999 AS VARCHAR) AS total_difficulty,
                   ((num % 1000) * 7919) % 8000000 AS energy_used,
                   CASE WHEN num % 13 = 5 THEN NULL
                        ELSE 1700000000 + num * 7 END AS ts
            FROM nums
        ),
        blocks_d AS (
            SELECT 'blocks' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
                   {digest(blk_concat)} AS digest
            FROM blk
        ),
        txd AS (
            SELECT t.num, t.ts, coalesce(t.hash, '') AS block_hash, i.i,
                   t.num * 31 + i.i AS k
            FROM blk t CROSS JOIN
                 (SELECT unnest(generate_series(0, {tpb - 1})) AS i) i
        ),
        txf0 AS (
            SELECT num, ts, block_hash, i, k,
                   {h64('tx', kv)} AS hash,
                   upper(to_hex(k % 100)) AS nonce,
                   CASE WHEN k % 5 = 0 THEN '{known}' ELSE {a44('s', kv)} END AS from_addr,
                   CASE WHEN k % 13 = 0 THEN ''
                        WHEN (k % 3 = 0 OR k % 7 = 0 OR k % 11 = 0) THEN '{watch}'
                        WHEN k % 4 = 0 THEN '{known}'
                        ELSE {a44('r', kv)} END AS to0,
                   CASE WHEN k % 11 = 0 THEN {batch_input}
                        WHEN k % 7 = 0 THEN {tfrom_input}
                        WHEN k % 3 = 0 THEN {transfer_input}
                        ELSE '0x' END AS input0
            FROM txd
        ),
        txf AS (
            SELECT num, ts, block_hash, i, k, hash, nonce, from_addr,
                   CAST(k * 1000000007 AS VARCHAR) AS value,
                   CASE WHEN k % 19 = 7 THEN '' ELSE to0 END AS to_addr,
                   coalesce(CASE k % 19
                        WHEN 0 THEN NULL
                        WHEN 1 THEN substr(input0, 1, 40)
                        WHEN 2 THEN concat(input0, 'f')
                        WHEN 3 THEN concat(substr(input0, 1, 136),
                                           repeat('f', 64), substr(input0, 201))
                        WHEN 4 THEN concat(substr(input0, 1, 136),
                                           repeat('0', 64), substr(input0, 201))
                        WHEN 5 THEN concat(substr(input0, 1, 136), repeat('0', 48),
                                           repeat('z', 16), substr(input0, 201))
                        WHEN 6 THEN substr(input0, 1, 392)
                        ELSE input0 END, '0x') AS input
            FROM txf0
        ),
        txs_d AS (
            SELECT 'transactions' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
                   {digest(tx_concat)} AS digest
            FROM txf
        ),
        matched AS (
            SELECT * FROM txf
            WHERE to_addr = '{watch}'
              AND substr(input, 1, 8) IN ('4b40e901', 'e86e7c5f', '31f2e679')
        ),
        x_single AS (
            SELECT num, ts, k, hash AS tx_hash, from_addr,
                   substr(input, 29, 44) AS t2, substr(input, 73, 64) AS v,
                   CAST(0 AS BIGINT) AS transfer_index
            FROM matched WHERE substr(input, 1, 8) = '4b40e901'
        ),
        x_from AS (
            SELECT num, ts, k, hash AS tx_hash,
                   substr(input, 29, 44) AS from_addr,
                   substr(input, 93, 44) AS t2, substr(input, 137, 64) AS v,
                   CAST(0 AS BIGINT) AS transfer_index
            FROM matched WHERE substr(input, 1, 8) = '31f2e679'
        ),
        batch_src AS (
            SELECT * FROM (
                SELECT *,
                       CASE WHEN regexp_matches(substr(input, 137, 64),
                                                '^0{{48}}[0-9a-fA-F]{{16}}$')
                            THEN TRY_CAST('0x' || substr(input, 137, 64) AS BIGINT)
                       END AS n,
                       CAST(floor((length(input) - 264) / 128) AS BIGINT) AS n_cap
                FROM matched WHERE substr(input, 1, 8) = 'e86e7c5f'
            ) WHERE n IS NOT NULL AND n >= 1 AND n <= n_cap
        ),
        x_batch AS (
            SELECT b.num, b.ts, b.k, b.hash AS tx_hash, b.from_addr,
                   substr(b.input, 201 + 64 * j.j + 20, 44) AS t2,
                   substr(b.input, CAST(265 + 64 * b.n + 64 * j.j AS INT), 64) AS v,
                   CAST(j.j AS BIGINT) AS transfer_index
            FROM batch_src b
            JOIN (SELECT unnest(generate_series(0, 2)) AS j) j ON j.j < b.n
        ),
        xfers AS (
            SELECT * FROM x_single
            UNION ALL SELECT * FROM x_from
            UNION ALL SELECT * FROM x_batch
        ),
        xfers_d AS (
            SELECT 'token_transfers' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
                   {digest(xf_concat)} AS digest
            FROM xfers
        )
        SELECT tbl, n_rows, digest,
               {extra or f"CAST({nb} AS BIGINT) AS n_backfilled, CAST(0 AS BIGINT) AS n_resumed"}
        FROM (SELECT * FROM blocks_d
              UNION ALL SELECT * FROM txs_d
              UNION ALL SELECT * FROM xfers_d)
    """


@register(
    "o1_backfill_pipeline",
    tables=(),
    oracle=_o1_oracle(),
    tags=("o1", "o3", "pipeline", "etl", "mutation"),
    headline=True,  # tracks end-to-end ingest cost per round
)
def o1(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """O1+O3 — chunked backfill of the fixture chain (normalize + CBC20
    decode + receipt join + partitioned write), then resume is a no-op.
    Returns one (tbl, n_rows, digest) row per ingested lake table — the
    digest is an order-insensitive exact sum of a 32-bit md5 prefix over
    EVERY business column, recomputed by DuckDB from the fixture formulas
    (reference etl.rs:251-336; invariant tests in tests/test_pipeline.py).
    The r6 rows-only gate is now a full value hash over the warehouse
    end-state (VERDICT r06 directive 3, same trick as k78)."""
    import shutil as _sh
    import tempfile as _tf

    from ..lake import Lake
    from ..pipeline import backfill
    from ..sources.fixtures import WATCH_CONTRACT
    from ..sources.provider import FixtureBlockProvider

    root = _tf.mkdtemp(prefix="backfill_spec_")
    lake = Lake(spark, root, bucket_size=125)
    try:
        with _shuffle_partitions(spark, 8):
            provider = FixtureBlockProvider(n_blocks=500, txs_per_block=4)
            n = backfill(spark, lake, provider, (WATCH_CONTRACT,), chunk_size=250)
            resumed = backfill(spark, lake, provider)  # must be 0
            epoch = F.col("created_at").cast("long")
            out = (
                _digest_frame(lake.blocks(), "blocks", _blk_digest_cols())
                .unionByName(_digest_frame(
                    lake.transactions(), "transactions",
                    ["hash", "nonce", "block_hash", "block_number",
                     "transaction_index", "from_addr", "to_addr", "value",
                     "energy", "energy_price", "input", epoch],
                ))
                .unionByName(_digest_frame(
                    lake.token_transfers(), "token_transfers",
                    ["block_number", "from_addr", "to_addr", "value", "tx_hash",
                     "address", "transfer_index", "status", epoch],
                ))
                .withColumn("n_backfilled", F.lit(n).cast("long"))
                .withColumn("n_resumed", F.lit(resumed).cast("long"))
            )
            # the lake dirs die with the spec — materialize before cleanup
            return out.localCheckpoint(eager=True)
    finally:
        _sh.rmtree(root, ignore_errors=True)


@register(
    "o1x_backfill_dirty_chain",
    tables=(),
    oracle=_o1x_oracle(),
    tags=("o1", "pipeline", "etl", "mutation", "adversarial"),
)
def o1x(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """O1 on the DIRTY chain (r14, VERDICT r13 directive 1): the same
    chunked backfill fed fixture blocks with NULL timestamps/hashes and
    corrupted calldata (sources/fixtures.py ``dirty=True``). The warehouse
    end-state digest proves the normalize NULL-defaults, the decode
    well-formed gate, and the created_at propagation all match the
    byte-slicing DuckDB replay on corrupt input — the reference's own
    tolerance surface (transaction.rs:26-36) without its panics."""
    import shutil as _sh
    import tempfile as _tf

    from ..lake import Lake
    from ..pipeline import backfill
    from ..sources.fixtures import WATCH_CONTRACT
    from ..sources.provider import FixtureBlockProvider

    root = _tf.mkdtemp(prefix="backfill_dirty_spec_")
    lake = Lake(spark, root, bucket_size=50)
    try:
        with _shuffle_partitions(spark, 8):
            provider = FixtureBlockProvider(n_blocks=200, txs_per_block=4, dirty=True)
            n = backfill(spark, lake, provider, (WATCH_CONTRACT,), chunk_size=100)
            epoch = F.col("created_at").cast("long")
            out = (
                _digest_frame(lake.blocks(), "blocks", _blk_digest_cols())
                .unionByName(_digest_frame(
                    lake.transactions(), "transactions",
                    ["hash", "nonce", "block_hash", "block_number",
                     "transaction_index", "from_addr", "to_addr", "value",
                     "energy", "energy_price", "input", epoch],
                ))
                .unionByName(_digest_frame(
                    lake.token_transfers(), "token_transfers",
                    ["block_number", "from_addr", "to_addr", "value", "tx_hash",
                     "address", "transfer_index", "status", epoch],
                ))
                .withColumn("n_backfilled", F.lit(n).cast("long"))
                .withColumn("n_resumed", F.lit(0).cast("long"))
            )
            return out.localCheckpoint(eager=True)
    finally:
        _sh.rmtree(root, ignore_errors=True)


@register(
    "k09_retention_cleanup",
    tables=(),
    oracle=f"""
        WITH {_fx_blk_cte(60)},
        surv AS (SELECT * FROM blk WHERE num >= 20),
        d AS (
            SELECT CAST(count(*) AS BIGINT) AS n_after,
                   MIN(num) AS min_height, MAX(num) AS max_height,
                   {_fx_digest(_fx_blk_concat(2))} AS blocks_digest
            FROM surv
        )
        SELECT CAST(1 AS BIGINT) AS ticks, CAST(60 AS BIGINT) AS n_before,
               n_after, min_height, max_height, blocks_digest
        FROM d
    """,
    tags=("k9", "maintenance", "retention", "mutation"),
)
def k09(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """K9 — the retention scheduler end-to-end: one ``retention_loop`` tick
    with an injected clock sweeps everything older than the window
    (reference sqlite3.rs:483-536 cadence, export.rs:30-37 flags). Fixture
    timestamps are EPOCH+7·height, so the cutoff maps to a known boundary
    height (< 20 expires, strict). Returns the tick/row counts AND the
    full-column content digest of the surviving blocks table — DuckDB
    regenerates heights 20..59 from the fixture formulas, putting the
    retention sweep under the value hash like k78/k11 (r07; shared
    ``_fx_*`` machinery)."""
    from ..pipeline import retention_loop

    with _shuffle_partitions(spark, 8):
        lake, root = _temp_lake(spark, n_blocks=60, bucket=20)
        try:
            before = lake.blocks().count()
            epoch = 1_700_000_000
            ticks = retention_loop(
                lake, retention_secs=3600, interval_secs=0.01,
                clock=lambda: epoch + 20 * 7 + 3600, max_ticks=1,
            )  # cutoff ts == EPOCH+140 → heights < 20 expire (strict <)
            row = (
                lake.blocks()
                .agg(F.count("*").alias("nb"), F.min("number").alias("lo"),
                     F.max("number").alias("hi"))
                .first()
            )
            dig = _digest_frame(lake.blocks(), "blocks", _blk_digest_cols()).first()
            return spark.createDataFrame(
                [(ticks, before, int(row.nb), int(row.lo), int(row.hi),
                  int(dig.digest))],
                "ticks long, n_before long, n_after long, min_height long, "
                "max_height long, blocks_digest long",
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)


#: Event-time sanity bound shared by the o2b/o2c/o2e/o2f builders (via
#: streaming.windows.bound_event_time) and their DuckDB oracles — the
#: watermark-poisoning guard (r14 temporal-extremes leg: one planted
#: 2262-04-11 event silently turned all later rows "late"; a 1677 flood
#: pinned the first-N fixture windows to garbage). Derived from the
#: operator's constant so the two dialects cannot drift.
from ..streaming.windows import (  # noqa: E402
    EVENT_TIME_VALID_RANGE as _ETR,
    bound_event_time,
)

_TS_BOUND_SQL = (
    f"ts >= TIMESTAMP '{_ETR[0]}' AND ts < TIMESTAMP '{_ETR[1]}'"
)


#: o2b's deterministic-batching parameters: first 200 ts-ordered events,
#: 4 files of 50 rows; run 1 streams files 0-1, run 2 (checkpoint-resumed)
#: streams files 2-3. first_seen keys on user_id mod 12, running_counts on
#: event_type.
_O2B_ROWS, _O2B_PER_FILE, _O2B_MOD = 200, 50, 12

_O2B_ORACLE = f"""
    WITH base AS (
        SELECT ts, event_id, user_id, event_type,
               row_number() OVER (ORDER BY ts, event_id, user_id, event_type) - 1 AS rn
        FROM (SELECT * FROM events
              WHERE ts IS NOT NULL AND user_id IS NOT NULL
          AND {_TS_BOUND_SQL}
                AND event_type IS NOT NULL
              ORDER BY ts, event_id, user_id, event_type LIMIT {_O2B_ROWS})
    ),
    batched AS (
        SELECT CAST(user_id % {_O2B_MOD} AS VARCHAR) AS fp, event_type,
               CAST(rn // {_O2B_PER_FILE} AS INT) AS b
        FROM base
    ),
    -- run 2's first batch, formula-driven like the builder's
    -- n_files // 2 split (r16 one-row-table sweep: a corpus smaller
    -- than 200 rows makes fewer than 4 files — with ONE file run 1
    -- streams nothing and run 2 is batch 0 — so the old literal
    -- "b >= 2" excluded every run-2 emission on tiny/day-one slices;
    -- at the driver's sf0.01 the subquery still evaluates to 2)
    run2 AS (
        SELECT CAST(ceil(count(*) / {_O2B_PER_FILE}.0) AS INT) // 2 AS b_start
        FROM base
    ),
    -- running_counts, update mode, collected during run 2: one emission
    -- per (source, batch where present) with the cumulative lifetime
    -- total (state recovered from run 1's checkpoint)
    counts AS (
        SELECT 'counts' AS op, t.b, t.event_type AS key,
               (SELECT count(*) FROM batched x
                WHERE x.event_type = t.event_type AND x.b <= t.b) AS value
        FROM (SELECT DISTINCT event_type, b FROM batched
              WHERE b >= (SELECT b_start FROM run2)) t
    ),
    -- first_seen, append mode, run 2: emits keys whose FIRST batch is in
    -- run 2, with the number of same-batch duplicates; keys first seen in
    -- run 1 are suppressed by the recovered state
    firstb AS (SELECT fp, min(b) AS b0 FROM batched GROUP BY fp),
    first_seen AS (
        SELECT 'first_seen' AS op, f.b0 AS b, d.fp AS key,
               count(*) - 1 AS value
        FROM batched d JOIN firstb f ON d.fp = f.fp AND d.b = f.b0
        WHERE f.b0 >= (SELECT b_start FROM run2)
        GROUP BY f.b0, d.fp
    )
    SELECT op, b, key, value FROM counts
    UNION ALL
    SELECT op, b, key, value FROM first_seen
"""


@register(
    "o2b_stateful_streaming",
    tables=("events",),
    oracle=_O2B_ORACLE,
    tags=("streaming", "stateful", "dedup"),
)
def o2b(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """§2.8 stateful streaming, ORACLE-BACKED via the deterministic-
    batching harness (same pattern as o2c/o2e/o2f):
    ``applyInPandasWithState`` driven through TWO checkpointed
    availableNow runs per operator over an events-derived fixture fed one
    pinned-mtime file per trigger — run 2 resumes each operator's state
    from its run-1 checkpoint, so cross-run state recovery sits under the
    driver's value hash. Emissions are a pure function of the pinned
    batch assignment: running_counts (update mode) emits one row per
    (source, run-2 batch where present) with the cumulative lifetime
    total; first_seen (append mode) emits only keys whose first-ever
    batch lies in run 2, with their same-batch duplicate count. DuckDB
    replays both with windowed aggregates — no state machine needed."""
    import tempfile as _tf

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from ..streaming import stateful as S

    # dirty-events guard (r13 adversarial-data audit): a fixture row
    # needs every derivation column non-null — a NULL ts would also make
    # the ORDER BY pick different rows per engine (Spark NULLS FIRST,
    # DuckDB NULLS LAST). bound_event_time is the r14 watermark-poisoning
    # guard (see _TS_BOUND_SQL above). The oracle's base CTE filters
    # identically.
    fixture = (
        bound_event_time(t["events"])
        .filter(
            F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .orderBy("ts", "event_id", "user_id", "event_type")
        .limit(_O2B_ROWS)
        .select(
            "ts", "event_id", "event_type",
            (F.col("user_id") % _O2B_MOD).cast("string").alias("fp"),
        )
        .collect()  # bounded: _O2B_ROWS rows
    )
    root = _tf.mkdtemp(prefix="stateful_spec_")
    src = os.path.join(root, "src")
    os.makedirs(src)

    n_files = -(-len(fixture) // _O2B_PER_FILE)

    def write_file(i: int) -> None:
        chunk = fixture[i * _O2B_PER_FILE : (i + 1) * _O2B_PER_FILE]
        tbl = _pa.table(
            {
                "b": _pa.array([i] * len(chunk), _pa.int32()),
                "fp": _pa.array([r.fp for r in chunk], _pa.string()),
                "source": _pa.array([r.event_type for r in chunk], _pa.string()),
            }
        )
        path = os.path.join(src, f"b{i:04d}.parquet")
        _pq.write_table(tbl, path)
        os.utime(path, (1_000_000 + i, 1_000_000 + i))

    def stream():
        return (
            spark.readStream.schema("b int, fp string, source string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    def run(df, ckpt, mode):
        out: list = []
        q = (
            df.writeStream.foreachBatch(
                lambda bdf, i: out.extend((int(i), r) for r in bdf.collect())
            )
            .outputMode(mode)
            .option("checkpointLocation", os.path.join(root, ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return out

    # 4 partitions, not 32: the state-store partition count is pinned to
    # shuffle partitions at the first batch, and this spec pays that setup
    # cost ×4 runs.
    try:
        with _shuffle_partitions(spark, 4):
            for i in range(n_files // 2):
                write_file(i)
            run(S.running_counts(stream(), "source"), "ck_counts", "update")
            run(S.first_seen(stream(), "fp"), "ck_dedup", "append")
            for i in range(n_files // 2, n_files):
                write_file(i)
            counts2 = run(
                S.running_counts(stream(), "source"), "ck_counts", "update"
            )
            dedup2 = run(S.first_seen(stream(), "fp"), "ck_dedup", "append")
        # Micro-batch ids CONTINUE across checkpoint-resumed runs (run 1
        # processed batches 0..n/2-1), and files are fed one per trigger in
        # mtime order — so run 2's micro-batch id IS the fixture file
        # index, no offset needed.
        rows = sorted(
            [("counts", int(i), r.key, int(r.n_total)) for i, r in counts2]
            + [
                ("first_seen", int(i), r.key, int(r.n_dropped_dups))
                for i, r in dedup2
            ]
        )
        return spark.createDataFrame(rows, "op string, b int, key string, value long")
    finally:
        shutil.rmtree(root, ignore_errors=True)


#: o2c's deterministic-batching parameters, shared by builder and oracle:
#: 200 ts-ordered events, 25 rows per micro-batch file, key = user_id mod
#: 37, watermark delay 97 minutes (odd on purpose — no expiry/watermark
#: boundary ties against the second-granular synthetic timestamps).
_O2C_ROWS, _O2C_PER_BATCH, _O2C_MOD, _O2C_DELAY_MIN = 200, 25, 37, 97

_O2C_ORACLE = f"""
    WITH RECURSIVE base AS (
        SELECT (user_id % {_O2C_MOD}) AS key, ts, event_id, user_id
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
          AND {_TS_BOUND_SQL}
        ORDER BY ts, event_id, user_id LIMIT {_O2C_ROWS}
    ),
    src AS (
        SELECT key, ts, event_id, user_id,
               row_number() OVER (ORDER BY ts, event_id, user_id) - 1 AS rn
        FROM base
    ),
    -- one row per (key, micro-batch): the builder writes exactly these
    fixture AS (
        SELECT key, b, ts FROM (
            SELECT key, ts, CAST(rn // {_O2C_PER_BATCH} AS INT) AS b,
                   row_number() OVER (
                       PARTITION BY key, CAST(rn // {_O2C_PER_BATCH} AS INT)
                       ORDER BY ts, event_id, user_id) AS rk
            FROM src
        ) WHERE rk = 1
    ),
    -- wm_end(b): the event-time watermark AFTER batch b completes
    wm AS (
        SELECT b, max(mx) OVER (ORDER BY b)
                  - INTERVAL {_O2C_DELAY_MIN} MINUTE AS wm_end
        FROM (SELECT b, max(ts) AS mx FROM fixture GROUP BY b)
    ),
    seq AS (
        SELECT key, b, ts,
               row_number() OVER (PARTITION BY key ORDER BY b) AS i
        FROM fixture
    ),
    -- per-key state chain. Emission rule (measured against Spark 4.1's
    -- StreamingDeduplicateWithinWatermarkExec, see the spec docstring):
    -- a row in batch b with live state expiry e is dropped; the entry is
    -- evicted at END of batch b-1 using the watermark DURING b-1, i.e.
    -- wm_end(b-2) — so the row emits iff e < wm_end(b-2). Dropped rows
    -- do not refresh the expiry (the dedup window is fixed by the first
    -- emitted event's time).
    chain AS (
        SELECT key, i, b, ts, TRUE AS emitted,
               ts + INTERVAL {_O2C_DELAY_MIN} MINUTE AS expiry
        FROM seq WHERE i = 1
        UNION ALL
        SELECT s.key, s.i, s.b, s.ts,
               coalesce(c.expiry < w.wm_end, FALSE) AS emitted,
               CASE WHEN coalesce(c.expiry < w.wm_end, FALSE)
                    THEN s.ts + INTERVAL {_O2C_DELAY_MIN} MINUTE
                    ELSE c.expiry END AS expiry
        FROM chain c
        JOIN seq s ON s.key = c.key AND s.i = c.i + 1
        LEFT JOIN wm w ON w.b = s.b - 2
    )
    SELECT b, key, epoch_us(ts) AS ts_us FROM chain WHERE emitted
"""


@register(
    "o2c_stream_dedup_watermark",
    tables=("events",),
    oracle=_O2C_ORACLE,
    tags=("streaming", "dedup", "watermark"),
)
def o2c(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """§2.8 streaming dedup with bounded state, ORACLE-BACKED via the
    deterministic-batching harness (VERDICT r08 directive 4):
    ``dropDuplicatesWithinWatermark`` keyed on ``user_id % 37`` over the
    first 200 ts-ordered events, fed ONE FILE PER TRIGGER (25-row files,
    pinned mtime order, ``maxFilesPerTrigger=1`` under availableNow) so
    watermark progression — and therefore the exact emitted set — is a
    pure function of the fixture, which DuckDB replays with a per-key
    recursive state chain. The eviction timing the oracle encodes was
    pinned empirically (probe in tests/test_streaming.py): a state entry
    is evicted at the END of a batch using that batch's current
    watermark, so a duplicate in batch b re-emits iff its stored expiry
    < wm_end(b-2); duplicates never refresh the expiry. The watermark
    bound is what distinguishes this from o2b's first_seen: state is
    evicted as event time advances, so a continuous crawl never
    accumulates it."""
    import tempfile as _tf

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from ..streaming.stateful import dedup_within_watermark

    fixture = (  # dirty-events + watermark-poisoning guards — see o2b
        bound_event_time(t["events"])
        .filter(F.col("user_id").isNotNull())
        .orderBy("ts", "event_id", "user_id")
        .limit(_O2C_ROWS)
        .select(
            (F.col("user_id") % _O2C_MOD).alias("key"), "ts", "event_id"
        )
        .collect()  # bounded: _O2C_ROWS rows
    )
    root = _tf.mkdtemp(prefix="wmdedup_spec_")
    src = os.path.join(root, "src")
    os.makedirs(src)
    try:
        # one parquet file per micro-batch, first row per (key, batch),
        # mtimes pinned so FileStreamSource's timestamp ordering is the
        # write order
        n_batches = -(-len(fixture) // _O2C_PER_BATCH)
        for b in range(n_batches):
            chunk = fixture[b * _O2C_PER_BATCH : (b + 1) * _O2C_PER_BATCH]
            seen: set = set()
            rows = []
            for r in chunk:  # already (ts, event_id)-ordered
                if r.key in seen:
                    continue
                seen.add(r.key)
                rows.append((b, r.key, r.ts))
            tbl = _pa.table(
                {
                    "b": _pa.array([x[0] for x in rows], _pa.int32()),
                    "key": _pa.array([x[1] for x in rows], _pa.int64()),
                    "ts": _pa.array([x[2] for x in rows], _pa.timestamp("us")),
                }
            )
            path = os.path.join(src, f"b{b:04d}.parquet")
            _pq.write_table(tbl, path)
            os.utime(path, (1_000_000 + b, 1_000_000 + b))

        out: list = []
        with _shuffle_partitions(spark, 4):
            q = (
                dedup_within_watermark(
                    spark.readStream.schema("b int, key long, ts timestamp")
                    .option("maxFilesPerTrigger", 1)
                    .parquet(src),
                    keys=("key",),
                    delay=f"{_O2C_DELAY_MIN} minutes",
                )
                .writeStream.foreachBatch(
                    lambda batch, _i: out.extend(batch.collect())
                )
                .outputMode("append")
                .option("checkpointLocation", os.path.join(root, "ck"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
        rows = sorted((int(r.b), int(r.key), r.ts) for r in out)
        emitted = spark.createDataFrame(rows, "b int, key long, ts timestamp")
        return emitted.select("b", "key", F.unix_micros("ts").alias("ts_us"))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "o2_streaming_tail",
    tables=(),
    oracle=_o1_oracle(
        nb=30, tpb=2, extra="CAST(29 AS BIGINT) AS tip"
    ),
    tags=("o2", "streaming", "k10"),
)
def o2(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """O2 — the streaming tail end-to-end on a temp warehouse: backfill
    0..19, stream 20..29 through foreachBatch with checkpointing
    (reference etl.rs:126-176; reorg/resume assertions in
    tests/test_streaming.py). ORACLE-BACKED in r09: returns one
    (tbl, n_rows, digest) row per lake table — the same full-column
    digest shape as o1 — against the SAME fixture-regeneration oracle at
    (nb=30, tpb=2), which asserts the strongest tail property there is:
    the streamed warehouse is byte-equivalent to a clean batch backfill
    of the whole range."""
    from ..lake import Lake
    from ..pipeline import backfill
    from ..sources.fixtures import WATCH_CONTRACT, raw_blocks, receipts
    from ..sources.provider import FixtureBlockProvider
    from ..streaming.tail import start_tail

    with _shuffle_partitions(spark, 8):
        root = tempfile.mkdtemp(prefix="lake_spec_")
        lake = Lake(spark, root, bucket_size=10)
        src = os.path.join(root, "incoming")
        ckpt = os.path.join(root, "ckpt")
        try:
            # Backfill 0..19 through the REAL pipeline (transfers decoded,
            # receipts joined) so the streamed tail's convergence target is
            # a clean full-range ingest, not a transfer-less stub.
            backfill(
                spark, lake,
                FixtureBlockProvider(n_blocks=20, txs_per_block=2),
                (WATCH_CONTRACT,),
            )
            tail_raw = raw_blocks(spark, n_blocks=30, txs_per_block=2).filter(
                F.col("number") >= 20
            )
            tail_raw.coalesce(1).write.mode("append").parquet(src)
            q = start_tail(spark, lake, src, ckpt, (WATCH_CONTRACT,), receipts)
            q.awaitTermination(120)
            epoch = F.col("created_at").cast("long")
            out = (
                _digest_frame(lake.blocks(), "blocks", _blk_digest_cols())
                .unionByName(_digest_frame(
                    lake.transactions(), "transactions",
                    ["hash", "nonce", "block_hash", "block_number",
                     "transaction_index", "from_addr", "to_addr", "value",
                     "energy", "energy_price", "input", epoch],
                ))
                .unionByName(_digest_frame(
                    lake.token_transfers(), "token_transfers",
                    ["block_number", "from_addr", "to_addr", "value", "tx_hash",
                     "address", "transfer_index", "status", epoch],
                ))
                .withColumn(
                    "tip", F.lit(lake.latest_block_number()).cast("long")
                )
            )
            # the lake dirs die with the spec — materialize before cleanup
            return out.localCheckpoint(eager=True)
        finally:
            shutil.rmtree(root, ignore_errors=True)


@register(
    "o2x_streaming_tail_dirty",
    tables=(),
    oracle=_o1x_oracle(nb=30, tpb=2, extra="CAST(29 AS BIGINT) AS tip"),
    tags=("o2", "streaming", "adversarial"),
)
def o2x(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """O2 on the DIRTY chain (r14): backfill 0..19 and stream 20..29 of the
    corrupted fixture (NULL block ts/hash, hostile calldata) through the
    real foreachBatch tail — the streamed warehouse must STILL be
    byte-equivalent to a clean batch backfill of the same dirty range.
    Proves the tail's normalize/decode micro-batch path shares every
    null/gate semantics with the batch path (same code, but the checkpoint
    replay and per-batch chunking differ, which is what this pins)."""
    from ..lake import Lake
    from ..pipeline import backfill
    from ..sources.fixtures import WATCH_CONTRACT, raw_blocks, receipts
    from ..sources.provider import FixtureBlockProvider
    from ..streaming.tail import start_tail

    with _shuffle_partitions(spark, 8):
        root = tempfile.mkdtemp(prefix="lake_dirty_spec_")
        lake = Lake(spark, root, bucket_size=10)
        src = os.path.join(root, "incoming")
        ckpt = os.path.join(root, "ckpt")
        try:
            backfill(
                spark, lake,
                FixtureBlockProvider(n_blocks=20, txs_per_block=2, dirty=True),
                (WATCH_CONTRACT,),
            )
            tail_raw = raw_blocks(
                spark, n_blocks=30, txs_per_block=2, dirty=True
            ).filter(F.col("number") >= 20)
            tail_raw.coalesce(1).write.mode("append").parquet(src)
            q = start_tail(spark, lake, src, ckpt, (WATCH_CONTRACT,), receipts)
            q.awaitTermination(120)
            epoch = F.col("created_at").cast("long")
            out = (
                _digest_frame(lake.blocks(), "blocks", _blk_digest_cols())
                .unionByName(_digest_frame(
                    lake.transactions(), "transactions",
                    ["hash", "nonce", "block_hash", "block_number",
                     "transaction_index", "from_addr", "to_addr", "value",
                     "energy", "energy_price", "input", epoch],
                ))
                .unionByName(_digest_frame(
                    lake.token_transfers(), "token_transfers",
                    ["block_number", "from_addr", "to_addr", "value", "tx_hash",
                     "address", "transfer_index", "status", epoch],
                ))
                .withColumn(
                    "tip", F.lit(lake.latest_block_number()).cast("long")
                )
            )
            return out.localCheckpoint(eager=True)
        finally:
            shutil.rmtree(root, ignore_errors=True)


@register(
    "k11_compaction",
    tables=(),
    oracle=f"""
        WITH {_fx_blk_cte(40)},
        d AS (
            SELECT CAST(count(*) AS BIGINT) AS n_blocks,
                   {_fx_digest(_fx_blk_concat(2))} AS blocks_digest
            FROM blk
        )
        SELECT CAST(8 AS BIGINT) AS files_before,
               CAST(2 AS BIGINT) AS buckets_rewritten,
               CAST(2 AS BIGINT) AS files_after,
               CAST(0 AS BIGINT) AS rewrites_when_clean,
               n_blocks, blocks_digest
        FROM d
    """,
    tags=("maintenance", "compaction", "small-files"),
)
def k11(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """§4 maintenance — small-file compaction: micro-batch appends leave
    one file per batch per partition; ``compact`` rewrites oversized
    buckets via the same staged-then-move swap as the mutations (readers
    never see a half-compacted bucket) and is idempotent. Returns the
    before/after file counts, the rewrite counts, and a full-column
    content digest of the post-compaction table — the oracle regenerates
    the digest from the fixture formulas (compaction must be a pure
    layout change) and pins the deterministic file/rewrite counts: 8
    single-bucket appends → 8 files, 2 oversized buckets rewritten to 1
    file each, idempotent second pass (VERDICT r06 directive 3; full
    invariants in tests/test_lake.py::test_compaction)."""
    import glob as _glob

    from ..operators import transforms as _T
    from ..sources import fixtures as _FX

    from ..lake import Lake

    with _shuffle_partitions(spark, 8):
        root = tempfile.mkdtemp(prefix="compact_spec_")
        lake = Lake(spark, root, bucket_size=20)
        try:
            raw = _FX.raw_blocks(spark, n_blocks=40, txs_per_block=2)
            for lo in range(0, 40, 5):  # 8 micro-batch appends
                lake.write(
                    "blocks",
                    _T.normalize_blocks(raw.filter(F.col("number").between(lo, lo + 4))),
                )
            pat = os.path.join(root, "blocks", "**", "*.parquet")
            files_before = len(_glob.glob(pat, recursive=True))
            n_rewritten = lake.compact("blocks", target_rows_per_file=1000)
            files_after = len(_glob.glob(pat, recursive=True))
            n_again = lake.compact("blocks", target_rows_per_file=1000)
            row = (
                _digest_frame(lake.blocks(), "blocks", _blk_digest_cols())
                .first()
            )
            return spark.createDataFrame(
                [(files_before, n_rewritten, files_after, n_again,
                  int(row.n_rows), int(row.digest))],
                "files_before long, buckets_rewritten long, files_after long, "
                "rewrites_when_clean long, n_blocks long, blocks_digest long",
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)


@register(
    "k12_incremental_agg",
    tables=("events",),
    oracle="""
        SELECT user_id, event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN NOT isnan(value) THEN TRY_CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS total_v
        FROM events
        GROUP BY user_id, event_type
    """,
    tags=("maintenance", "incremental", "aggregate", "streaming-table"),
)
def k12(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Incremental aggregate maintenance: the stored per-(user, type)
    rollup over the first 80% of events is merged with the partial
    aggregate of the 20% 'new batch' — and must equal the from-scratch
    groupBy over everything (the oracle). The refresh path reads only the
    batch + the key-sized aggregate table; exact-decimal sums make the
    merge order-insensitive."""
    from ..operators.maintenance import incremental_agg_merge

    ev = t["events"]

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", "event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").try_cast("decimal(12,2)"))
            .cast("decimal(18,2)")
            .alias("total_v"),
        )

    # coalesce(pmod, 0): the prev/batch split is an arbitrary partition of
    # history — the rollup itself needs no row identity, so a NULL
    # event_id must land in a batch, not vanish (a bare `% 10` is NULL
    # for NULL ids and matched NEITHER side: the merged rollup
    # under-counted vs the whole-table oracle — a live divergence found
    # by the dirty sweep's events arm 15; same fix as c11's batching)
    split = F.coalesce(F.pmod(F.col("event_id"), F.lit(10)), F.lit(0))
    prev = agg(ev.filter(split < 8))
    batch = agg(ev.filter(split >= 8))
    merged = incremental_agg_merge(
        prev, batch, ("user_id", "event_type")
    )
    return merged.select(
        "user_id", "event_type", "n_events", F.col("total_v").cast("double").alias("total_v")
    )


#: o2e's deterministic-batching parameters: first 300 ts-ordered events,
#: even event_id → left stream, odd → right; 3 files per side, key =
#: user_id mod 8; interval [0, 30 minutes], watermark delay 1 minute.
_O2E_ROWS, _O2E_FILES, _O2E_MOD = 300, 3, 8

_O2E_ORACLE = f"""
    WITH base AS (
        SELECT ts, event_id, user_id
        FROM events
        -- event_id IS NOT NULL (r16, events arm 15): the stream split is
        -- keyed on event_id parity, and a NULL id has none — excluded
        -- BEFORE the LIMIT so both engines select the same 300 rows
        -- (inside the window it would also be an ORDER BY NULLS
        -- FIRST/LAST divergence)
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
          AND event_id IS NOT NULL
          AND {_TS_BOUND_SQL}
        ORDER BY ts, event_id, user_id LIMIT {_O2E_ROWS}
    ),
    l AS (SELECT (user_id % {_O2E_MOD}) AS key, ts AS l_ts
          FROM base WHERE event_id % 2 = 0),
    r AS (SELECT (user_id % {_O2E_MOD}) AS key, ts AS r_ts
          FROM base WHERE event_id % 2 = 1)
    SELECT l.key, epoch_us(l_ts) AS l_ts_us, epoch_us(r_ts) AS r_ts_us,
           epoch_us(r_ts) - epoch_us(l_ts) AS lag_us
    FROM l JOIN r ON l.key = r.key
     AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL 30 MINUTE
"""


@register(
    "o2e_stream_stream_join",
    tables=("events",),
    oracle=_O2E_ORACLE,
    tags=("streaming", "join", "interval", "watermark"),
)
def o2e(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """§2.8 stream-stream join, ORACLE-BACKED via the deterministic-
    batching harness (VERDICT r08 directive 4, same pattern as o2c):
    ``interval_join`` (watermark on both sides + time-range bound =
    finite state) driven as a REAL two-stream checkpointed availableNow
    query over a fixture DERIVED FROM the events table — first 300
    ts-ordered rows split by event_id parity into the two streams, each
    side written as 3 ts-ordered parquet files with pinned mtimes and
    fed one file per source per trigger.

    Why a plain batch-join SQL oracle is EXACT here: the feed is
    ts-ordered on both sides, so (a) no row is ever late vs the global
    (min-across-sources) watermark, and (b) any cross-batch match's left
    row is provably younger than the eviction threshold when its right
    row arrives (r_ts > previous batches' max ts ⇒ l_ts ≥ r_ts − upper >
    wm − upper). Inner-join matches emit in the arrival batch, so the
    streamed emission set equals the batch interval join row-for-row —
    state eviction correctness included."""
    import tempfile as _tf

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from ..streaming.windows import interval_join

    fixture = (  # dirty-events + watermark-poisoning guards — see o2b
        bound_event_time(t["events"])
        # event_id notNull (r16, events arm 15): the parity split is
        # keyed on event_id — a NULL id has none, and it reached the
        # driver-side `% 2` as Python None (a TypeError stage-killer on
        # the dirty corpus); excluded BEFORE the limit, like the oracle
        .filter(F.col("user_id").isNotNull() & F.col("event_id").isNotNull())
        .orderBy("ts", "event_id", "user_id")
        .limit(_O2E_ROWS)
        .select("ts", "event_id", (F.col("user_id") % _O2E_MOD).alias("key"))
        .collect()  # bounded: _O2E_ROWS rows
    )
    left = [(r.key, r.ts) for r in fixture if r.event_id % 2 == 0]
    right = [(r.key, r.ts) for r in fixture if r.event_id % 2 == 1]
    root = _tf.mkdtemp(prefix="ssjoin_spec_")
    try:
        for side, rows, ts_name in (("l", left, "l_ts"), ("r", right, "r_ts")):
            d = os.path.join(root, side)
            os.makedirs(d)
            per = -(-len(rows) // _O2E_FILES)
            for i in range(_O2E_FILES):
                chunk = rows[i * per : (i + 1) * per]
                tbl = _pa.table(
                    {
                        "key": _pa.array([x[0] for x in chunk], _pa.int64()),
                        ts_name: _pa.array(
                            [x[1] for x in chunk], _pa.timestamp("us")
                        ),
                    }
                )
                path = os.path.join(d, f"b{i:04d}.parquet")
                _pq.write_table(tbl, path)
                os.utime(path, (1_000_000 + i, 1_000_000 + i))

        with _shuffle_partitions(spark, 4):
            ls = (
                spark.readStream.schema("key long, l_ts timestamp")
                .option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(root, "l"))
            )
            rs = (
                spark.readStream.schema("key long, r_ts timestamp")
                .option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(root, "r"))
            )
            got: list = []
            q = (
                interval_join(ls, rs, "key", upper="30 minutes")
                .writeStream.foreachBatch(lambda b, _i: got.extend(b.collect()))
                .outputMode("append")
                .option("checkpointLocation", os.path.join(root, "ck"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
        rows = sorted((int(r.key), r.l_ts, r.r_ts, int(r.lag_us)) for r in got)
        out = spark.createDataFrame(
            rows, "key long, l_ts timestamp, r_ts timestamp, lag_us long"
        )
        return out.select(
            "key",
            F.unix_micros("l_ts").alias("l_ts_us"),
            F.unix_micros("r_ts").alias("r_ts_us"),
            "lag_us",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


#: o2f's deterministic-batching parameters: first 300 ts-ordered events,
#: key = user_id mod 10, 3 pinned-mtime files fed one per trigger;
#: session gap 45 minutes, watermark delay 61 seconds (odd — no boundary
#: ties against the second-granular synthetic timestamps).
_O2F_ROWS, _O2F_FILES, _O2F_MOD = 300, 3, 10

_O2F_ORACLE = f"""
    WITH base AS (
        SELECT ts, (user_id % {_O2F_MOD}) AS user_id
        FROM (SELECT * FROM events
              WHERE ts IS NOT NULL AND user_id IS NOT NULL
          AND {_TS_BOUND_SQL}
              ORDER BY ts, event_id, user_id LIMIT {_O2F_ROWS})
    ),
    flag AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         IS NULL
                     OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 45 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM base
    ),
    grp AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flag
    ),
    sess AS (
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL 45 MINUTE AS session_end,
               count(*) AS n_events
        FROM grp GROUP BY user_id, sid
    ),
    wm AS (SELECT max(ts) - INTERVAL 61 SECOND AS w FROM base)
    SELECT user_id, epoch_us(session_start) AS start_us,
           epoch_us(session_end) AS end_us, n_events
    FROM sess, wm WHERE session_end < w
"""


@register(
    "o2f_streaming_session_window",
    tables=("events",),
    oracle=_O2F_ORACLE,
    tags=("streaming", "session-window", "watermark"),
)
def o2f(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """§2.8 streaming session windows, ORACLE-BACKED via the
    deterministic-batching harness (same pattern as o2c/o2e):
    ``session_counts`` (gap-based ``F.session_window`` + watermark = one
    state row per open session, merged as events arrive) driven as a
    REAL checkpointed availableNow stream over a fixture derived from
    the events table, fed one pinned-mtime file per trigger.

    Why the oracle is batch-shape despite streaming state: with a
    ts-ordered feed, a session sealed at watermark w can never be
    extended — any later row's timestamp exceeds w + delay, which is
    past the session's end — so the final emitted set is exactly
    "gap-island sessions whose end < final watermark", which DuckDB
    computes with a lag/window island query. The last session per key
    always ends beyond the final watermark (end = last ts + gap >
    max ts − delay) and stays OPEN as state, never emitting in append
    mode — the sealed-vs-open boundary the old hand fixture asserted,
    now value-hashed by the driver."""
    import tempfile as _tf

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from ..streaming.windows import session_counts

    fixture = (  # dirty-events + watermark-poisoning guards — see o2b
        bound_event_time(t["events"])
        .filter(F.col("user_id").isNotNull())
        .orderBy("ts", "event_id", "user_id")
        .limit(_O2F_ROWS)
        .select("ts", "event_id", (F.col("user_id") % _O2F_MOD).alias("user_id"))
        .collect()  # bounded: _O2F_ROWS rows
    )
    root = _tf.mkdtemp(prefix="sesswin_spec_")
    try:
        src_dir = os.path.join(root, "ev")
        os.makedirs(src_dir)
        per = -(-len(fixture) // _O2F_FILES)
        for i in range(_O2F_FILES):
            chunk = fixture[i * per : (i + 1) * per]
            tbl = _pa.table(
                {
                    "ts": _pa.array([r.ts for r in chunk], _pa.timestamp("us")),
                    "user_id": _pa.array(
                        [int(r.user_id) for r in chunk], _pa.int64()
                    ),
                }
            )
            path = os.path.join(src_dir, f"b{i:04d}.parquet")
            _pq.write_table(tbl, path)
            os.utime(path, (1_000_000 + i, 1_000_000 + i))

        with _shuffle_partitions(spark, 4):
            src = (
                spark.readStream.schema("ts timestamp, user_id long")
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir)
            )
            got: list = []
            q = (
                session_counts(
                    src, gap="45 minutes", keys=("user_id",), delay="61 seconds"
                )
                .writeStream.foreachBatch(lambda b, _i: got.extend(b.collect()))
                .outputMode("append")
                .option("checkpointLocation", os.path.join(root, "ck"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
        rows = sorted(
            (int(r.user_id), r.session_start, r.session_end, int(r.n_events))
            for r in got
        )
        out = spark.createDataFrame(
            rows,
            "user_id long, session_start timestamp, session_end timestamp, "
            "n_events long",
        )
        return out.select(
            "user_id",
            F.unix_micros("session_start").alias("start_us"),
            F.unix_micros("session_end").alias("end_us"),
            "n_events",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "k13_incremental_join",
    tables=("orders", "customer"),
    oracle="""
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, c_name,
               c_mktsegment, o_totalprice
        FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    tags=("maintenance", "incremental", "join", "k13"),
)
def k13(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Incremental denormalized-join maintenance: the stored 80% of the
    fact⋈dim result gets the new 20% batch joined-and-appended — and
    must equal the from-scratch join (the oracle). Refresh reads only
    the batch + the dimension; the stored result is append-only
    (reference etl.rs's insert loop maintains exactly such a
    denormalized row stream; here it is a maintained TABLE with a
    correctness proof)."""
    from ..operators.maintenance import incremental_join_append

    o, c = t["orders"], t["customer"]
    dim = c.select("c_custkey", "c_name", "c_mktsegment")
    proj = [
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_totalprice"),
    ]
    # coalesce(pmod, 0): the old/batch split is an arbitrary partition of
    # history — a NULL o_orderkey matched NEITHER side and its order
    # vanished from the maintained table while the oracle's from-scratch
    # join kept it (41 rows on the dirty corpus, NULL-PK arm r16; same
    # fix as c11/k12's batching)
    split = F.coalesce(F.pmod(F.col("o_orderkey"), F.lit(5)), F.lit(0))
    old = o.filter(split != 0).select(proj)
    batch = o.filter(split == 0).select(proj)
    stored = old.join(dim, "c_custkey")
    merged = incremental_join_append(stored, batch, dim, "c_custkey")
    return merged.select("o_orderkey", "c_name", "c_mktsegment", "o_totalprice")


@register(
    "o1d_duplicate_redelivery",
    tables=(),
    oracle=_o1_oracle(
        nb=300,
        extra=(
            "CAST(300 AS BIGINT) AS n_backfilled,"
            " CAST(300 AS BIGINT) AS n_redelivered"
        ),
    ),
    tags=("o1", "idempotency", "pipeline", "etl", "mutation"),
)
def o1d(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Ingest idempotency (r15, VERDICT r14 directive 1 — the last
    reference-parity gap): the reference's PRIMARY KEYs reject a
    re-delivered block at insert time (etl.rs:147-169, sqlite3.rs:68-108);
    here ``Lake._drop_redelivered`` anti-joins incoming natural keys
    against the touched buckets. This spec backfills the 300-block fixture
    chain with chunk (150) deliberately MISALIGNED to the bucket size
    (125) — so the normal forward path already crosses a committed bucket
    and must drop nothing — then re-delivers two full chunks (100..249 and
    150..299: partial-bucket, full-bucket, and tip overlaps) through the
    same ``ingest_raw`` slice, simulating crashed-and-retried deliveries.
    The warehouse end-state digest must equal DuckDB's replay of exactly
    ONE delivery: any double-append changes n_rows and the value digest."""
    import shutil as _sh
    import tempfile as _tf

    from ..lake import Lake
    from ..pipeline import backfill, ingest_raw
    from ..sources.fixtures import WATCH_CONTRACT
    from ..sources.provider import FixtureBlockProvider

    root = _tf.mkdtemp(prefix="redelivery_spec_")
    lake = Lake(spark, root, bucket_size=125)
    try:
        with _shuffle_partitions(spark, 8):
            provider = FixtureBlockProvider(n_blocks=300, txs_per_block=4)
            n = backfill(spark, lake, provider, (WATCH_CONTRACT,), chunk_size=150)
            redelivered = 0
            for lo, hi in ((100, 249), (150, 299)):
                raw = provider.fetch_blocks(spark, lo, hi).localCheckpoint(eager=True)
                ingest_raw(lake, raw, (WATCH_CONTRACT,), provider.receipts_for)
                redelivered += hi - lo + 1
            epoch = F.col("created_at").cast("long")
            out = (
                _digest_frame(lake.blocks(), "blocks", _blk_digest_cols())
                .unionByName(_digest_frame(
                    lake.transactions(), "transactions",
                    ["hash", "nonce", "block_hash", "block_number",
                     "transaction_index", "from_addr", "to_addr", "value",
                     "energy", "energy_price", "input", epoch],
                ))
                .unionByName(_digest_frame(
                    lake.token_transfers(), "token_transfers",
                    ["block_number", "from_addr", "to_addr", "value", "tx_hash",
                     "address", "transfer_index", "status", epoch],
                ))
                .withColumn("n_backfilled", F.lit(n).cast("long"))
                .withColumn("n_redelivered", F.lit(redelivered).cast("long"))
            )
            return out.localCheckpoint(eager=True)
    finally:
        _sh.rmtree(root, ignore_errors=True)
