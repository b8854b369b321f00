"""Adversarial-input audit of the streaming/stateful/source families
(VERDICT r12 directive 1) — the r12 technique (probe every operator with
null/empty/corrupt rows and force evaluation) applied to the surfaces it
had not reached: applyInPandasWithState bodies, the tail's header
handling, the watermarked window family, the WS transport's frame/JSON
parsing, and the head poller's push handling.

Found and fixed in r13 (each pinned below):

- a malformed JSON-RPC message (garbled frame, non-object JSON) escaped
  the transport's ``except (WsError, OSError)`` recovery paths as
  ``json.JSONDecodeError``/``AttributeError``/``UnicodeDecodeError`` and
  permanently killed the subscription loop — now every
  malformed-stream condition is ``WsError`` → reconnect/resubscribe;
- a lying frame-length field drove an unbounded recv/allocation — now
  bounded (64 MiB/frame, 256 MiB/message, 1 MiB handshake) → WsError;
- one malformed head push (non-dict head, non-hex number, non-object
  block reply) raised inside the head poller and killed the daemon for
  every block after it — now a malformed head is skipped with a warning
  and a bad block reply is skipped per height (the next drop, which
  starts at the commit point, re-fetches it).

Probed and found ALREADY SAFE (pinned below so regressions surface):
null keys in the applyInPandasWithState bodies (they form a key=None
state group), null event time in the window family (dropped identically
in batch and streaming), null key/ts in the interval join (three-valued
condition → row drops), and null header fields in the tail's dedup/reorg/
stale checks (null-skipping joins and comparisons).
"""

from __future__ import annotations

import json
import os
import struct
import threading
import time

import pytest
from pyspark.sql import functions as F

from core_etl_spark.sources.ws import WsError, WsJsonRpcTransport
from core_etl_spark.streaming import stateful as S
from core_etl_spark.streaming import windows as W
from tests.ws_server import MockWsRpcServer

HANDLERS = {
    "xcb_blockNumber": lambda p: hex(41),
    "xcb_getBlockByNumber": lambda p: {
        "number": int(p[0], 16),
        "hash": f"h{int(p[0], 16)}",
        "parent_hash": f"h{int(p[0], 16) - 1}",
        "nonce": "00", "sha3_uncles": "u", "logs_bloom": "b",
        "transactions_root": "t", "state_root": "s", "receipts_root": "r",
        "miner": "m", "difficulty": "1", "total_difficulty": "1",
        "extra_data": "00", "energy_limit": 8_000_000, "energy_used": 0,
        "timestamp": 1_700_000_000, "transactions": [],
    },
}


# --- WS transport: malformed frames and JSON --------------------------------


def _connected(srv, **kw) -> WsJsonRpcTransport:
    t = WsJsonRpcTransport(url=srv.url, retries=0, **kw)
    assert json.loads(t("xcb_blockNumber", "[]")) == "0x29"  # socket open
    return t


def _push_and_recv(srv, push) -> None:
    """Inject garbage, then force the client to parse it."""
    push()
    time.sleep(0.05)


def test_malformed_json_push_is_wserror_not_jsondecodeerror():
    # a garbled text frame must surface as WsError (the recovery class
    # every caller catches), not json.JSONDecodeError (which escaped and
    # permanently killed subscribe_blocks' loop before r13).
    with MockWsRpcServer(HANDLERS) as srv:
        t = _connected(srv)
        _push_and_recv(srv, lambda: srv.push_raw_text("{this is not json"))
        with pytest.raises(WsError, match="malformed JSON"):
            t._recv_one()
        t.close()


def test_non_object_json_message_is_wserror():
    # a JSON array/scalar message would AttributeError on msg.get before
    # r13; now it is a WsError protocol violation.
    with MockWsRpcServer(HANDLERS) as srv:
        t = _connected(srv)
        _push_and_recv(srv, lambda: srv.push_raw_text("[1, 2, 3]"))
        with pytest.raises(WsError, match="expected object"):
            t._recv_one()
        t.close()


def test_reserved_opcode_frame_is_wserror():
    # opcode 0x3 is reserved; before r13 its payload was silently
    # appended into the next text message (data corruption).
    with MockWsRpcServer(HANDLERS) as srv:
        t = _connected(srv)
        _push_and_recv(
            srv, lambda: srv.push_raw_bytes(bytes([0x80 | 0x3, 2]) + b"xx")
        )
        with pytest.raises(WsError, match="opcode"):
            t._recv_one()
        t.close()


def test_oversized_frame_length_is_wserror_not_oom():
    # a lying 1-TiB length field must raise immediately, not drive
    # _recv_exact toward an unbounded buffer.
    with MockWsRpcServer(HANDLERS) as srv:
        t = _connected(srv)
        _push_and_recv(
            srv,
            lambda: srv.push_raw_bytes(
                bytes([0x80 | 0x1, 127]) + struct.pack(">Q", 1 << 40)
            ),
        )
        with pytest.raises(WsError, match="sanity bound"):
            t._recv_one()
        t.close()


def test_invalid_utf8_text_frame_is_wserror():
    with MockWsRpcServer(HANDLERS) as srv:
        t = _connected(srv)
        _push_and_recv(
            srv, lambda: srv.push_raw_bytes(bytes([0x80 | 0x1, 2]) + b"\xff\xfe")
        )
        with pytest.raises(WsError, match="UTF-8"):
            t._recv_one()
        t.close()


def test_rpc_call_survives_garbage_by_reconnecting():
    # end-to-end: garbage arriving while a call awaits its reply triggers
    # the designed mark-dead → reconnect → re-send path; the call still
    # succeeds and a second connection was made.
    with MockWsRpcServer(HANDLERS) as srv:
        t = _connected(srv)
        srv.push_raw_text("garbage not json")
        time.sleep(0.05)
        assert json.loads(t("xcb_blockNumber", "[]")) == "0x29"
        assert srv.connect_attempts == 2
        t.close()


def test_subscription_skips_malformed_pushes_and_recovers():
    # pushes with non-dict params, missing result, or non-dict result are
    # skipped (never yielded as None); later good heads still arrive.
    with MockWsRpcServer(HANDLERS) as srv:
        t = WsJsonRpcTransport(url=srv.url, retries=0)
        heads = t.subscribe_blocks()
        got: list[dict] = []

        def consume():
            for h in heads:
                got.append(h)
                if len(got) == 1:
                    return

        c = threading.Thread(target=consume, daemon=True)
        c.start()
        time.sleep(0.1)
        sub = srv._sub_ids[-1]
        srv.push_subscription_params([1, 2, 3])  # non-dict params
        srv.push_subscription_params({"subscription": sub})  # no result
        srv.push_subscription_params({"subscription": sub, "result": "x"})
        srv.push_subscription_params(
            {"subscription": sub, "result": {"number": 7, "hash": "h7"}}
        )
        c.join(5)
        assert [h.get("number") for h in got] == [7]
        t.close()


# --- head poller: malformed heads must not kill the daemon ------------------


class _StubTransport:
    """subscribe_blocks() yields a scripted head sequence; __call__
    answers getBlockByNumber with a wire-shaped block unless ``replies``
    scripts that height."""

    def __init__(self, heads, replies=None):
        self._heads = heads
        self._replies = replies or {}

    def subscribe_blocks(self, stop=None):
        return iter(self._heads)

    def __call__(self, method, params_json):
        from tests.test_ws import _block

        number = int(json.loads(params_json)[0], 16)
        return json.dumps(self._replies.get(number, _block(number)))


class _CommittedThrough:
    """The one thing the poller reads from a lake: its commit point."""

    def __init__(self, height: int) -> None:
        self.height = height

    def resume_point(self) -> int:
        return self.height


def test_poller_skips_malformed_heads_and_keeps_going(spark, tmp_path):
    from core_etl_spark.sources.provider import RpcBlockProvider
    from core_etl_spark.streaming.poller import HeadPoller

    out = str(tmp_path / "drops")
    heads = [
        "not a dict",                       # non-dict head
        {"no_number": True},                # missing number
        {"number": "zz"},                   # non-hex quantity string
        {"number": None},                   # explicit null
        {"number": "0xa"},                  # good — drop 10..10
        {"number": "0xb"},                  # good — 11's reply is null
        {"number": 12},                     # good — 12's reply is a list
        {"number": "13"},                   # good — drop 11..13
    ]
    provider = RpcBlockProvider(
        _StubTransport(heads, replies={11: None, 12: [1, 2]})
    )
    poller = HeadPoller(
        spark, provider, _CommittedThrough(9), out, max_heads=4
    ).start()
    poller.join(60)
    assert not poller.alive, "poller hung instead of finishing"
    assert poller.error is None, poller.error
    assert poller.heads_dropped == 4
    drops = spark.read.parquet(out)
    assert len(drops.inputFiles()) == 4  # one file per head
    nums = {r.number for r in drops.select("number").collect()}
    assert nums == {10, 13}  # 11 and 12 never arrive in a usable shape


# --- tail batch processor: null header fields -------------------------------


def test_tail_batch_survives_null_header_fields(spark, tmp_path):
    # a drop carrying rows with NULL number/hash/parent_hash (a half-
    # written poller file, a garbled fetch) must not kill the batch: the
    # stale guard filters NULL numbers (NULL > tip is NULL → dropped) and
    # the dedup/reorg joins null-skip; the valid rows are written.
    from core_etl_spark.lake import Lake
    from core_etl_spark.sources import fixtures as FX
    from core_etl_spark.streaming.tail import make_tail_batch_processor

    lake = Lake(spark, str(tmp_path / "wh"), bucket_size=10)
    good = FX.raw_blocks(spark, n_blocks=3, txs_per_block=1)
    nulls = spark.createDataFrame(
        [(None, None, None)], "number long, hash string, parent_hash string"
    )
    # lift the null rows to the full raw schema (all other columns NULL)
    null_raw = nulls.select(
        "number", "hash", "parent_hash",
        *[
            F.lit(None).cast(good.schema[c].dataType).alias(c)
            for c in good.columns
            if c not in ("number", "hash", "parent_hash")
        ],
    ).select(*good.columns)
    batch = good.unionByName(null_raw)
    make_tail_batch_processor(lake)(batch, 0)
    assert lake.latest_block_number() == 2
    assert lake.blocks().count() == 3
    assert lake.blocks().filter(F.col("number").isNull()).count() == 0


def test_tail_reorg_check_null_hash_headers_no_crash(spark, tmp_path):
    # detect_reorgs over headers with NULL hash/parent_hash: no crash, and
    # the r15 per-signal null contract (maintenance.detect_reorgs): a NULL
    # incoming hash against a real stored hash at the SAME height FLAGS it
    # (the batch carries the replacement — self-heals by re-ingest), but a
    # NULL incoming PARENT is unknowable, not disagreeing — the flagged
    # parent height is not in the batch, so truncating it could never
    # self-heal (the r14 behavior deleted a block at a micro-batch
    # boundary for good; caught by scripts/dirty_chain_soak.py). A
    # fully-null header (NULL number) joins nothing and is inert.
    from core_etl_spark.lake import Lake
    from core_etl_spark.operators.transforms import normalize_blocks
    from core_etl_spark.sources import fixtures as FX

    lake = Lake(spark, str(tmp_path / "wh"), bucket_size=10)
    raw = FX.raw_blocks(spark, n_blocks=3, txs_per_block=0)
    lake.write_all(normalize_blocks(raw), None)
    stored_h1 = lake.blocks().filter(F.col("number") == 1).collect()[0].hash
    headers = spark.createDataFrame(
        [
            (None, None, None),        # fully null header: joins nothing
            (2, None, None),           # NULL hash at stored height 2 → flag 2;
                                       # NULL parent: unknowable → NOT flagged
            (2, "FORK", stored_h1),    # real same-height conflict, valid parent
        ],
        "number long, hash string, parent_hash string",
    )
    forked = {r.forked_number for r in lake.detect_reorgs(headers).collect()}
    assert forked == {2}


def test_parent_mismatch_needs_definite_disagreement(spark):
    # r15 (nb=3000 dirty-chain soak finding): a stored NULL-hash block at
    # a micro-batch boundary must NOT be flagged by the next batch's
    # parent link — the batch doesn't carry that height, so the truncate
    # could never self-heal and the block was permanently lost. Definite
    # parent disagreement still flags.
    from core_etl_spark.operators.maintenance import detect_reorgs

    stored = spark.createDataFrame(
        [(274, "h274"), (275, None), (299, "h299")],
        "number long, hash string",
    )
    incoming = spark.createDataFrame(
        [
            (276, "h276", "definite-parent"),  # parent vs stored-275 NULL:
                                               # unknowable → NOT flagged
            (300, "h300", "wrong-parent"),     # vs stored-299 h299 → flag 299
        ],
        "number long, hash string, parent_hash string",
    )
    out = {r.forked_number for r in detect_reorgs(stored, incoming).collect()}
    assert out == {299}


def test_tail_contiguity_guard_never_writes_past_a_gap(spark, tmp_path):
    # r15 (same soak): after a boundary-fork truncate — or a subscription
    # that dropped blocks — the batch's heights start past last+1. Writing
    # them would advance the resume point over a PERMANENT hole; the
    # contiguity guard writes only the contiguous prefix and leaves the
    # tip at the gap so backfill re-fetches from exactly there.
    from core_etl_spark.lake import Lake
    from core_etl_spark.operators.transforms import normalize_blocks
    from core_etl_spark.sources import fixtures as FX
    from core_etl_spark.streaming.tail import make_tail_batch_processor

    lake = Lake(spark, str(tmp_path / "wh"), bucket_size=10)
    raw = FX.raw_blocks(spark, n_blocks=25, txs_per_block=0)
    lake.write_all(normalize_blocks(raw.filter(F.col("number") < 10)), None)

    # batch carrying 12..14 (gap at 10-11): nothing may be written
    make_tail_batch_processor(lake)(
        raw.filter((F.col("number") >= 12) & (F.col("number") < 15)), 0
    )
    assert lake.latest_block_number() == 9
    assert lake.blocks().count() == 10

    # batch carrying 10..18: contiguous from last+1 → all written
    make_tail_batch_processor(lake)(
        raw.filter((F.col("number") >= 10) & (F.col("number") < 19)), 1
    )
    assert lake.latest_block_number() == 18
    assert lake.blocks().count() == 19

    # batch with an INTERNAL gap (19, 20, then 23, 24): prefix only
    make_tail_batch_processor(lake)(
        raw.filter(F.col("number").isin(19, 20, 23, 24)), 2
    )
    assert lake.latest_block_number() == 20
    assert lake.blocks().count() == 21
    # and the skipped heights re-ingest cleanly once the gap is filled
    make_tail_batch_processor(lake)(raw.filter(F.col("number") >= 21), 3)
    assert lake.latest_block_number() == 24
    assert lake.blocks().select("number").distinct().count() == 25


# --- stateful operators: null keys -------------------------------------------


def _run_stream(stream_df, ckpt, mode):
    out = []
    q = (
        stream_df.writeStream.foreachBatch(lambda d, i: out.extend(d.collect()))
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return out


def test_running_counts_null_key_group(spark, tmp_path):
    # NULL keys form their own state group (key=None) instead of crashing
    # the pandas body; non-null groups are unaffected.
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src)
    spark.createDataFrame(
        [("a", "s1"), ("b", None), ("c", None), ("d", "s2")],
        "fp string, source string",
    ).coalesce(1).write.mode("append").parquet(src)
    sdf = spark.readStream.schema("fp string, source string").parquet(src)
    rows = _run_stream(S.running_counts(sdf, "source"), ckpt, "update")
    got = {r.key: r.n_total for r in rows}
    assert got == {None: 2, "s1": 1, "s2": 1}


def test_first_seen_null_key_emitted_once(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src)
    spark.createDataFrame(
        [(None, "s"), (None, "s"), ("x", "s")], "fp string, source string"
    ).coalesce(1).write.mode("append").parquet(src)
    sdf = spark.readStream.schema("fp string, source string").parquet(src)
    rows = _run_stream(S.first_seen(sdf, "fp"), ckpt, "append")
    got = {r.key: r.n_dropped_dups for r in rows}
    assert got == {None: 1, "x": 0}


# --- watermarked windows: null event time ------------------------------------


def test_window_aggs_drop_null_event_time_consistently(spark, tmp_path):
    # F.window(NULL) groups to nothing in BOTH batch and streaming — a
    # null-ts row must vanish identically in the two modes, never crash
    # a stream or fabricate a null-window group in batch.
    rows = [("2024-01-01 00:01:00", "a"), (None, "b"), ("2024-01-01 00:02:00", "a")]
    batch = spark.createDataFrame(rows, "ts_s string, user_id string").select(
        F.to_timestamp("ts_s").alias("ts"), "user_id"
    )
    b = W.tumbling_counts(batch, keys=("user_id",)).collect()
    assert [(r.user_id, r.n_events) for r in b] == [("a", 2)]

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    batch.write.parquet(src)
    sdf = spark.readStream.schema("ts timestamp, user_id string").parquet(src)
    s = _run_stream(W.tumbling_counts(sdf, keys=("user_id",)), ckpt, "update")
    assert sorted(map(tuple, s)) == sorted(map(tuple, b))


def test_interval_join_null_key_and_ts_dropped(spark):
    # NULL join key or NULL timestamp → three-valued condition → the row
    # silently drops from the inner join, identically in batch (the
    # streaming plan shares the condition), with no NPE in the range part.
    l = spark.createDataFrame(
        [("k", "2024-01-01 00:00:00"), (None, "2024-01-01 00:00:00"), ("k", None)],
        "key string, ts_s string",
    ).select("key", F.to_timestamp("ts_s").alias("l_ts"))
    r = spark.createDataFrame(
        [("k", "2024-01-01 00:01:00"), (None, "2024-01-01 00:01:00"), ("k", None)],
        "key string, ts_s string",
    ).select("key", F.to_timestamp("ts_s").alias("r_ts"))
    out = W.interval_join(l, r, "key").collect()
    assert len(out) == 1
    assert out[0].key == "k" and out[0].lag_us == 60_000_000


# --- lake maintenance edges (probed already-safe; pinned) ---------------------


def test_lake_maintenance_safe_on_empty_and_overdeep(spark, tmp_path):
    # the mutation paths a production tail hits in weird states: an empty
    # warehouse (first boot, post-wipe) and a truncate deeper than
    # history (crash recovery with a huge safety margin). All no-ops or
    # graceful, never a crash.
    from core_etl_spark.lake import Lake
    from core_etl_spark.operators.transforms import normalize_blocks
    from core_etl_spark.sources import fixtures as FX

    lake = Lake(spark, str(tmp_path / "wh"), bucket_size=10)
    assert lake.latest_block_number() == -1          # empty → sentinel
    lake.truncate_from_last_saved(100)               # no-op, no crash
    hdrs = spark.createDataFrame(
        [(1, "h", "p")], "number long, hash string, parent_hash string"
    )
    assert lake.detect_reorgs(hdrs).collect() == []  # nothing stored → no fork
    lake.retention_cleanup(1_700_000_000)            # no-op, no crash

    raw = FX.raw_blocks(spark, n_blocks=3, txs_per_block=0)
    lake.write_all(normalize_blocks(raw), None)
    lake.truncate_from_last_saved(1000)              # deeper than history
    assert lake.blocks().count() == 0
    assert lake.latest_block_number() == -1          # back to empty state


# --- provider distributed fetch: malformed RPC replies ------------------------


def test_fetch_blocks_skips_null_and_garbage_block_replies(spark):
    # a node answers null for a pruned/not-yet-sealed height (REAL
    # whenever a backfill range touches the tip) — one such reply must
    # not kill the executor task 4x. Skipped heights surface via the V2
    # gap check; the good blocks still arrive.
    from core_etl_spark.sources.provider import RpcBlockProvider

    def transport(method, params_json):
        number = int(json.loads(params_json)[0], 16)
        if number == 1:
            return "null"          # pruned / not found
        if number == 2:
            return '["garbage"]'   # non-object reply
        return json.dumps(
            {
                "number": number, "hash": f"h{number}",
                "parent_hash": f"h{number - 1}",
                "nonce": "00", "sha3_uncles": "u", "logs_bloom": "b",
                "transactions_root": "t", "state_root": "s",
                "receipts_root": "r", "miner": "m", "difficulty": "1",
                "total_difficulty": "1", "extra_data": "00",
                "energy_limit": 1, "energy_used": 0,
                "timestamp": 1_700_000_000, "transactions": [],
            }
        )

    p = RpcBlockProvider(transport=transport, chunk_size=2)
    got = {r.number for r in p.fetch_blocks(spark, 0, 4).select("number").collect()}
    assert got == {0, 3, 4}


def test_fetch_blocks_all_skipped_chunk_keeps_schema(spark):
    # a chunk whose every reply is null must yield an EMPTY frame with
    # the right columns, not a column-less frame that breaks the
    # mapInPandas projection.
    from core_etl_spark.sources.provider import RpcBlockProvider

    p = RpcBlockProvider(transport=lambda m, a: "null", chunk_size=10)
    out = p.fetch_blocks(spark, 0, 9)
    assert out.count() == 0
    assert "number" in out.columns and "transactions" in out.columns


def test_receipts_null_reply_and_hex_status(spark):
    # a missing receipt (null — dropped/replaced tx) defaults to the
    # missing-status default (success); a live node's hex-quantity
    # status ("0x0"/"0x1") parses instead of crashing int().
    from core_etl_spark.sources.provider import RpcBlockProvider

    def transport(method, params_json):
        h = json.loads(params_json)[0]
        # the provider must send the 0x-prefixed wire DATA form even for
        # canonical unprefixed hashes (r16, recorded-frame replay fix) —
        # this stub, like a strict node, only answers the wire form
        assert h.startswith("0x"), f"non-wire hash param {h!r}"
        return {
            "0xt0": '{"status": "0x0"}',
            "0xt1": '{"status": "0x1"}',
            "0xt2": "null",
            "0xt3": '{"status": 0}',
            "0xt4": '{"status": "bogus"}',
        }[h]

    raw = spark.createDataFrame(
        [([{"hash": f"t{i}"} for i in range(5)],)],
        "transactions array<struct<hash:string>>",
    )
    p = RpcBlockProvider(transport=transport)
    got = {r.tx_hash: r.status for r in p.receipts_for(raw).collect()}
    assert got == {"t0": 0, "t1": 1, "t2": 1, "t3": 0, "t4": 1}
