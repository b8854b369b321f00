"""Streaming tests: the tail (file-stream → foreachBatch → lake) end-to-end
with checkpoint resume and a reorg mid-stream, plus watermarked windowed
aggregations over a real stream (memory sink)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from core_etl_spark.lake import Lake
from core_etl_spark.sources import fixtures as FX
from core_etl_spark.streaming import tail as TL
from core_etl_spark.streaming import windows as W


def _drop(raw, path):
    """Land one micro-batch file of raw blocks (the poller's output)."""
    raw.coalesce(1).write.mode("append").parquet(path)


@pytest.fixture()
def dirs(tmp_path):
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    wh = str(tmp_path / "wh")
    os.makedirs(src, exist_ok=True)
    return src, ckpt, wh


def test_tail_end_to_end(spark, dirs):
    src, ckpt, wh = dirs
    lake = Lake(spark, wh, bucket_size=10)
    all_raw = FX.raw_blocks(spark, n_blocks=30, txs_per_block=3)

    # backfill blocks 0-19 batch-side, then stream the tail 20-29 in 2 drops
    from core_etl_spark.operators.transforms import normalize_blocks, normalize_transactions
    backfill = all_raw.filter(F.col("number") < 20)
    lake.write_all(normalize_blocks(backfill), normalize_transactions(backfill))

    _drop(all_raw.filter(F.col("number").between(20, 24)), src)
    _drop(all_raw.filter(F.col("number").between(25, 29)), src)

    q = TL.start_tail(
        spark, lake, src, ckpt,
        watch_contracts=(FX.WATCH_CONTRACT,),
        receipts_for=FX.receipts,
    )
    q.awaitTermination(120)

    assert lake.latest_block_number() == 29
    assert lake.blocks().count() == 30
    assert lake.transactions().count() == 90
    assert lake.token_transfers().count() > 0
    assert lake.token_transfers().filter(F.col("created_at").isNull()).count() == 0


def test_tail_checkpoint_resume_no_duplicates(spark, dirs):
    src, ckpt, wh = dirs
    lake = Lake(spark, wh, bucket_size=10)
    all_raw = FX.raw_blocks(spark, n_blocks=12, txs_per_block=2)

    _drop(all_raw.filter(F.col("number") < 6), src)
    TL.start_tail(spark, lake, src, ckpt).awaitTermination(120)
    assert lake.blocks().count() == 6

    # second run over the SAME dir plus new data: checkpoint skips batch 1
    _drop(all_raw.filter(F.col("number") >= 6), src)
    TL.start_tail(spark, lake, src, ckpt).awaitTermination(120)
    assert lake.blocks().count() == 12
    assert lake.blocks().select("number").distinct().count() == 12


def test_tail_stale_headers_skipped(spark, dirs):
    src, ckpt, wh = dirs
    lake = Lake(spark, wh, bucket_size=10)
    all_raw = FX.raw_blocks(spark, n_blocks=8, txs_per_block=2)
    from core_etl_spark.operators.transforms import normalize_blocks
    lake.write("blocks", normalize_blocks(all_raw))  # 0-7 already synced

    _drop(all_raw.filter(F.col("number").between(3, 7)), src)  # all stale
    TL.start_tail(spark, lake, src, ckpt).awaitTermination(120)
    assert lake.blocks().count() == 8  # nothing re-inserted


def test_tail_reorg_replaces_forked_block(spark, dirs):
    src, ckpt, wh = dirs
    lake = Lake(spark, wh, bucket_size=10)
    all_raw = FX.raw_blocks(spark, n_blocks=10, txs_per_block=2)
    from core_etl_spark.operators.transforms import normalize_blocks, normalize_transactions
    lake.write_all(normalize_blocks(all_raw), normalize_transactions(all_raw))
    old_hash9 = lake.block_by_number(9).first().hash

    # the chain reorged at height 9: new block 9' (different hash), then 10
    fork9 = (
        all_raw.filter(F.col("number") == 9)
        .withColumn("hash", F.lit("9f" * 32))
        .withColumn("extra_data", F.lit("f0"))
    )
    next10 = (
        all_raw.filter(F.col("number") == 9)
        .withColumn("number", F.lit(10).cast("long"))
        .withColumn("parent_hash", F.lit("9f" * 32))
        .withColumn("hash", F.lit("aa" * 32))
    )
    _drop(fork9.unionByName(next10), src)
    TL.start_tail(spark, lake, src, ckpt).awaitTermination(120)

    assert lake.latest_block_number() == 10
    assert lake.blocks().count() == 11
    hash9 = lake.block_by_number(9).first().hash
    assert hash9 == "9f" * 32 and hash9 != old_hash9
    # forked block's transactions were cleaned with it
    assert lake.transactions().filter(
        (F.col("block_number") == 9) & (F.col("block_hash") == old_hash9)
    ).count() == 0


def _stream_events(spark, tmp_path, rows):
    path = str(tmp_path / "events_src")
    df = spark.createDataFrame(rows, "ts timestamp, user_id string")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return spark.readStream.schema("ts timestamp, user_id string").parquet(path)


def test_streaming_tumbling_window_with_watermark(spark, tmp_path):
    import datetime as dt
    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = [(base + dt.timedelta(minutes=m), f"u{m % 2}") for m in range(12)]
    stream = _stream_events(spark, tmp_path, rows)

    out = W.tumbling_counts(stream, width="5 minutes", keys=("user_id",))
    q = (
        out.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("append")          # requires the watermark to close windows
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start.minute, r.user_id): r.n_events
        for r in spark.sql("select * from tumbling_test").collect()
    }
    # windows 0-5 and 5-10 are sealed by the watermark; 10-15 still open
    assert got[(0, "u0")] == 3 and got[(0, "u1")] == 2
    assert got[(5, "u0")] == 2 and got[(5, "u1")] == 3
    assert (10, "u0") not in got


def test_batch_parity_of_window_helpers(spark, tmp_path):
    """The same helpers run in batch mode (watermark no-op) — this is what
    the oracle checks compare."""
    import datetime as dt
    base = dt.datetime(2026, 1, 1)
    rows = [(base + dt.timedelta(minutes=3 * m), f"u{m % 2}") for m in range(8)]
    df = spark.createDataFrame(rows, "ts timestamp, user_id string")
    tum = W.tumbling_counts(df, width="6 minutes")
    assert tum.agg(F.sum("n_events")).first()[0] == 8
    ses = W.session_counts(df, gap="4 minutes", keys=("user_id",))
    # 3-min cadence per user = 6-min per-user gaps > 4 min → every event its own session
    assert ses.count() == 8


def test_streaming_sliding_window_with_watermark(spark, tmp_path):
    """sliding_counts under a real readStream: every event lands in
    width/slide = 2 windows, and only watermark-sealed windows emit in
    append mode — the live twin of the g16b batch-parity spec."""
    import datetime as dt
    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = [(base + dt.timedelta(minutes=m), "u0") for m in range(12)]
    stream = _stream_events(spark, tmp_path, rows)

    out = W.sliding_counts(stream, width="10 minutes", slide="5 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sliding_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck_slide"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.window_start: r.n_events
        for r in spark.sql("select * from sliding_test").collect()
    }
    # watermark = max ts (0:11) - 1 min = 0:10 seals windows ending <= 0:10:
    # [23:55, 0:05) holds minutes 0-4, [0:00, 0:10) holds minutes 0-9
    sealed = {w.minute: n for w, n in got.items()}
    assert sealed[55] == 5 and sealed[0] == 10
    assert all(w.minute in (55, 0) for w in got), got


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """A genuine two-stream interval join (orders↔payments shape): the
    streaming result over availableNow must equal the batch join of the
    same frames — and the state-bounding requirements (watermark on both
    sides + the time-range condition) are baked into the helper."""
    import datetime as dt

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    orders = [
        (base + dt.timedelta(minutes=m), f"k{m % 3}") for m in range(6)
    ]
    # one payment 2 min after each order; one stray 30 min late (outside
    # the 10-minute interval, must not pair)
    pays = [(ts + dt.timedelta(minutes=2), k) for ts, k in orders] + [
        (base + dt.timedelta(minutes=35), "k0")
    ]

    lpath, rpath = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(orders, "l_ts timestamp, key string").coalesce(1).write.parquet(lpath)
    spark.createDataFrame(pays, "r_ts timestamp, key string").coalesce(1).write.parquet(rpath)

    def sides(streaming):
        if streaming:
            return (
                spark.readStream.schema("l_ts timestamp, key string").parquet(lpath),
                spark.readStream.schema("r_ts timestamp, key string").parquet(rpath),
            )
        return spark.read.parquet(lpath), spark.read.parquet(rpath)

    lb, rb = sides(False)
    batch = {
        (r.key, r.l_ts, r.r_ts, r.lag_us)
        for r in W.interval_join(lb, rb, "key").collect()
    }

    ls, rs = sides(True)
    out = W.interval_join(ls, rs, "key")
    assert out.isStreaming
    got = []
    q = (
        out.writeStream.foreachBatch(lambda b, _i: got.extend(b.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {(r.key, r.l_ts, r.r_ts, r.lag_us) for r in got}
    assert streamed == batch and batch
    # every pair respects the interval; the stray late payment paired with nothing
    assert all(0 <= lag <= 10 * 60 * 1_000_000 for (_, _, _, lag) in batch)
    assert not any(ts.minute == 35 for (_, _, ts, _) in batch)


def test_dedup_within_watermark_eviction_timing(spark, tmp_path):
    """Pins the eviction-timing semantics the o2c oracle encodes
    (plans/maintenance_specs.py): a state entry is evicted at the END of
    a batch using that batch's current watermark, so a duplicate in
    batch b re-emits iff its stored expiry < wm_end(b-2) — one batch
    LATER than an evict-before-processing model would predict. If a
    Spark upgrade changes StreamingDeduplicateWithinWatermarkExec's
    timing, this fails before the driver's o2c oracle does."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from core_etl_spark.streaming.stateful import dedup_within_watermark

    src = str(tmp_path / "src")
    os.makedirs(src)
    T = lambda m: datetime(2024, 1, 1, 12, m, 0)  # noqa: E731
    # delay=10min. A@12:00 (expiry 12:10).
    # b1: B@12:25 -> wm during b1 = 11:50, A survives end-of-b1 eviction.
    # b2: A@12:30 -> wm during b2 = 12:15 > expiry, but eviction at end of
    #     b1 used 11:50, so A is still in state: DROPPED (late-eviction
    #     model; an evict-first model would emit it).
    # b3: C@12:40 -> end-of-b3... (state A evicted at end of b2 w/ 12:15)
    # b4: A@12:50 -> state gone: RE-EMITTED.
    batches = [
        [("A", T(0))],
        [("B", T(25))],
        [("A", T(30))],
        [("C", T(40))],
        [("A", T(50))],
    ]
    for i, rows in enumerate(batches):
        tbl = pa.table(
            {
                "key": [r[0] for r in rows],
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            }
        )
        p = os.path.join(src, f"b{i:03d}.parquet")
        pq.write_table(tbl, p)
        os.utime(p, (1000 + i, 1000 + i))

    out: list = []
    q = (
        dedup_within_watermark(
            spark.readStream.schema("key string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            keys=("key",),
            ts_col="ts",
            delay="10 minutes",
        )
        .writeStream.foreachBatch(
            lambda b, i: out.extend((i, r.key) for r in b.collect())
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(out) == [(0, "A"), (1, "B"), (3, "C"), (4, "A")]


def test_tail_checkpoint_restart_replays_crashed_microbatch(spark, dirs):
    """VERDICT r15 directive 6 (pinned twin of scripts/chaos_soak.py's
    tail_leg): a micro-batch that dies MID-foreachBatch — after the
    blocks sink committed but before transactions/marker (the torn
    write_all shape an executor SIGKILL produces) — fails the query;
    restarting from the same checkpoint must replay the uncommitted
    batch through the REAL processor, whose stale guard + idempotent
    append heal the tear. End state must be row-identical to a kill-free
    control drain of the same drops."""
    from core_etl_spark.operators.transforms import normalize_blocks

    src, ckpt, wh = dirs
    all_raw = FX.raw_blocks(spark, n_blocks=30, txs_per_block=3)
    for lo in (0, 10, 20):
        _drop(all_raw.filter(F.col("number").between(lo, lo + 9)), src)

    control = Lake(spark, str(os.path.dirname(wh)) + "/control", bucket_size=10)
    TL.start_tail(spark, control, src, ckpt + "_c",
                  watch_contracts=(FX.WATCH_CONTRACT,),
                  receipts_for=FX.receipts).awaitTermination(120)

    victim = Lake(spark, wh, bucket_size=10)
    real = TL.make_tail_batch_processor(
        victim, (FX.WATCH_CONTRACT,), FX.receipts
    )

    def sabotaged(raw, batch_id):
        if batch_id == 1:
            # the torn shape: one sink lands, then the "executor dies"
            victim.write("blocks", normalize_blocks(
                raw.filter(F.col("number") > victim.resume_point())
            ))
            raise RuntimeError("simulated executor loss mid-microbatch")
        real(raw, batch_id)

    q = (TL.stream_raw_blocks(spark, src)
         .writeStream.foreachBatch(sabotaged)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    with pytest.raises(Exception, match="mid-microbatch"):
        q.awaitTermination(120)
    assert victim.latest_block_number() == 19  # torn: tip hides it
    assert victim.resume_point() == 9          # watermark does not

    # checkpoint restart with the REAL processor: batch 1 replays (its
    # offset never committed), batch 2 follows
    TL.start_tail(spark, victim, src, ckpt,
                  watch_contracts=(FX.WATCH_CONTRACT,),
                  receipts_for=FX.receipts).awaitTermination(120)

    for name in ("blocks", "transactions", "token_transfers"):
        a = sorted(map(tuple, victim.read(name).drop("block_bucket").collect()),
                   key=repr)
        b = sorted(map(tuple, control.read(name).drop("block_bucket").collect()),
                   key=repr)
        assert a == b, f"{name} diverged after checkpoint-restart replay"
    assert victim.resume_point() == 29


def test_tail_receipts_fetched_once_and_narrowed(spark, tmp_path):
    """r16 unification pin: the tail's batch body routes through
    ingest_raw, so receipts_for runs ONCE per micro-batch (checkpointed,
    not once per watched contract) and receives the matched-call hint —
    the hand-rolled copy it replaced swept every tx and re-ran the sweep
    per contract."""
    from core_etl_spark.lake import Lake
    from core_etl_spark.sources import fixtures as FX
    from core_etl_spark.sources.provider import FixtureBlockProvider
    from core_etl_spark.streaming.tail import make_tail_batch_processor

    lake = Lake(spark, str(tmp_path / "wh"), bucket_size=10)
    provider = FixtureBlockProvider(n_blocks=8, txs_per_block=3)
    raw = provider.fetch_blocks(spark, 0, 7)
    calls = {"n": 0, "hinted": 0}

    def counting(raw_df, tx_hashes=None):
        calls["n"] += 1
        if tx_hashes is not None:
            calls["hinted"] += 1
        return provider.receipts_for(raw_df, tx_hashes)

    other = "e" * 44  # second watched contract, no matches
    proc = make_tail_batch_processor(lake, (FX.WATCH_CONTRACT, other), counting)
    proc(raw, 0)
    assert calls == {"n": 1, "hinted": 1}
    assert lake.token_transfers().count() > 0


def test_tail_one_block_batch_job_budget(spark, tmp_path):
    """A one-block micro-batch on a half-full bucket runs at most 12 Spark
    jobs: every per-batch decision (dedup, fork rule, stale and contiguity
    guards) is made on the driver over collected headers, the stored
    hashes are read from the batch's heights only, and the sinks skip the
    redelivery anti-join because footer statistics show every committed
    row sits below the batch. It ran 29 jobs when the fork check and the
    key probes scanned whole tables; a return to those fails here."""
    from core_etl_spark.pipeline import backfill
    from core_etl_spark.sources.provider import FixtureBlockProvider

    lake = Lake(spark, str(tmp_path / "wh"), bucket_size=40)
    provider = FixtureBlockProvider(n_blocks=21, txs_per_block=3)
    backfill(spark, lake, provider, (FX.WATCH_CONTRACT,), end=19, chunk_size=20)
    drop = str(tmp_path / "drop")
    _drop(FX.raw_blocks(spark, n_blocks=21, txs_per_block=3)
          .filter(F.col("number") == 20), drop)
    batch = spark.read.schema(TL.RAW_BLOCK_DDL).parquet(drop)
    proc = TL.make_tail_batch_processor(
        lake, (FX.WATCH_CONTRACT,), provider.receipts_for
    )

    sc = spark.sparkContext
    sc.setJobGroup("tail-job-budget", "one-block tail batch")
    try:
        proc(batch, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("tail-job-budget")
    assert lake.resume_point() == 20
    assert lake.blocks().count() == 21
    # the header collect and the three sink writes are in the group, so
    # the count covers the write pool's threads too
    assert 4 <= len(jobs) <= 12, sorted(jobs)
