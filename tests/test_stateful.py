"""applyInPandasWithState operator tests: state persists across micro-batches
(two sequential availableNow runs over a growing source) and first-seen dedup
drops repeats within and across batches."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from core_etl_spark.streaming import stateful as S


def _drop(spark, path, rows):
    spark.createDataFrame(rows, "fp string, source string").coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _run(stream_df, ckpt, mode="update"):
    """availableNow run through a foreachBatch collector (the memory sink
    can't recover from a checkpoint); returns all emitted rows."""
    out = []
    q = (
        stream_df.writeStream.foreachBatch(lambda df, bid: out.extend(df.collect()))
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return out


def test_running_counts_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    _drop(spark, src, [("a", "s1"), ("b", "s1"), ("c", "s2")])

    def stream():
        return spark.readStream.schema("fp string, source string").parquet(src)

    rows = _run(S.running_counts(stream(), "source"), ckpt)
    got = {r.key: r.n_total for r in rows}
    assert got == {"s1": 2, "s2": 1}

    # second run: state restored from checkpoint, totals accumulate
    _drop(spark, src, [("d", "s1"), ("e", "s3")])
    rows = _run(S.running_counts(stream(), "source"), ckpt)
    got = {r.key: r.n_total for r in rows}
    assert got == {"s1": 3, "s3": 1}  # only updated keys emit in batch 2


def test_first_seen_dedup(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    # batch 1: x twice, y once
    _drop(spark, src, [("x", "s"), ("x", "s"), ("y", "s")])

    def stream():
        return spark.readStream.schema("fp string, source string").parquet(src)

    rows = _run(S.first_seen(stream(), "fp"), ckpt, mode="append")
    got = {r.key: r.n_dropped_dups for r in rows}
    assert got == {"x": 1, "y": 0}

    # batch 2: x again (suppressed by state), z new
    _drop(spark, src, [("x", "s"), ("z", "s")])
    rows = _run(S.first_seen(stream(), "fp"), ckpt, mode="append")
    got = {r.key: r.n_dropped_dups for r in rows}
    assert got == {"z": 0}  # x never re-emitted


def test_dedup_within_watermark_bounds_state(spark, tmp_path):
    """The built-in bounded-state dedup must suppress dups inside the
    horizon — in-batch AND across two checkpointed availableNow runs
    (state recovered from the checkpoint) — and pass distinct keys.
    (Formerly the o2c spec's fixture; o2c is now the deterministic
    oracle-backed harness, so the cross-RUN recovery invariant lives
    here.)"""
    from datetime import datetime

    from core_etl_spark.streaming.stateful import dedup_within_watermark

    src = str(tmp_path / "src")
    os.makedirs(src)

    def drop(rows):
        spark.createDataFrame(rows, "fp string, ts timestamp").coalesce(
            1
        ).write.mode("append").parquet(src)

    def run():
        out: list = []
        q = (
            dedup_within_watermark(
                spark.readStream.schema("fp string, ts timestamp").parquet(src),
                keys=("fp",),
                delay="10 minutes",
            )
            .writeStream.foreachBatch(lambda b, _i: out.extend(b.collect()))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return out

    T = lambda m, s: datetime(2024, 1, 1, 12, m, s)  # noqa: E731
    # run 1: a+b distinct, a repeated within the horizon
    drop([("a", T(0, 0)), ("b", T(0, 30)), ("a", T(1, 0))])
    first = run()
    # run 2: dup of a (state recovered from checkpoint, still in horizon)
    # must be dropped; c is new and passes
    drop([("a", T(2, 0)), ("c", T(2, 30))])
    second = run()
    rows = sorted([("run1", r.fp) for r in first] + [("run2", r.fp) for r in second])
    assert rows == [("run1", "a"), ("run1", "b"), ("run2", "c")]


def test_dedup_within_watermark_batch_fallback(spark):
    """On a batch frame the operator degrades to plain dropDuplicates."""
    from core_etl_spark.streaming.stateful import dedup_within_watermark

    df = spark.createDataFrame(
        [("a", None), ("a", None), ("b", None)], "fp string, ts timestamp"
    )
    assert dedup_within_watermark(df).count() == 2


def test_stateful_ops_run_on_rocksdb_state_store(spark, tmp_path):
    """The production state-store swap must be a pure config change: the
    same stateful operators produce the same emissions under RocksDB
    (disk-spilling, changelog checkpoints) as under the default provider."""
    import os

    from core_etl_spark.session import use_rocksdb_state
    from core_etl_spark.streaming.stateful import first_seen

    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [("a",), ("a",), ("b",)], "fp string"
    ).coalesce(1).write.mode("append").parquet(src)
    use_rocksdb_state(spark)
    try:
        out: list = []
        q = (
            first_seen(spark.readStream.schema("fp string").parquet(src), "fp")
            .writeStream.foreachBatch(lambda b, _i: out.extend(b.collect()))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert sorted((r.key, r.n_dropped_dups) for r in out) == [("a", 1), ("b", 0)]
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        spark.conf.unset(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        )
