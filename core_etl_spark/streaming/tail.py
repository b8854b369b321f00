"""Streaming tail — the reference's ``sync_new_blocks`` loop (reference
crates/etl/src/etl.rs:126-176) as a Structured Streaming query.

The reference consumes a WebSocket header subscription (provider.rs:45-47)
one block at a time: skip stale headers, fetch + normalize + insert, treat an
insert PK-conflict as a reorg (clean + resync), refresh maturity. Here the
subscription becomes a *file-based micro-batch source* — a driver-side RPC
poller (or Kafka topic) lands raw nested block files in a directory and
``readStream`` tails it with exactly-once checkpointing: an available-now
drain takes one drop file per micro-batch, a live tail every drop pending
at its trigger.

A micro-batch is a handful of blocks, so the fixed cost of each Spark job
dominates it. ``foreachBatch`` therefore makes every decision that needs no
table scan on the driver, over the batch's collected headers:

- materialize the batch once (``localCheckpoint``); the header collect is
  the action that fills it;
- in-batch dedup (the reference's one-at-a-time loop can't see dups; a
  micro-batch can) → per height keep the header another batch row chains
  to, then the highest hash, NULL hashes last;
- reorg check (etl.rs:147-169) → ``maintenance.forked_heights`` over the
  stored ``(number, hash)`` pairs at the batch heights and their parents
  (``Lake.block_hashes_at``: bucket- and ``number IN``-pruned, one small
  job), then a truncate from the lowest forked height;
- stale guard (etl.rs:134-136) → drop heights at or below the group-commit
  watermark (``Lake.resume_point``);
- contiguity guard → admit only the run ``last+1, last+2, ...``;
- normalize/decode/write → ``pipeline.ingest_raw`` over the admitted rows,
  the same code the backfill runs.

A crash anywhere re-runs the batch from the checkpointed offset; every step
is idempotent (truncate, stale guard, the lake's redelivery anti-join).

Maturity needs no refresh step at all: it is recomputed at read time
(``Lake.blocks_with_maturity``), so the reference's tip−10..tip−5 UPDATE
cadence (etl.rs:171-172) has no equivalent here.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..lake import Lake

#: nested raw-block shape produced by the poller (fixture-compatible)
RAW_BLOCK_DDL = (
    "number long, hash string, parent_hash string, nonce string, "
    "sha3_uncles string, logs_bloom string, transactions_root string, "
    "state_root string, receipts_root string, miner string, "
    "difficulty string, total_difficulty string, extra_data string, "
    "energy_limit long, energy_used long, timestamp long, "
    "transactions array<struct<hash:string,nonce:string,"
    "transaction_index:bigint,from:string,to:string,value:string,"
    "energy:string,energy_price:string,input:string>>"
)


def stream_raw_blocks(
    spark: SparkSession, source_dir: str, one_drop_per_batch: bool = True
) -> DataFrame:
    """S2 — the header subscription as a file stream of raw nested blocks
    (one parquet/json drop per poll). ``one_drop_per_batch`` mirrors the
    reference's block-at-a-time cadence without changing semantics;
    without it a batch takes every drop pending at its trigger."""
    reader = spark.readStream.schema(RAW_BLOCK_DDL)
    if one_drop_per_batch:
        reader = reader.option("maxFilesPerTrigger", "1")
    return reader.parquet(source_dir)


#: row identity inside one materialized micro-batch, so the driver's picks
#: select exact rows even when a drop repeats a header
_ROW_ID = "_tail_row_id"


def _pick_headers(
    headers: list[tuple[int, int | None, str | None, str | None]],
) -> dict[int, tuple[int, str | None, str | None]]:
    """In-batch dedup over ``(row_id, number, hash, parent_hash)`` rows:
    one ``number -> (row_id, hash, parent_hash)`` per non-NULL height.

    It must be deterministic: when a micro-batch carries competing headers
    at one height (dead branch + replacement during a reorg), keep the
    header some other batch row chains to via ``parent_hash`` (the
    canonical branch), then the highest hash with NULL hashes last, then the
    lowest row id, so reruns of the same batch pick the same row. Keeping
    the stale header would silently pass the same-height fork check. At the
    batch TIP no child exists to chain from, so a tip-height tie falls to
    the hash order — deterministic but possibly the dead branch; the next
    batch's parent-mismatch check then flags it and resyncs. NULL-height
    rows are dropped here; the stale guard would drop them anyway."""
    parents = {p for _, _, _, p in headers if p is not None}
    best: dict[int, tuple] = {}
    for rid, number, h, parent in headers:
        if number is None:
            continue
        key = (h is not None and h in parents, h is not None, h or "", -rid)
        if number not in best or key > best[number][0]:
            best[number] = (key, (rid, h, parent))
    return {n: row for n, (_, row) in best.items()}


def make_tail_batch_processor(
    lake: Lake,
    watch_contracts: tuple[str, ...] = (),
    receipts_for: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` body. Pure batch logic — unit-testable without a
    running stream by calling it with any raw-blocks DataFrame."""

    def process(raw: DataFrame, batch_id: int) -> None:
        with lake.mutex:
            _process_locked(raw)

    def _process_locked(raw: DataFrame) -> None:
        from ..operators.maintenance import forked_heights
        from ..pipeline import ingest_raw

        # One job: the header collect fills the lazy checkpoint, so the
        # sinks, the receipt set and the key probes below all read the
        # materialized batch instead of re-reading the drop.
        raw = raw.withColumn(
            _ROW_ID, F.monotonically_increasing_id()
        ).localCheckpoint(eager=False)
        picked = _pick_headers([
            tuple(r)
            for r in raw.select(_ROW_ID, "number", "hash", "parent_hash").collect()
        ])

        # Reorg check (reference: insert failure → clean + resync,
        # etl.rs:147-169). Everything stored at or above the fork point was
        # built on the dead branch — truncate it, then the replacement rows
        # (and any heights the batch re-delivers) flow through the normal
        # write below; heights the batch does not carry come in a later drop.
        stored = lake.block_hashes_at(
            {h for n in picked for h in (n, n - 1)}
        )
        forked = forked_heights(
            stored, [(n, h, p) for n, (_, h, p) in picked.items()]
        )
        if forked:
            fork_point = min(forked)
            tip = lake.latest_block_number()
            if tip >= fork_point:
                lake.truncate_from_last_saved(tip - fork_point + 1)

        # Stale guard (etl.rs:134-136) keyed on the group-commit watermark:
        # the blocks-derived tip would hide a torn write_all (blocks
        # committed, transactions not) and filter the replayed batch to
        # empty, stranding per-sink holes the idempotent append exists to
        # heal. After a truncate the fork heights are above the clamped
        # watermark, so they pass it naturally.
        #
        # Contiguity guard (found by the nb=3000 dirty-chain soak): admit
        # only the run last+1, last+2, ... Writing past a gap — a boundary
        # fork just truncated the previous tip, or the subscription dropped
        # blocks — would advance the watermark beyond a PERMANENT hole that
        # resume can never see again. Skipped heights are not lost: the
        # watermark stays at the gap, and the head poller re-delivers it
        # (streaming/poller.py): a height its fetch skipped starts its next
        # drop, and it refetches from the watermark when that moves back or
        # stops moving. A drop directory fed by other means must re-deliver
        # the gap too.
        last = lake.resume_point()
        n_fresh = 0
        while last + n_fresh + 1 in picked:
            n_fresh += 1
        if n_fresh == 0:
            return
        rids = [picked[last + i][0] for i in range(1, n_fresh + 1)]
        fresh = raw.filter(F.col(_ROW_ID).isin(rids)).drop(_ROW_ID)
        # The guard constructed the admitted range [last+1, last+n], so it
        # is both the write hint (the key probes derive their buckets
        # without a job) and the verified height the marker advances to.
        ingest_raw(lake, fresh, watch_contracts, receipts_for,
                   height_range=(last + 1, last + n_fresh),
                   verified_hi=last + n_fresh)

    return process


def start_tail(
    spark: SparkSession,
    lake: Lake,
    source_dir: str,
    checkpoint_dir: str,
    watch_contracts: tuple[str, ...] = (),
    receipts_for: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
    trigger_interval: str | None = None,
):
    """O2 — wire the stream to the batch processor with exactly-once
    checkpointing (the reference's resume point is the DB max, etl.rs:83-89;
    ours is the checkpointed source offset + idempotent bucket writes).

    ``trigger_interval=None`` runs available-now (drain the drops, then
    terminate — batch catch-up and tests); a live tail passes a processing
    interval (e.g. ``"10 seconds"``) and runs until stopped. A live batch
    takes every drop pending at its trigger, so heads announced faster than
    the interval do not queue up behind it; the in-batch dedup absorbs the
    heights two drops share."""
    raw = stream_raw_blocks(spark, source_dir,
                            one_drop_per_batch=trigger_interval is None)
    writer = raw.writeStream.foreachBatch(
        make_tail_batch_processor(lake, watch_contracts, receipts_for)
    ).option("checkpointLocation", checkpoint_dir)
    if trigger_interval is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()
