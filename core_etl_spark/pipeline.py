"""Pipeline orchestration — the reference's ETLWorker (reference
crates/etl/src/etl.rs:47-344) as thin driver-side control flow around
distributed batch jobs.

- ``ingest_raw`` — the shared normalize→decode→write slice used by both the
  backfill and the streaming tail.
- ``backfill`` — O1: chunked range sync from the resume point to the chain
  tip. The reference spawns ``--threads`` concurrent per-block fetches and
  joins them (etl.rs:286-309); here each chunk is ONE distributed job whose
  parallelism is partitions × executors, and the chunk size only bounds
  checkpoint granularity (how much work a crash can lose), not speed.
- ``run_with_retry`` — O5: the reference's 10-attempt crash loop that
  truncates the last 100 blocks before each retry (export.rs:56-69) —
  unchanged semantics, since truncate-then-rewrite is idempotent here.
- ``parse_watch_tokens`` — T13: ``type:address`` watch-list parsing with the
  network-dependent ``ctn`` alias (export.rs:88-114).

Maturity (K6) has no refresh step anywhere in this pipeline: it is computed
at read time (``Lake.blocks_with_maturity``), so the reference's every-10k
refresh (etl.rs:318-321) and tip-window update (etl.rs:171) vanish.
"""

from __future__ import annotations

import logging
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from .lake import Lake, _contiguous_ranges
from .operators.decode import extract_token_transfers
from .operators.transforms import normalize_blocks, normalize_transactions

log = logging.getLogger(__name__)

#: network-dependent predefined token addresses (reference export.rs:95-101
#: resolves the literal ``ctn`` to a per-network contract)
CTN_ADDRESSES = {
    1: "cb19" + "a" * 40,  # mainnet
    3: "ab03" + "b" * 40,  # devin
}


def parse_watch_tokens(specs: list[str], network_id: int = 1) -> dict[str, set[str]]:
    """T13 — ``["cbc20:<addr>", "cbc20:ctn", ...]`` → {token_type: {addr}}
    (reference export.rs:88-114)."""
    out: dict[str, set[str]] = {}
    for spec in specs:
        if ":" not in spec:
            raise ValueError(f"watch token must be type:address, got {spec!r}")
        token_type, addr = spec.split(":", 1)
        addr = addr.lower()
        if addr == "ctn":
            try:
                addr = CTN_ADDRESSES[network_id]
            except KeyError:
                raise ValueError(f"no ctn alias for network {network_id}") from None
        out.setdefault(token_type.lower(), set()).add(addr)
    return out


def ingest_raw(
    lake: Lake,
    raw: DataFrame,
    watch_contracts: tuple[str, ...] = (),
    receipts_for: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
    height_range: tuple[int, int] | None = None,
    verified_hi: int | None = None,
) -> None:
    """Normalize one batch of raw nested blocks and write all modules as
    one ``Lake.write_all`` group, which advances the commit marker to
    ``verified_hi`` (the caller's proof of delivery; see there).

    ``raw`` must already be materialized (a ``localCheckpoint``): three
    sinks (+ the receipt set) all derive from it, and without
    materialization each write job re-runs the whole upstream
    fetch/generate lineage — measured 5 recomputes per chunk. The backfill
    and the repair materialize through :func:`fetch_verified`, the
    streaming tail through its header collect. A chunk is bounded by
    ``chunk_size``, so the checkpointed partitions fit executor storage
    (MEMORY_AND_DISK) at any table size. (Plain ``.cache()`` was measured
    slower here: lazy population taxes the first write job instead of
    paying one dedicated job up front.)"""
    blocks = normalize_blocks(raw)
    txs = normalize_transactions(raw)
    transfers = None
    if watch_contracts:
        receipts = None
        if receipts_for:
            # Receipts for MATCHED transfer calls only (the reference's
            # shape, etl.rs:357-360) — fetching for every tx in the chunk
            # fired orders of magnitude more RPCs than the decode ever
            # joins (r15 review). Every receipts_for takes the matched
            # hashes as its second argument; the fixture sources accept
            # and ignore it (deterministic local generation).
            from .operators.decode import is_transfer_call

            cand = None
            for c in watch_contracts:
                p_ = is_transfer_call(F.col("input"), F.col("to_addr"), c)
                cand = p_ if cand is None else (cand | p_)
            matched = txs.filter(cand).select(F.col("hash").alias("tx_hash"))
            receipts = receipts_for(raw, matched)
            # materialized ONCE: each watched contract's extract branch
            # joins this same frame — without the checkpoint the whole
            # receipt RPC sweep re-executed per contract (r15 review)
            receipts = receipts.localCheckpoint(eager=False)
        parts = [extract_token_transfers(txs, c, receipts=receipts) for c in watch_contracts]
        transfers = parts[0]
        for p in parts[1:]:
            transfers = transfers.unionByName(p)
        blk = blocks.select(F.col("number").alias("_bn"), F.col("created_at").alias("_ca"))
        transfers = (
            transfers.join(F.broadcast(blk), F.col("block_number") == F.col("_bn"), "left")
            .withColumnRenamed("_ca", "created_at")
            .drop("_bn")
        )
    # height_range: the caller knows each batch's [lo, hi] exactly —
    # passing it lets the idempotency key probe derive the touched buckets
    # arithmetically instead of running a min/max job per sink (r15).
    lake.write_all(blocks, txs, transfers, height_range=height_range,
                   verified_hi=verified_hi)


def verified_contiguous_hi(raw: DataFrame, height_range: tuple[int, int]) -> int:
    """Highest height through which THIS chunk's delivery is verifiably
    contiguous (ADVICE r15): ``fetch_blocks`` silently skips heights
    (null/pruned replies, raised transport errors), and advancing the
    group-commit marker to the *requested* hi would make those heights
    permanent holes — ``resume_point`` starts past them and the
    idempotent anti-join can only heal ranges that get re-delivered.
    Mirrors the streaming tail's contiguity guard: verify the delivered
    block numbers cover ``[lo, hi]`` with one 1-row aggregate over the
    chunk; on a gap, return only the prefix before the first missing
    height so the next resume re-fetches it.

    When the chunk's FIRST height is the missing one (or nothing was
    delivered), it returns ``lo - 1`` — the vacuous verified prefix: on a
    marker-less warehouse (fresh bootstrap, pre-marker legacy) no marker
    at all would make ``resume_point`` fall back to the blocks TIP,
    silently skipping the hole forever (r16 review). ``lo - 1`` is
    uniformly safe: with an existing marker the frontier rule reduces it
    to a no-op, and on bootstrap it pins resume at the hole.

    Probing raw ``number``s is sound because ``normalize_blocks`` is
    row-preserving by contract (its docstring +
    ``test_normalize_blocks_is_row_preserving``): the probe sees exactly
    the heights the blocks sink will write."""
    lo, hi = height_range
    nums = raw.select(F.col("number")).filter(F.col("number").between(lo, hi))
    row = nums.agg(
        F.countDistinct("number").alias("cnt"),
        F.min("number").alias("mn"),
    ).first()
    if row["cnt"] == 0 or row["mn"] != lo:
        return lo - 1
    if row["cnt"] == hi - lo + 1:
        return hi  # common path: one cheap aggregate, full range verified
    # Gap somewhere in (lo, hi]: find the first missing height with one
    # bounded anti-join (chunk-sized range frame vs chunk-sized key set —
    # O(chunk), never O(table)).
    first_gap = (
        raw.sparkSession.range(lo, hi + 1)
        .withColumnRenamed("id", "number")
        .join(nums, on="number", how="left_anti")
        .agg(F.min("number").alias("m"))
        .first()["m"]
    )
    return int(first_gap) - 1


def fetch_verified(
    spark: SparkSession, provider, lo: int, hi: int
) -> tuple[DataFrame, int]:
    """Fetch ``[lo, hi]`` and materialize it with a lazy
    ``localCheckpoint`` whose filling action is the contiguity probe: one
    job materializes the chunk AND yields the ``verified_hi`` that
    ``ingest_raw`` hands to ``Lake.write_all``, so the ingest path runs
    only the sink writes."""
    raw = provider.fetch_blocks(spark, lo, hi).localCheckpoint(eager=False)
    return raw, verified_contiguous_hi(raw, (lo, hi))


def backfill(
    spark: SparkSession,
    lake: Lake,
    provider,
    watch_contracts: tuple[str, ...] = (),
    end: int | None = None,
    chunk_size: int = 100_000,
) -> int:
    """O1+O3 — sync [resume_point, tip] in chunks; returns blocks ingested.

    Chunk size trades crash granularity against job overhead; within a chunk
    Spark owns all parallelism. Aligning it to the lake's bucket size keeps
    every chunk's write inside whole partitions (idempotent replay)."""
    # O3 resume (etl.rs:84-89) — from the group-commit watermark, not the
    # blocks tip: a torn write_all (blocks committed, txs not) must be
    # re-delivered so the idempotent append can heal the lagging sinks.
    start = lake.resume_point() + 1
    tip = end if end is not None else provider.chain_tip()
    if tip < start:
        return 0
    receipts_for = getattr(provider, "receipts_for", None)
    chunks = [
        (lo, min(lo + chunk_size - 1, tip))
        for lo in range(start, tip + 1, chunk_size)
    ]

    # Pipelined prefetch: materialize chunk N+1 (fetch + localCheckpoint)
    # on a background thread while chunk N ingests. On a cluster the fetch
    # is network-bound RPC and the ingest is CPU/shuffle-bound, so
    # overlapping them hides whichever is cheaper — wall time per chunk
    # drops from fetch+ingest to max(fetch, ingest). One chunk in flight
    # bounds memory to 2 × chunk_size rows of checkpointed storage.
    # Threads sharing one SparkContext run concurrent jobs natively; crash
    # granularity is unchanged (a chunk still commits before the next one
    # starts ingesting).
    #
    # Each chunk materializes through fetch_verified — checkpoint and
    # contiguity probe in one job on the prefetch thread, overlapped with
    # the previous chunk's sink writes.
    done = 0
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = pool.submit(fetch_verified, spark, provider, *chunks[0])
        for i, (lo, hi) in enumerate(chunks):
            raw, vhi = fut.result()
            if i + 1 < len(chunks):
                fut = pool.submit(fetch_verified, spark, provider, *chunks[i + 1])
            ingest_raw(lake, raw, watch_contracts, receipts_for,
                       height_range=(lo, hi), verified_hi=vhi)
            done += hi - lo + 1
            log.info("backfill: synced %d..%d (%d/%d)", lo, hi, done,
                     tip - start + 1)
    return done


def wait_until_synced(provider, poll_seconds: float = 60.0, max_polls: int | None = None) -> bool:
    """O4 — the lazy-mode gate (reference etl.rs:100-117): poll the node's
    sync status until it reports synced. Returns True when synced, False if
    ``max_polls`` ran out. Driver-side control flow, as in the reference."""
    import time as _time

    polls = 0
    while provider.syncing():
        polls += 1
        if max_polls is not None and polls >= max_polls:
            return False
        log.info("node still syncing; next poll in %.0fs", poll_seconds)
        _time.sleep(poll_seconds)
    return True


def repair_unverifiable_blocks(
    spark: SparkSession,
    lake: Lake,
    provider,
    watch_contracts: tuple[str, ...] = (),
    limit: int = 10_000,
) -> int:
    """Integrity sweep + targeted repair (ADVICE r15): NULL-hash stored
    blocks are *unverifiable* — ``detect_reorgs`` deliberately skips them
    as parents (unknowable ≠ disagreeing), and no automatic path
    re-delivers a height below ``resume_point()`` — so without this sweep
    they persist forever. Flag them (``verify.unverifiable_blocks``), drop
    the flagged heights across all modules in ONE bucket-scoped rewrite
    pass per table, then re-fetch and re-ingest each contiguous flagged
    range. Returns the number of heights repaired.

    Crash posture: a crash between clean and re-ingest leaves the flagged
    heights as plain GAPS — visible to the V2 gap check (`cli verify`),
    whose finding is re-fetchable the same way; nothing verified is lost.
    A node that persistently serves a NULL hash for a height re-flags it
    next sweep — progress elsewhere is unaffected (the same liveness
    stance as ``detect_reorgs``' parent rule).

    The flagged-height collect is LIMIT-bounded and fails loudly past
    ``limit`` (the bounded-strata stance, sampling.py): millions of
    flagged heights mean a poisoned warehouse, and silently repairing an
    unbounded set would both OOM the driver and hide the real problem."""
    from .operators import verify as V

    rows = V.unverifiable_blocks(lake.blocks()).limit(limit + 1).collect()
    if len(rows) > limit:
        raise ValueError(
            f"integrity sweep flagged more than {limit} unverifiable "
            "blocks — warehouse-scale corruption; raise `limit` only "
            "after diagnosing the source"
        )
    flagged = [r["number"] for r in rows]
    if not flagged:
        return 0
    # Refuse silent transfer loss (r16 review): clean_blocks sweeps ALL
    # modules, but the re-ingest below only writes transfers for the
    # contracts in ``watch_contracts`` — repairing a warehouse that HAS
    # transfer rows at the flagged heights without repeating the watch
    # list would delete those rows and re-create nothing, with no
    # detectable signal afterward (blocks contiguous, hashes non-NULL).
    # The probe is partition-pruned to the flagged heights' buckets and
    # LIMIT 1.
    if not watch_contracts:
        buckets = sorted({n // lake.bucket_size for n in flagged})
        probe = lake.token_transfers().filter(
            F.col("block_bucket").isin(buckets)
            & F.col("block_number").isin(flagged)
        )
        if probe.limit(1).count():
            raise ValueError(
                "repair_unverifiable_blocks: flagged heights carry "
                "token_transfers rows but watch_contracts is empty — the "
                "repair would delete them and re-ingest nothing; pass the "
                "warehouse's watch list"
            )
    log.warning("integrity sweep: repairing %d unverifiable block(s)",
                len(flagged))
    lake.clean_blocks(flagged)
    receipts_for = getattr(provider, "receipts_for", None)
    for lo, hi in _contiguous_ranges(flagged):
        raw, vhi = fetch_verified(spark, provider, lo, hi)
        ingest_raw(lake, raw, watch_contracts, receipts_for,
                   height_range=(lo, hi), verified_hi=vhi)
    return len(flagged)


def retention_loop(
    lake: Lake,
    retention_secs: int,
    interval_secs: float = 3600.0,
    clock: Callable[[], float] = None,
    stop: "threading.Event | None" = None,
    max_ticks: int | None = None,
) -> int:
    """K9 scheduler — the reference's background cleanup task (reference
    bin/core-etl/src/export.rs:30-37 wires ``-r``/``-c``; the task itself
    deletes rows older than ``retention_duration`` every
    ``cleanup_interval`` seconds, sqlite3.rs:483-536). Blocking loop: one
    cleanup sweep per tick, then wait. Run via
    :func:`start_retention_scheduler` for the daemon form; returns the tick
    count (tests drive it with ``max_ticks`` and a fake clock)."""
    import threading
    import time as _time

    clock = clock or _time.time
    stop = stop or threading.Event()
    ticks = 0
    while not stop.is_set():
        lake.retention_cleanup(int(clock()) - retention_secs)
        ticks += 1
        if max_ticks is not None and ticks >= max_ticks:
            break
        stop.wait(interval_secs)
    return ticks


def start_retention_scheduler(
    lake: Lake, retention_secs: int, interval_secs: float = 3600.0
):
    """Start :func:`retention_loop` on a daemon thread; returns a
    ``stop()`` callable (sets the event and joins briefly)."""
    import threading

    stop = threading.Event()
    t = threading.Thread(
        target=retention_loop,
        args=(lake, retention_secs, interval_secs),
        kwargs={"stop": stop},
        daemon=True,
        name="retention-scheduler",
    )
    t.start()

    def stopper() -> None:
        stop.set()
        t.join(timeout=30)

    return stopper


def run_with_retry(
    job: Callable[[], int],
    lake: Lake,
    attempts: int = 10,
    truncate_blocks: int = 100,
) -> int:
    """O5 — the reference's crash-recovery loop (export.rs:56-69): on
    failure, drop the possibly-torn top ``truncate_blocks`` heights and
    retry; the resume point recomputes from the lake, so the retried job
    re-ingests exactly the truncated range."""
    from .lake import WarehouseLockedError

    last_err: Exception | None = None
    for attempt in range(attempts):
        try:
            return job()
        except WarehouseLockedError:
            # Another PROCESS owns the warehouse (r16 writer lock): not a
            # torn write — truncating can't help (it needs the same lock)
            # and ten retries would only bury the operational error under
            # a generic "failed after N attempts". Surface it immediately.
            raise
        except Exception as e:  # noqa: BLE001 — the reference retries on any error
            last_err = e
            log.warning("attempt %d failed: %s; truncating %d and retrying",
                        attempt + 1, e, truncate_blocks)
            lake.truncate_from_last_saved(truncate_blocks)
    raise RuntimeError(f"job failed after {attempts} attempts") from last_err
