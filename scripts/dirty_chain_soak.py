#!/usr/bin/env python
"""Dirty-chain soak at realistic fixture counts (r15, VERDICT r14
directive 5): the o1x/o2x corrupt-chain specs prove SEMANTICS at
nb=200/30; this script proves the bucket-MUTATION machinery — staged
swaps for truncate (K8), reorg detection under NULL hashes (K10), the
ingest-idempotency anti-join (r15), and the streaming tail's checkpoint
batching — at nb=3000 across 30 buckets, all under the same corruption
(NULL block ts/hash, NULL/truncated/odd-length calldata, lying batch
count words).

Legs, all on a victim lake with bucket_size=100:

1. dirty backfill 0..2399 (6 chunks of 400 — chunk deliberately
   misaligned to the bucket so every chunk crosses a committed bucket);
2. duplicate redelivery of blocks 1600..1999 through ingest_raw — the
   crashed-and-retried shape, now on a DIRTY chunk (NULL tx fields ride
   the anti-join keys' non-null columns);
3. dirty streaming tail 2400..2999 in 5 micro-batch files of 100;
4. K10 reorg detection with the fork rule the streaming tail runs
   (``Lake.block_hashes_at`` + ``maintenance.forked_heights``): an
   incoming fork at 2990..2999 (wrong hashes) over stored blocks that
   include NULL-hash rows (num % 17 == 3) — IS-DISTINCT-FROM must flag
   exactly the forked heights, never the NULL-hash coincidences;
5. K8 truncate of the top 150 heights (drops bucket 29, rewrites bucket
   28) with a crash injected after the blocks table is done, then a
   resumed backfill, which must start at the cutoff (2850) and heal the
   tables the crash left half-truncated.

End-state check: every table of the victim must be ROW-IDENTICAL to a
control lake built by one straight dirty backfill 0..2999 — the digest
equality the o1x/o2x oracles pin at small nb, here at 30-bucket scale.

Usage: python scripts/dirty_chain_soak.py [n_blocks]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from core_etl_spark.lake import BLOCKS, Lake
from core_etl_spark.operators.maintenance import forked_heights
from core_etl_spark.pipeline import backfill, ingest_raw
from core_etl_spark.session import get_spark
from core_etl_spark.sources.fixtures import WATCH_CONTRACT, raw_blocks, receipts
from core_etl_spark.sources.provider import FixtureBlockProvider
from core_etl_spark.streaming.tail import start_tail


def table_rows(lake: Lake, name: str) -> list:
    df = lake.read(name).drop("block_bucket")
    return sorted(
        map(tuple, df.collect()),
        key=lambda r: tuple((v is None, str(v)) for v in r),
    )


def main() -> None:
    nb = int(sys.argv[1]) if len(sys.argv) > 1 else 3000
    tpb = 4
    backfill_to = nb * 8 // 10          # 2400: batch leg
    redeliver = (nb * 8 // 15, nb * 2 // 3)  # 1600..1999
    chunk = nb * 2 // 15                # 400 — misaligned to bucket 100
    trunc = nb // 20                    # 150
    spark = get_spark(app_name="dirty_chain_soak")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", "32")

    root = tempfile.mkdtemp(prefix="dirty_chain_soak_")
    rec: dict = {"nb": nb, "tpb": tpb}
    try:
        victim = Lake(spark, os.path.join(root, "victim"), bucket_size=100)
        provider = FixtureBlockProvider(n_blocks=backfill_to, txs_per_block=tpb, dirty=True)

        t0 = time.monotonic()
        n = backfill(spark, victim, provider, (WATCH_CONTRACT,), chunk_size=chunk)
        rec["backfill_s"] = round(time.monotonic() - t0, 1)
        rec["backfilled"] = n
        print(f"leg1 dirty backfill 0..{backfill_to - 1}: {rec['backfill_s']}s", flush=True)

        t0 = time.monotonic()
        lo, hi = redeliver[0], redeliver[1] - 1
        raw = provider.fetch_blocks(spark, lo, hi).localCheckpoint(eager=True)
        ingest_raw(victim, raw, (WATCH_CONTRACT,), provider.receipts_for)
        rec["redeliver_s"] = round(time.monotonic() - t0, 1)
        print(f"leg2 redelivery {lo}..{hi}: {rec['redeliver_s']}s", flush=True)

        # leg 3: dirty tail 2400..2999 in 5 files → 5 micro-batches
        src = os.path.join(root, "incoming")
        ckpt = os.path.join(root, "ckpt")
        tail_all = raw_blocks(spark, n_blocks=nb, txs_per_block=tpb, dirty=True).filter(
            F.col("number") >= backfill_to
        )
        per = (nb - backfill_to) // 5
        for i in range(5):
            lo_i = backfill_to + i * per
            tail_all.filter(
                (F.col("number") >= lo_i) & (F.col("number") < lo_i + per)
            ).coalesce(1).write.mode("append").parquet(src)
        t0 = time.monotonic()
        q = start_tail(spark, victim, src, ckpt, (WATCH_CONTRACT,), receipts)
        q.awaitTermination(600)
        rec["tail_s"] = round(time.monotonic() - t0, 1)
        rec["tip"] = victim.latest_block_number()
        print(f"leg3 dirty tail → tip {rec['tip']}: {rec['tail_s']}s", flush=True)
        assert rec["tip"] == nb - 1, rec

        # leg 4: K10 under NULL hashes — fork the top 10 heights
        forks = list(range(nb - 10, nb))
        incoming = (
            raw_blocks(spark, n_blocks=nb, txs_per_block=tpb, dirty=True)
            .filter(F.col("number") >= nb - 10)
            .select(
                "number",
                F.concat(F.lit("deadbeef"), F.col("number").cast("string")).alias("hash"),
                "parent_hash",
                "timestamp",
            )
        )
        t0 = time.monotonic()
        headers = [tuple(r) for r in incoming.select("number", "hash", "parent_hash").collect()]
        stored = victim.block_hashes_at({h for n, _, _ in headers for h in (n, n - 1)})
        flagged = sorted(forked_heights(stored, headers))
        rec["k10_s"] = round(time.monotonic() - t0, 1)
        rec["k10_flagged"] = len(flagged)
        print(f"leg4 reorg detect: {flagged[:3]}..{flagged[-1:]} ({rec['k10_s']}s)", flush=True)
        # every forked height must be flagged (same-height conflicts use
        # IS DISTINCT FROM, so even stored-NULL-hash heights flag — the
        # batch carries the replacement, so that truncate self-heals);
        # parent-mismatch only fires on DEFINITE disagreement (r15 — this
        # soak caught the r14 flag-on-unknowable-parent deleting a block
        # the stream could never restore)
        assert set(forks) <= set(flagged), (forks, flagged)
        assert min(flagged) >= nb - 11, flagged  # parent-mismatch edge only

        # leg 5: a truncate that crashes once the blocks table is done, then
        # resume: the commit marker already sits at the cutoff, so the
        # backfill re-fetches every height the crash left missing anywhere
        real_scan = victim._scan

        def crash_after_blocks(name, dirs=None):
            if name != BLOCKS:
                raise RuntimeError("crash injected mid-truncate")
            return real_scan(name, dirs)

        victim._scan = crash_after_blocks
        t0 = time.monotonic()
        try:
            victim.truncate_from_last_saved(trunc)
        except RuntimeError as e:
            print(f"leg5 truncate crashed as injected: {e}", flush=True)
        else:
            raise AssertionError("the injected truncate crash never fired")
        finally:
            del victim._scan
        rec["truncate_s"] = round(time.monotonic() - t0, 1)
        assert victim.latest_block_number() == nb - 1 - trunc
        assert victim.resume_point() == nb - 1 - trunc, victim.resume_point()
        t0 = time.monotonic()
        provider_full = FixtureBlockProvider(n_blocks=nb, txs_per_block=tpb, dirty=True)
        n2 = backfill(spark, victim, provider_full, (WATCH_CONTRACT,), chunk_size=chunk)
        rec["rebackfill_s"] = round(time.monotonic() - t0, 1)
        rec["rebackfilled"] = n2
        print(f"leg5 truncate {trunc} + re-backfill {n2}: "
              f"{rec['truncate_s']}s + {rec['rebackfill_s']}s", flush=True)
        assert n2 == trunc, rec

        # control: one straight dirty backfill 0..nb-1
        control = Lake(spark, os.path.join(root, "control"), bucket_size=100)
        t0 = time.monotonic()
        backfill(spark, control, provider_full, (WATCH_CONTRACT,), chunk_size=chunk)
        rec["control_s"] = round(time.monotonic() - t0, 1)

        for name in ("blocks", "transactions", "token_transfers"):
            a, b = table_rows(victim, name), table_rows(control, name)
            rec[f"rows_{name}"] = len(a)
            if a != b:
                sa, sb = set(a), set(b)
                print(f"{name}: victim-only rows: {sorted(sa - sb)[:3]}", flush=True)
                print(f"{name}: control-only rows: {sorted(sb - sa)[:3]}", flush=True)
            assert a == b, f"{name}: victim {len(a)} rows != control {len(b)}"
        print("end-state row-identical to straight backfill: "
              f"{rec['rows_blocks']} blocks / {rec['rows_transactions']} txs / "
              f"{rec['rows_token_transfers']} transfers", flush=True)
        rec["identical"] = True
        print("SOAK_RESULT " + json.dumps(rec), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
