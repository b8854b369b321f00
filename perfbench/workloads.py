"""The two benchmark workloads, each a fixed sequence of operations issued
from one thread against the program's public functions.

- ``export``: a bulk backfill into an empty lake, then a closed loop of view
  and verify operations on the settled lake.
- ``live``: a half-full tip bucket, then one-block tail ticks, each followed
  by reads keyed mostly into the newest heights.

All inputs (keys, operation order, drop files) are made from the seed before
the timed operations start. Each workload returns the same end-to-end
metrics; see README.md for what each one measures on each workload.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
from dataclasses import dataclass, field

from . import chain, reads
from .trace import VIEW_KINDS, NoTrace, now_ms

EXPORT = {
    "blocks": 15_000,  # backfilled into the empty lake, timed
    "chunk_size": 5_000,  # three chunks, so chunk N+1 prefetches while N ingests
    # one bucket per chunk, as with the CLI's defaults (100,000 each): each
    # chunk lands in a new bucket and skips the redelivery anti-join
    "bucket_size": 5_000,
    # an untimed backfill of the same shape into a throwaway lake first, so
    # the timed one runs compiled code rather than the JVM's warm-up
    "warm_blocks": 1_000,
    "warm_chunk_size": 500,
    "warm_reads": 2,  # untimed reads of each kind after the backfill
    "view_ops": 24,  # timed closed-loop reads
}
LIVE = {
    "base_blocks": 2_000,  # backfilled before the ticks: the tip bucket is half full
    "chunk_size": 2_000,
    "bucket_size": 4_000,
    "warm_ticks": 3,  # untimed, until CPU time per tick levels off
    "warm_reads": 1,  # untimed reads of each kind after the warm ticks
    "ticks": 6,  # timed one-block tail ticks
    "reads_per_tick": 4,  # timed reads after each tick: 24, 12 beyond the median
    "hot_window": 1_000,  # most reads are keyed into the newest heights
    "hot_share": 0.75,
    # At zero, the idle trigger loop lists the source directory without
    # pause and keeps about 0.4 of a core busy between ticks, which the reads
    # then compete with. At 100 ms it idles at the no-tail level, and a drop
    # waits at most 100 ms to be picked up.
    "trigger_interval": "100 milliseconds",
}
COMMIT_TIMEOUT_S = 60.0


@dataclass
class Run:
    """What one run did: checked operations, raw timings and the end-to-end
    metrics."""

    process_start: float  # perf_counter at interpreter start
    attempted: int = 0
    failed: int = 0
    view_s: list[float] = field(default_factory=list)
    view_cpu_s: list[float] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=dict)

    def checked(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def end_setup(self) -> None:
        """Set-up is over: the session is up and every input is generated."""
        self.metrics["setup_s"] = time.perf_counter() - self.process_start
        log("set-up done")

    def close(self) -> None:
        """The end-to-end part is over; nothing after this is measured."""
        self.metrics["peak_rss_mb"] = peak_rss_mb()


def peak_rss_mb() -> float:
    """Kernel high-water RSS (VmHWM) of this process plus every descendant
    alive now (the JVM and any worker it started), in MB."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    per_kb, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        per_kb[pid] = int(line.split()[1])
        except OSError:
            continue
    log("peak RSS by process: "
        + ", ".join(f"{pid} {kb * 1024 / 1e6:.0f} MB" for pid, kb in per_kb.items()))
    return sum(per_kb.values()) * 1024 / 1e6


# The JIT compiler threads and the code cache sweeper, by their names as
# /proc truncates them. run.py fixes the number of compiler threads, so none
# exits while the benchmark still has to account for it.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")
_jit_ticks: dict[str, int] = {}  # CPU ticks of every JIT thread seen, exited ones too


def _ticks(stat_path: str) -> int:
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def cpu_s() -> float:
    """CPU seconds used so far by this process plus the JVM it launched,
    leaving out the JVM's JIT compiler and code-cache sweeper threads. Those
    compile in the background for minutes after start, whatever the program
    is doing, so their CPU would blur what the timed work costs."""
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    total = _ticks(f"/proc/{pid}/stat")
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if f.read().startswith(_JIT_THREADS):
                    _jit_ticks[tid] = _ticks(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            continue  # the thread exited
    jit = sum(_jit_ticks.values())
    return (total - jit) / os.sysconf("SC_CLK_TCK") + time.process_time()


def jit_cpu_s() -> float:
    """CPU seconds of the JIT threads as of the last ``cpu_s()``."""
    return sum(_jit_ticks.values()) / os.sysconf("SC_CLK_TCK")


_LOADED = time.perf_counter()


def log(msg: str) -> None:
    """A progress note on stderr, stamped with seconds since this module loaded."""
    stamp = time.perf_counter() - _LOADED
    print(f"perfbench: [{stamp:5.1f} s] {msg}", file=sys.stderr, flush=True)


def _watch():
    from core_etl_spark.sources.fixtures import WATCH_CONTRACT

    return (WATCH_CONTRACT,)


def _issue(run: Run, lake, op: reads.Op, tracer, timed: bool) -> None:
    """One view operation; an exception counts as a wrong answer."""
    w0 = now_ms()
    try:
        secs, cpu, ok = reads.run_op(lake, op, tracer if timed else NoTrace(), cpu_s)
    except Exception as exc:  # noqa: BLE001 — a failed operation is a result
        log(f"{op.kind} {op.keys} raised {exc!r}")
        run.checked(False)
        return
    if timed:
        tracer.window("views", w0, now_ms())
        run.view_s.append(secs)
        run.view_cpu_s.append(cpu)
    run.checked(ok)


def _backfill(spark, lake, provider, end: int, chunk_size: int, tracer, run: Run) -> float:
    """Backfill [resume point + 1, end]; returns the CPU seconds it used."""
    from core_etl_spark import pipeline

    w0, t0, c0, j0 = now_ms(), time.perf_counter(), cpu_s(), jit_cpu_s()
    start = lake.resume_point() + 1
    n = pipeline.backfill(spark, lake, provider, _watch(), end=end, chunk_size=chunk_size)
    wall, cpu = time.perf_counter() - t0, cpu_s() - c0
    tracer.window("backfill", w0, now_ms())
    log(f"backfill of {n} blocks took {wall:.2f} s, {cpu:.2f} CPU s"
        f" (+{jit_cpu_s() - j0:.2f} s in JIT threads)")
    run.checked(n == end - start + 1)
    tracer.backfill_done(wall, -(-(end - start + 1) // chunk_size))
    tracer.snapshot(spark, ["backfill"])
    return cpu


def _warm_backfill(spark, n: int, chunk_size: int, work: str, run: Run) -> None:
    """Untimed and untraced: backfill ``n`` blocks into a throwaway lake with
    one bucket per chunk, then delete it."""
    import shutil

    from core_etl_spark import pipeline
    from core_etl_spark.lake import Lake
    from core_etl_spark.sources.provider import FixtureBlockProvider

    root = os.path.join(work, "warmup-lake")
    t0 = time.perf_counter()
    got = pipeline.backfill(spark, Lake(spark, root, bucket_size=chunk_size),
                            FixtureBlockProvider(n_blocks=n), _watch(),
                            end=n - 1, chunk_size=chunk_size)
    run.checked(got == n)
    shutil.rmtree(root)
    log(f"warm-up backfill of {got} blocks took {time.perf_counter() - t0:.2f} s")


def stage_drops(spark, n_blocks: int, lo: int, hi: int, out_dir: str) -> dict[int, str]:
    """Write heights [lo, hi] of the fixture chain as one-block parquet drop
    files, in one Spark job; returns {height: file}."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from core_etl_spark.sources.fixtures import raw_blocks

    (
        raw_blocks(spark, n_blocks)
        .filter(F.col("number").between(lo, hi))
        .coalesce(1)
        .sortWithinPartitions("number")
        .write.option("maxRecordsPerFile", 1)
        .parquet(out_dir)
    )
    drops = {}
    for name in os.listdir(out_dir):
        if name.endswith(".parquet"):
            path = os.path.join(out_dir, name)
            drops[pq.read_table(path, columns=["number"]).column(0)[0].as_py()] = path
    if sorted(drops) != list(range(lo, hi + 1)):
        raise RuntimeError(f"staged heights {sorted(drops)} != [{lo}, {hi}]")
    return drops


class Tail:
    """The program's streaming tail over a source directory that the
    benchmark feeds one drop file at a time."""

    def __init__(self, spark, lake, provider, work: str) -> None:
        from core_etl_spark.streaming.tail import start_tail

        self.lake = lake
        self.src = os.path.join(work, "src")
        os.makedirs(self.src)
        self.query = start_tail(
            spark, lake, self.src, os.path.join(work, "ckpt"), _watch(),
            provider.receipts_for, trigger_interval=LIVE["trigger_interval"],
        )

    def tick(self, height: int, drop: str) -> tuple[float, float, float]:
        """Rename one drop into the source dir and wait until the lake's
        resume point covers it: (rename ms, commit ms, seconds). A tail that
        dies or stalls fails the run: later ticks could not commit either."""
        r_ms, t0 = now_ms(), time.perf_counter()
        os.rename(drop, os.path.join(self.src, f"b{height:012d}.parquet"))
        deadline = t0 + COMMIT_TIMEOUT_S
        polls = 0
        while self.lake.resume_point() < height:
            polls += 1
            # reading the marker file is cheap; asking the JVM whether the
            # query died is a py4j round trip, so that runs 4 times a second
            if polls % 50 == 0 and (self.query.exception() is not None
                                    or time.perf_counter() > deadline):
                raise RuntimeError(f"the tail did not commit height {height}")
            time.sleep(0.005)
        return r_ms, now_ms(), time.perf_counter() - t0

    def stop(self) -> None:
        self.query.stop()


def _check_lake(lake, tip: int, run: Run) -> None:
    """Independent end-of-run checks: per-sink row counts against the chain
    model, the resume point, each height stored once and the program's
    verify step finding no gaps."""
    from pyspark.sql import functions as F

    from core_etl_spark.operators.verify import sequence_gaps_scalable

    run.checked(lake.resume_point() == tip)
    blocks = lake.blocks()
    row = blocks.agg(F.count("*").alias("n"), F.countDistinct("number").alias("d"),
                     F.min("number").alias("lo"), F.max("number").alias("hi")).first()
    run.checked(tuple(row) == (tip + 1, tip + 1, 0, tip))
    run.checked(sequence_gaps_scalable(blocks).count() == 0)
    run.checked(lake.transactions().count() == chain.TXS_PER_BLOCK * (tip + 1))
    run.checked(lake.token_transfers().count() == chain.transfer_counts(0, tip)[0])


def _bytes_per_block(root: str, tip: int) -> float:
    total = 0
    for dirpath, _, names in os.walk(root):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in names if f.endswith(".parquet"))
    return total / (tip + 1)


def _read_and_size_metrics(run: Run, lake_root: str, tip: int) -> None:
    run.metrics["view_cpu_ms"] = sum(run.view_cpu_s) * 1000 / len(run.view_cpu_s)
    log(f"{len(run.view_s)} timed reads: wall p50 {statistics.median(run.view_s) * 1000:.1f} ms,"
        f" {run.metrics['view_cpu_ms']:.1f} CPU ms per read, {jit_cpu_s():.2f} s in JIT threads so far")
    run.metrics["lake_bytes_per_block"] = _bytes_per_block(lake_root, tip)


def export(spark, run: Run, seed: int, work: str, tracer, corrupt: bool) -> None:
    from core_etl_spark.lake import Lake
    from core_etl_spark.sources.provider import FixtureBlockProvider

    cfg = EXPORT
    n, tip = cfg["blocks"], cfg["blocks"] - 1
    rng = random.Random(seed)
    warm = [reads.make_op(k, rng.randint(0, reads.max_key(k, tip)), tip)
            for _ in range(cfg["warm_reads"]) for k in VIEW_KINDS]
    ops = [reads.make_op(k, rng.randint(0, reads.max_key(k, tip)), tip)
           for k in reads.kinds_in_order(rng, cfg["view_ops"])]
    if corrupt:
        ops[0].rows += 1
    root = os.path.join(work, "lake")
    lake = tracer.wrap_lake(Lake(spark, root, bucket_size=cfg["bucket_size"]))
    # one block past the backfill, for the traced run's hand-off to the tail
    provider = tracer.wrap_provider(FixtureBlockProvider(n_blocks=n + 1))

    run.end_setup()
    _warm_backfill(spark, cfg["warm_blocks"], cfg["warm_chunk_size"], work, run)
    cpu = _backfill(spark, lake, provider, tip, cfg["chunk_size"], tracer, run)
    run.metrics["ingest_cpu_ms_per_block"] = cpu * 1000 / n
    for op in warm:
        _issue(run, lake, op, tracer, timed=False)
    for op in ops:
        _issue(run, lake, op, tracer, timed=True)
    tracer.snapshot(spark, ["views"])
    _read_and_size_metrics(run, root, tip)
    _check_lake(lake, tip, run)
    run.close()

    if tracer.enabled:
        # follow the head after the backfill: one tail tick, so the traced
        # run reports the tail layer on this workload too. It runs after
        # every end-to-end reading, so none of them includes it.
        drops = stage_drops(spark, n + 1, n, n, os.path.join(work, "stage"))
        tail = Tail(spark, lake, provider, work)
        try:
            r_ms, c_ms, _ = tail.tick(n, drops[n])
            run.checked(True)
            tracer.window("tail", r_ms, c_ms)
            tracer.tail_done(tail.query, [r_ms], [c_ms])
        finally:
            tail.stop()
        tracer.snapshot(spark, ["tail"])


def live(spark, run: Run, seed: int, work: str, tracer, corrupt: bool) -> None:
    from core_etl_spark.lake import Lake
    from core_etl_spark.sources.provider import FixtureBlockProvider

    cfg = LIVE
    base = cfg["base_blocks"]
    last = base + cfg["warm_ticks"] + cfg["ticks"] - 1
    rng = random.Random(seed)

    def make(kind: str, tip: int, hot: bool) -> reads.Op:
        lo = tip - cfg["hot_window"] + 1 if hot else 0
        return reads.make_op(kind, rng.randint(lo, reads.max_key(kind, tip)), tip)

    first_tip = base + cfg["warm_ticks"] - 1
    warm = [make(kind, first_tip, True) for _ in range(cfg["warm_reads"]) for kind in VIEW_KINDS]
    per = cfg["reads_per_tick"]
    n_reads = cfg["ticks"] * per
    kinds = reads.kinds_in_order(rng, n_reads)
    # a fixed number of hot reads, at seeded positions
    hot = [i < round(n_reads * cfg["hot_share"]) for i in range(n_reads)]
    rng.shuffle(hot)
    ops = [make(kind, first_tip + 1 + i // per, h) for i, (kind, h) in enumerate(zip(kinds, hot))]
    if corrupt:
        ops[0].rows += 1

    root = os.path.join(work, "lake")
    lake = tracer.wrap_lake(Lake(spark, root, bucket_size=cfg["bucket_size"]))
    provider = tracer.wrap_provider(FixtureBlockProvider(n_blocks=last + 1))
    run.end_setup()
    # preparation, untimed: the half-full tip bucket, the drops, the tail
    # and its warm-up
    _backfill(spark, lake, provider, base - 1, cfg["chunk_size"], tracer, run)
    drops = stage_drops(spark, last + 1, base, last, os.path.join(work, "stage"))
    tail = Tail(spark, lake, provider, work)
    try:
        for h in range(base, base + cfg["warm_ticks"]):
            c0 = cpu_s()
            secs = tail.tick(h, drops[h])[2]
            log(f"warm-up tick {h}: {secs:.2f} s, {cpu_s() - c0:.2f} CPU s")
            run.checked(True)
        for op in warm:
            _issue(run, lake, op, tracer, timed=False)

        log("warm-up done, timed ticks start")
        commit_s, cpu, renames, commits = [], [], [], []
        for j in range(cfg["ticks"]):
            h = first_tip + 1 + j
            c0 = cpu_s()
            r_ms, c_ms, secs = tail.tick(h, drops[h])
            cpu.append(cpu_s() - c0)
            log(f"tick {h}: {secs:.2f} s, {cpu[-1]:.2f} CPU s")
            run.checked(True)
            tracer.window("tail", r_ms, c_ms)
            commit_s.append(secs)
            renames.append(r_ms)
            commits.append(c_ms)
            for op in ops[j * per:(j + 1) * per]:
                _issue(run, lake, op, tracer, timed=True)
        tracer.tail_done(tail.query, renames, commits)
    finally:
        tail.stop()
    log(f"tail commits took {sum(commit_s):.2f} s, {sum(cpu):.2f} CPU s over {len(cpu)} ticks")
    tracer.snapshot(spark, ["tail", "views"])
    # a tick commits one block; the median leaves out a tick that a GC
    # cycle or a late compilation happened to land in
    run.metrics["ingest_cpu_ms_per_block"] = statistics.median(cpu) * 1000
    _read_and_size_metrics(run, root, last)
    _check_lake(lake, last, run)
    run.close()


WORKLOADS = {"export": (export, EXPORT), "live": (live, LIVE)}
