"""Per-layer measurement for traced runs, taken from outside the program.

Nothing here changes what the program does. The sources are:

- timing and counting wrappers on the ``Lake`` and provider instances the
  benchmark creates (the program calls them through the instance);
- Spark's status store, read at the end of each phase so its retention cap
  cannot drop a phase's stages; stages and jobs are assigned to a phase by
  their submission time falling inside one of the phase's time windows;
- ``queryExecution().tracker()`` and the executed plan of each view query;
- ``StreamingQuery.recentProgress`` of the tail.

``NoTrace`` is the untraced stand-in with the same methods, so workload code
calls the tracer unconditionally.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from collections import defaultdict
from datetime import datetime

PHASES = ("backfill", "views", "tail")
VIEW_KINDS = (
    "block_by_number",
    "block_by_hash",
    "blocks_in_range",
    "block_transactions",
    "transaction_by_hash",
    "token_transfers_by_token",
    "transfers_by_address",
    "latest_block_number",
    "sequence_gaps_scalable",
)
_SPARK_FIELDS = (
    "jobs",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
    "busy_share",
)


def now_ms() -> float:
    """Wall clock in epoch ms: the clock Spark stamps jobs and stages with."""
    return time.time() * 1000.0


def p50(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


class NoTrace:
    """Untraced run: every hook does nothing."""

    enabled = False

    def wrap_lake(self, lake):
        return lake

    def wrap_provider(self, provider):
        return provider

    def window(self, phase: str, start_ms: float, end_ms: float) -> None:
        pass

    def snapshot(self, spark, phases) -> None:
        pass

    def backfill_done(self, wall_s: float, chunks: int) -> None:
        pass

    def view_op(self, kind, df, build_s, action_s, rows) -> None:
        pass

    def tail_done(self, query, renames_ms, commits_ms) -> None:
        pass

    def calibrate(self, spark) -> None:
        pass


class Trace(NoTrace):
    enabled = True

    def __init__(self, cores: int) -> None:
        self.cores = cores
        self._lock = threading.Lock()
        self.counts: dict[str, float] = defaultdict(float)
        self.detect_reorgs_ms: list[float] = []
        self.windows: dict[str, list[tuple[float, float]]] = defaultdict(list)
        self.spark = {p: dict.fromkeys(_SPARK_FIELDS, 0.0) for p in PHASES}
        self.view_ops: list[dict] = []
        self.job_ms_by_window: dict[tuple[float, float], float] = {}
        self.tail: dict[str, list[float]] = defaultdict(list)
        self.calib: dict[str, list[float]] = defaultdict(list)
        self.layer = {"pipeline.backfill_s": 0.0, "pipeline.chunks": 0,
                      "pipeline.fetch_wait_s": 0.0}

    # --- wrappers on the instances the benchmark creates -------------------

    def _add(self, key: str, value: float) -> None:
        with self._lock:
            self.counts[key] += value

    def wrap_lake(self, lake):
        write_all = lake.write_all
        detect_reorgs = lake.detect_reorgs

        def timed_write_all(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return write_all(*args, **kwargs)
            finally:
                self._add("lake.write_all_s", time.perf_counter() - t0)
                self._add("lake.write_all_calls", 1)

        def timed_detect_reorgs(*args, **kwargs):
            # the returned frame is collected by the caller; the call itself
            # builds the plan and reads the stored blocks' schema
            t0 = time.perf_counter()
            try:
                return detect_reorgs(*args, **kwargs)
            finally:
                with self._lock:
                    self.detect_reorgs_ms.append((time.perf_counter() - t0) * 1000)

        lake.write_all = timed_write_all
        lake.detect_reorgs = timed_detect_reorgs
        return lake

    def wrap_provider(self, provider):
        return CountingProvider(provider, self._add)

    # --- phases and the status store ---------------------------------------

    def window(self, phase: str, start_ms: float, end_ms: float) -> None:
        self.windows[phase].append((start_ms, end_ms))

    def _phase_of(self, t_ms: float, phases) -> tuple[str, tuple] | None:
        for phase in phases:
            for w in self.windows[phase]:
                if w[0] <= t_ms <= w[1]:
                    return phase, w
        return None

    def snapshot(self, spark, phases) -> None:
        """Add the stages and jobs submitted inside ``phases``' windows.
        Called once per phase, after its last window closed; windows of
        different phases never overlap, so nothing is counted twice."""
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        it = stages.iterator()
        while it.hasNext():
            st = it.next()
            sub = st.submissionTime()
            if not sub.isDefined():
                continue
            hit = self._phase_of(sub.get().getTime(), phases)
            if hit is None:
                continue
            acc = self.spark[hit[0]]
            acc["tasks"] += st.numCompleteTasks()
            acc["executor_run_ms"] += st.executorRunTime()
            acc["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            acc["gc_ms"] += st.jvmGcTime()
            acc["shuffle_read_bytes"] += st.shuffleReadBytes()
            acc["shuffle_write_bytes"] += st.shuffleWriteBytes()
            acc["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            acc["output_bytes"] += st.outputBytes()
        jobs = store.jobsList(None)
        it = jobs.iterator()
        while it.hasNext():
            job = it.next()
            sub, end = job.submissionTime(), job.completionTime()
            if not sub.isDefined():
                continue
            t0 = sub.get().getTime()
            hit = self._phase_of(t0, phases)
            if hit is None:
                continue
            self.spark[hit[0]]["jobs"] += 1
            if end.isDefined():
                w = hit[1]
                self.job_ms_by_window[w] = (
                    self.job_ms_by_window.get(w, 0.0) + end.get().getTime() - t0
                )

    # --- layer hooks -------------------------------------------------------

    def backfill_done(self, wall_s: float, chunks: int) -> None:
        # the backfill is each workload's first ingest, so every write_all
        # timed so far belongs to it
        self.layer["pipeline.backfill_s"] = wall_s
        self.layer["pipeline.chunks"] = chunks
        self.layer["pipeline.fetch_wait_s"] = wall_s - self.counts["lake.write_all_s"]

    def view_op(self, kind, df, build_s, action_s, rows) -> None:
        """Record one timed view operation's plan and scan figures."""
        qe = df._jdf.queryExecution()
        plan_ms = 0.0
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            plan_ms += it.next()._2().durationMs()
        files, scanned = _scan_metrics(qe.executedPlan())
        self.view_ops.append({
            "kind": kind, "build_ms": build_s * 1000, "action_ms": action_s * 1000,
            "plan_ms": plan_ms, "files": files, "scanned": scanned, "rows": rows,
        })

    def tail_done(self, query, renames_ms, commits_ms) -> None:
        """Read the running query's progress for the timed ticks. The lake
        commit lands inside ``addBatch``; the batch's progress follows when
        its trigger ends, so wait for it."""
        deadline = time.perf_counter() + 30
        while True:
            batches = [p for p in query.recentProgress if p.numInputRows > 0]
            if len(batches) >= len(renames_ms) or time.perf_counter() > deadline:
                break
            time.sleep(0.05)
        # maxFilesPerTrigger=1 and one drop per tick: the k-th batch with
        # input is the k-th drop
        batches = batches[-len(renames_ms):]
        for p, ren, com in zip(batches, renames_ms, commits_ms):
            d = p.durationMs
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            pickup = start.timestamp() * 1000 - ren
            commit = com - ren
            self.tail["add_batch_ms"].append(d.get("addBatch", 0))
            self.tail["latest_offset_ms"].append(d.get("latestOffset", 0))
            self.tail["wal_commit_ms"].append(d.get("walCommit", 0))
            self.tail["commit_offsets_ms"].append(d.get("commitOffsets", 0))
            self.tail["trigger_ms"].append(d.get("triggerExecution", 0))
            self.tail["pickup_ms"].append(pickup)
            self.tail["commit_ms"].append(commit)
            before_write = sum(
                d.get(k, 0) for k in ("latestOffset", "walCommit", "getBatch", "queryPlanning")
            )
            self.tail["remainder_ms"].append(
                commit - pickup - before_write - d.get("addBatch", 0)
            )

    def calibrate(self, spark) -> None:
        """Fixed, data-free host probes (the same two ``bench.py`` uses):
        an ALU-bound fold and an allocation-bound md5 pass. Run after the
        timed phase only: run before it, they warm the JIT and speed up the
        traced run's first timed operations."""
        from pyspark.sql import functions as F

        probes = {
            "alu": lambda: spark.range(0, 64_000_000, 1, 32)
            .select(F.sum(F.col("id") % 7)).collect(),
            "mem": lambda: spark.range(0, 4_000_000, 1, 32)
            .select(F.md5(F.col("id").cast("string")).alias("h"))
            .agg(F.max("h")).collect(),
        }
        for name, probe in probes.items():
            for _ in range(2):
                t0 = time.perf_counter()
                probe()
                self.calib[name].append(time.perf_counter() - t0)

    # --- result ------------------------------------------------------------

    def metrics(self, session_s: float, lake_root: str) -> dict[str, float]:
        m: dict[str, float] = {"session.start_s": session_s}
        m.update(self.layer)
        m["sources.fetch_calls"] = self.counts["sources.fetch_calls"]
        m["sources.receipts_calls"] = self.counts["sources.receipts_calls"]
        m["lake.write_all_s"] = self.counts["lake.write_all_s"]
        m["lake.write_all_calls"] = self.counts["lake.write_all_calls"]
        m["lake.detect_reorgs_ms"] = p50(self.detect_reorgs_ms)
        files, tip_files = _lake_files(lake_root)
        m["lake.files"] = files
        m["lake.tip_bucket_files"] = tip_files

        ops = self.view_ops
        for kind in VIEW_KINDS:
            m[f"views.{kind}.p50_ms"] = p50(
                o["build_ms"] + o["action_ms"] for o in ops if o["kind"] == kind
            )
        # one window per timed operation, in the same order
        job_ms = [self.job_ms_by_window.get(w, 0.0) for w in self.windows["views"]]
        m["views.p50_ms"] = p50(o["build_ms"] + o["action_ms"] for o in ops)
        m["views.build_ms"] = p50(o["build_ms"] for o in ops)
        m["views.action_ms"] = p50(o["action_ms"] for o in ops)
        m["views.plan_ms"] = p50(o["plan_ms"] for o in ops)
        m["views.job_ms"] = p50(job_ms)
        m["views.remainder_ms"] = p50(
            o["action_ms"] - o["plan_ms"] - j for o, j in zip(ops, job_ms)
        )
        m["views.files_read"] = sum(o["files"] for o in ops) / max(len(ops), 1)
        m["views.rows_scanned_per_row"] = (
            sum(o["scanned"] for o in ops) / max(sum(o["rows"] for o in ops), 1)
        )

        for key in ("add_batch_ms", "latest_offset_ms", "wal_commit_ms",
                    "commit_offsets_ms", "trigger_ms", "pickup_ms", "commit_ms",
                    "remainder_ms"):
            m[f"tail.{key}"] = p50(self.tail[key])
        n_batches = len(self.tail["commit_ms"])
        m["tail.jobs_per_batch"] = self.spark["tail"]["jobs"] / max(n_batches, 1)

        for phase, acc in self.spark.items():
            wall_ms = sum(b - a for a, b in self.windows[phase])
            acc["busy_share"] = acc["executor_run_ms"] / max(wall_ms * self.cores, 1.0)
            for field in _SPARK_FIELDS:
                m[f"spark.{phase}.{field}"] = acc[field]

        m["host.calib_alu_s"] = min(self.calib["alu"], default=0.0)
        m["host.calib_mem_s"] = min(self.calib["mem"], default=0.0)
        return m


class CountingProvider:
    """Forwards to a block provider and counts fetch and receipt calls.

    ``receipts_for`` keeps the two-positional signature, so the pipeline's
    arity probe still passes the matched-hash hint through."""

    def __init__(self, inner, add) -> None:
        self._inner = inner
        self._add = add

    def chain_tip(self) -> int:
        return self._inner.chain_tip()

    def fetch_blocks(self, spark, start: int, end: int):
        self._add("sources.fetch_calls", 1)
        return self._inner.fetch_blocks(spark, start, end)

    def receipts_for(self, raw, tx_hashes=None):
        self._add("sources.receipts_calls", 1)
        return self._inner.receipts_for(raw, tx_hashes)


def _scan_metrics(plan) -> tuple[int, int]:
    """(files read, rows output) summed over the file scans of an executed
    plan, walking through adaptive plans and query stages."""
    files = rows = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if name == "FileSourceScanExec":
            metrics = node.metrics()
            if metrics.contains("numFiles"):
                files += int(metrics.apply("numFiles").value())
            if metrics.contains("numOutputRows"):
                rows += int(metrics.apply("numOutputRows").value())
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return files, rows


def _lake_files(root: str) -> tuple[int, int]:
    """(parquet files under the lake, those in each table's highest bucket)."""
    files = 0
    buckets: dict[str, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    for dirpath, _, names in os.walk(root):
        n = sum(1 for f in names if f.endswith(".parquet"))
        if not n:
            continue
        files += n
        rel = os.path.relpath(dirpath, root).split(os.sep)
        bucket = [p for p in rel if p.startswith("block_bucket=")]
        if bucket:
            buckets[rel[0]][int(bucket[0].split("=", 1)[1])] += n
    tip = sum(per[max(per)] for per in buckets.values() if per)
    return files, tip
