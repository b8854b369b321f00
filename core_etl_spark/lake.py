"""The lake — partitioned-Parquet storage layout and mutation semantics.

This is the Spark-first replacement for the reference's storage backends
(reference crates/storage/sqlite3/src/sqlite3.rs, postgres.rs):

- **Layout** (K1/K2/K3): three tables under a warehouse root, partitioned by
  ``block_bucket = number div bucket_size`` (transfers additionally by token
  ``address``, collapsing the reference's table-per-token family,
  sqlite3.rs:230-270). Rows are sorted by ``number`` within partitions on
  write, so Parquet min/max stats replace the reference's six b-tree indexes
  (sqlite3.rs:131-151). At 100 TB the bucket size bounds every mutation to a
  rewrite of a few hundred MB, and point/range queries prune to one bucket.
- **Writes** (K4/K5): micro-batch appends; Spark owns buffering, so the
  reference's 750/500-row thresholds (sqlite3.rs:401, postgres.rs:394)
  disappear. Module gating (sqlite3.rs:422,443,453) is the ``modules`` set.
- **Reads**: every scan (``Lake._scan``) carries the table's stored
  schema — the declared row schema with the partition columns last — so
  Spark runs no schema-inference job before the query's own, and a point
  lookup is one job. A table with no rows yet reads as an empty frame with
  that same schema, so every lookup on a day-zero lake returns 0 rows.
- **Mutations** (K7-K9, compaction): Parquet files are immutable, so reorg
  clean, truncate, retention and compaction share one planner and one
  writer. The plan comes from the directory layout and parquet footers,
  never from a scan: bucket ``b`` holds heights ``[b·bs, (b+1)·bs − 1]``,
  so a bucket lying wholly inside a deleted height range loses its leaf
  dirs with no Spark job (the local-FS stand-in for a metastore
  ``ALTER TABLE DROP PARTITION``), and a bucket the range only overlaps is
  rewritten from its own leaf dirs, one task per leaf dir: filter, stage
  the survivors, swap them in. Nothing outside the touched buckets is read
  or rewritten; a reorg at the tip costs one bucket regardless of table
  size. The warehouse records its bucket size on the first mutation, since
  every plan derives from it, and refuses a size its buckets do not fit.
- **Maturity** (K6): recomputed, never stored — ``matured`` is
  ``number <= tip - depth`` (reference mutates rows in place,
  sqlite3.rs:213-228; a computed view is both cheaper and can't go stale).
- **Reorg detection** (K10): the reference discovers reorgs via PK-conflict
  on insert (etl.rs:147-169); append-only Parquet has no PK, so we check
  explicitly: an incoming header whose ``parent_hash`` disagrees with the
  stored hash at ``number - 1`` marks a fork.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import threading
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .schemas import BLOCK_SCHEMA, TOKEN_TRANSFER_SCHEMA, TRANSACTION_SCHEMA

DEFAULT_BUCKET_SIZE = 100_000
#: rows per file a bucket rewrite aims for (``maxRecordsPerFile``)
TARGET_ROWS_PER_FILE = 1_000_000
MATURITY_DEPTH = 5  # reference etl.rs:171,253 — 5-block confirmation

BLOCKS, TRANSACTIONS, TOKEN_TRANSFERS = "blocks", "transactions", "token_transfers"
ALL_MODULES = (BLOCKS, TRANSACTIONS, TOKEN_TRANSFERS)

_SCHEMAS = {
    BLOCKS: BLOCK_SCHEMA,
    TRANSACTIONS: TRANSACTION_SCHEMA,
    TOKEN_TRANSFERS: TOKEN_TRANSFER_SCHEMA,
}
#: column holding the block height per table (transfers/txs use block_number)
_NUMBER_COL = {BLOCKS: "number", TRANSACTIONS: "block_number", TOKEN_TRANSFERS: "block_number"}
_PARTITION_COLS = {
    BLOCKS: ["block_bucket"],
    TRANSACTIONS: ["block_bucket"],
    TOKEN_TRANSFERS: ["address", "block_bucket"],
}
#: Natural row identity per table — the Spark-side replacement for the
#: reference's PRIMARY KEYs (DDL sqlite3.rs:68-108; insert-conflict handling
#: etl.rs:147-169). Append-mode writes anti-join incoming rows against these
#: keys in the touched buckets, so a crashed-and-retried delivery cannot
#: double-append (ingest-level idempotency, r15). A batchTransfer fans one tx
#: into N transfer rows, so the transfer identity includes ``transfer_index``.
_NATURAL_KEY = {
    BLOCKS: ("number",),
    TRANSACTIONS: ("hash",),
    TOKEN_TRANSFERS: ("tx_hash", "address", "transfer_index"),
}
#: The schema every read of a table returns (``Lake._scan``): the declared
#: row schema with the partition columns moved to the end in layout order,
#: every field nullable — exactly what parquet schema inference derives
#: from the files and the directory names, declared so no inference job
#: runs. ``block_bucket`` reads back as int, which is what partition
#: discovery infers from a directory value below 2^31; a bucket index at
#: or above it (height 2.1e14 at the default bucket size) would fail the
#: read with INVALID_PARTITION_VALUE, so ``Lake._bucket`` refuses it.
_PARTITION_TYPES = {"address": T.StringType(), "block_bucket": T.IntegerType()}
_STORED_SCHEMAS = {
    name: T.StructType(
        [
            T.StructField(f.name, f.dataType, True)
            for f in schema
            if f.name not in _PARTITION_COLS[name]
        ]
        + [T.StructField(c, _PARTITION_TYPES[c], True) for c in _PARTITION_COLS[name]]
    )
    for name, schema in _SCHEMAS.items()
}


class WarehouseLockedError(RuntimeError):
    """Another PROCESS holds this warehouse's writer lock.

    Two processes appending to one warehouse root (two backfill jobs
    pointed at the same path — an orchestration mistake that WILL happen
    at scale) interleave parquet appends and group-commit marker writes
    with no coordination: the marker records heights the other writer
    never delivered, compact/retention stage-and-swaps silently drop the
    other's committed batches, and the idempotency anti-join reads a
    half-written view. The in-process ``Lake.mutex`` cannot see across
    processes, so the first MUTATION a process performs takes a
    create-exclusive on-disk writer lock (the sketch-store lock
    machinery — pid/host sentinel, live-holder-never-broken, stale-break
    with content pinning) and holds it for the process lifetime. A
    second writing process fails loudly with this error instead of
    corrupting silently. Read-only use (views, verify) never locks."""


#: warehouse root (absolute) → held lock, process-wide: every Lake
#: instance in one process shares one writer-lock holder per root, so
#: re-opening a warehouse (tests, the CLI's backfill-then-tail flow)
#: re-enters instead of self-colliding. Held until process exit — the
#: single-WRITING-PROCESS contract is per process, not per Lake object.
_WRITER_LOCKS: dict = {}
_WRITER_LOCKS_GUARD = threading.Lock()


def _release_writer_locks() -> None:
    for lk in list(_WRITER_LOCKS.values()):
        try:
            lk.__exit__(None, None, None)
        except Exception:  # noqa: BLE001 — exit path: never mask interpreter teardown
            pass
    _WRITER_LOCKS.clear()


atexit.register(_release_writer_locks)


def _bucket_size_path(root: str) -> str:
    return os.path.join(root, "_bucket_size")


def _read_record(path: str, key: str) -> int | None:
    """The integer under ``key`` in a one-key JSON warehouse record (the
    bucket size, the ingest commit marker), or None when the file does not
    exist. Any other failure raises and names the file: a guessed bucket
    size sends reads to the wrong buckets, and a guessed commit point
    resumes past the torn range the marker holds back."""
    try:
        with open(path) as f:
            return int(json.load(f)[key])
    except FileNotFoundError:
        return None
    except (OSError, ValueError, KeyError, TypeError) as e:
        raise ValueError(f"unreadable warehouse record {path}: {e!r}") from e


def _write_record(path: str, key: str, value: int) -> None:
    """Replace a one-key JSON warehouse record atomically (tmp+rename), so
    a reader sees the old value or the new one, never a torn file."""
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump({key: int(value)}, f)
    os.replace(tmp, path)


def _contiguous_ranges(heights: Iterable[int]) -> list[tuple[int, int]]:
    """Heights → maximal contiguous inclusive ``(lo, hi)`` runs, sorted."""
    runs: list[tuple[int, int]] = []
    for h in sorted(set(heights)):
        if runs and h == runs[-1][1] + 1:
            runs[-1] = (runs[-1][0], h)
        else:
            runs.append((h, h))
    return runs


def _parquet_files(leaf_dir: str) -> list[str]:
    """Committed data files of one leaf dir (hidden in-flight files
    skipped, as Hadoop's hiddenFileFilter does)."""
    return [
        os.path.join(leaf_dir, f)
        for f in os.listdir(leaf_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]


class Lake:
    """One warehouse: paths, writes, reads, and partition-scoped mutations."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        bucket_size: int | None = None,
        modules: tuple[str, ...] = ALL_MODULES,
    ) -> None:
        """``bucket_size`` defaults to the size the warehouse recorded on
        its first mutation (``DEFAULT_BUCKET_SIZE`` for a warehouse nothing
        has mutated yet). A warehouse keeps one size: an explicit size that
        disagrees with the recorded one raises ``ValueError``, and so does
        a size the buckets of a warehouse with rows but no record do not
        fit."""
        recorded = _read_record(_bucket_size_path(root), "bucket_size")
        self.spark = spark
        self.root = root
        self.bucket_size = bucket_size or recorded or DEFAULT_BUCKET_SIZE
        self.modules = tuple(modules)
        self._check_bucket_size(recorded)
        #: serializes partition mutations against concurrent batch
        #: processing: the retention scheduler thread's stage-and-swap
        #: (rmtree + move of bucket dirs) must not race the streaming
        #: tail's reorg-check reads, and compact's scan→stage→swap must not
        #: race ANY writer — so write/write_all take this too (ADVICE r05).
        #: Re-entrant so a mutation inside the tail's own batch doesn't
        #: self-deadlock.
        self.mutex = threading.RLock()

    def _ensure_writer_lock(self) -> None:
        """Take (or re-enter) this process's on-disk writer lock for the
        warehouse root before any mutation — see
        :class:`WarehouseLockedError`. First call per (process, root)
        pays one O_CREAT|O_EXCL + ~40-byte write; every later mutation is
        a dict hit. Held until process exit (atexit); a crashed writer's
        sentinel is stale-detected by pid probe and broken by the next
        writer, so no manual cleanup is ever needed.

        Under the lock, this Lake's first mutation also records its bucket
        size at the warehouse root (tmp+rename), or raises ``ValueError``
        when another Lake recorded a different one first or the buckets
        already there do not fit it (``_check_bucket_size``)."""
        from .operators.sketches import StoreLockedError, _store_lock

        key = os.path.abspath(self.root)
        with _WRITER_LOCKS_GUARD:
            if key not in _WRITER_LOCKS:
                os.makedirs(key, exist_ok=True)
                lk = _store_lock(os.path.join(key, ".writer"))
                try:
                    lk.__enter__()
                except StoreLockedError as e:
                    raise WarehouseLockedError(
                        f"warehouse writer lock held: {key} — another process "
                        "is writing this warehouse (two concurrent exports on "
                        "one path interleave appends and the commit marker); "
                        "stop it or point this job at its own warehouse root"
                    ) from e
                _WRITER_LOCKS[key] = lk
            if not self._bucket_size_recorded:
                path = _bucket_size_path(self.root)
                recorded = _read_record(path, "bucket_size")
                self._check_bucket_size(recorded)
                if recorded is None:
                    _write_record(path, "bucket_size", self.bucket_size)
                    self._bucket_size_recorded = True

    def _check_bucket_size(self, recorded: int | None) -> None:
        """Raise ``ValueError`` unless this Lake's size is the recorded one
        or, with nothing recorded, maps the lowest and highest heights of
        every table's top bucket to that bucket: deletes drop whole buckets
        by this arithmetic alone."""
        bs = self.bucket_size
        if recorded is not None and recorded != bs:
            raise ValueError(
                f"warehouse {self.root} recorded bucket size {recorded}, but "
                f"this Lake uses {bs}: every height lives in the bucket the "
                "recorded size gives it"
            )
        for name in self.modules if recorded is None else ():
            top = self._top_bucket(name)
            if top is not None and top[2] is not None and not (
                top[1] // bs == top[0] == top[2] // bs
            ):
                raise ValueError(
                    f"warehouse {self.root} records no bucket size and its "
                    f"{name} bucket {top[0]} holds heights {top[1]}..{top[2]}, "
                    f"which bucket size {bs} puts elsewhere: open it with the "
                    "bucket size it was written with"
                )
        self._bucket_size_recorded = recorded is not None

    # --- layout --------------------------------------------------------------

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        p = self.path(name)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f.startswith(("block_bucket=", "address="))
            for f in os.listdir(p)
        )

    def _bucket(self, number_col: str) -> F.Column:
        # Reads declare block_bucket int (_STORED_SCHEMAS), so a bucket
        # index at or above 2^31 fails the write job itself: nothing of it
        # is committed, and no extra job runs.
        b = (F.col(number_col) / F.lit(self.bucket_size)).cast("long")
        too_big = F.raise_error(F.lit(
            f"{number_col} // bucket_size {self.bucket_size} >= 2^31: "
            "block_bucket would not fit the int that lake reads declare"
        ))
        return F.when(b >= 2**31, too_big).otherwise(b).alias("block_bucket")

    # --- writes (K4/K5) --------------------------------------------------------

    def write(self, name: str, df: DataFrame) -> None:
        """Append a micro-batch. Adds the bucket column, sorts within
        partitions by height (clustering for min/max skipping — the index
        replacement), and appends through the partition layout. The append
        is idempotent: rows whose natural key the lake already holds are
        dropped first (``_drop_redelivered``), so re-delivering a bucket
        leaves it unchanged (the exactly-once story, SURVEY §7).

        Holds the lake mutex: ``compact``'s scan→stage→swap is only safe if
        every writer serializes against it — a write landing between
        compact's scan and its directory swap would be silently dropped by
        the stale staged rewrite. Re-entrant for the streaming tail's outer
        hold."""
        self._ensure_writer_lock()
        with self.mutex:
            self._write_unlocked(name, df)

    def _write_unlocked(
        self,
        name: str,
        df: DataFrame,
        height_range: tuple[int, int] | None = None,
    ) -> None:
        # Lock-free body so write_all's pool workers (different threads — an
        # RLock hold doesn't extend to them) can run concurrently under the
        # single group hold taken by the submitting thread.
        if name not in self.modules:  # K5 module gating
            return
        num = _NUMBER_COL[name]
        out = df.withColumn("block_bucket", self._bucket(num))
        out = self._drop_redelivered(name, out, height_range)
        parts = _PARTITION_COLS[name]
        (
            out.repartition(*[F.col(c) for c in parts])
            .sortWithinPartitions(num)
            .write.mode("append")
            .partitionBy(*parts)
            .parquet(self.path(name))
        )

    def _drop_redelivered(
        self,
        name: str,
        out: DataFrame,
        height_range: tuple[int, int] | None = None,
    ) -> DataFrame:
        """Ingest-level idempotency (r15, the last reference-parity gap):
        drop incoming rows whose natural key (``_NATURAL_KEY``) already
        exists in the lake, so a crashed-and-retried backfill chunk or a
        re-delivered streaming batch cannot double-append. The reference
        gets this free from its PRIMARY KEYs (etl.rs:147-169,
        sqlite3.rs:68-108); append-only Parquet has no PK, so the check is
        explicit — and *bounded*:

        - the key probe reads ONLY the buckets the batch touches
          (partition-pruned via the committed leaf-dir listing — one
          listdir per layout level, no data read to decide) and ONLY the
          key columns (column-pruned scan);
        - the touched-bucket range follows from ``height_range`` by
          arithmetic when the caller passes it, else from one 1-row
          min/max aggregate over the (materialized) batch;
        - during normal forward progress a new chunk lands in buckets that
          do not exist yet, the overlap is empty, and the anti-join is
          skipped entirely;
        - **footer rule**: with a ``height_range``, the anti-join is also
          skipped when parquet footer statistics (``_footer_stats`` — driver
          metadata, no job) prove every committed row of the touched
          buckets sits BELOW ``height_range[0]``. A redelivered row carries
          its own height, so rows below the batch cannot be copies of it.
          This is the streaming tail's common case: each one-block batch
          lands in the half-full tip bucket, above everything in it. The
          anti-join still runs whenever the proof fails — a file without
          statistics, a file that cannot be read, or committed rows at or
          above the batch (a torn group whose sinks committed without the
          commit marker, or a replayed batch).

        At 100 TB the probe cost is O(chunk), never O(table). The
        left-anti join shuffles the bounded batch against the pruned key
        set; AQE broadcasts the small side at runtime. Within-batch
        uniqueness is the upstream normalizer's invariant (one row per
        block/tx/log from nested raw blocks), not re-checked here.
        Partition mutations (reorg clean, truncate, retention) run under
        the same mutex, so probe + write are atomic against them. NULL
        keys never equi-match, so NULL-key rows are always kept — the
        same stance as a SQL PRIMARY KEY, which forbids NULL members."""
        if not self.exists(name):
            return out
        committed = self._bucket_leaf_dirs(name)
        if not committed:
            return out
        if height_range is not None:
            # Caller-supplied covering range (the backfill loop knows each
            # chunk's [lo, hi] exactly): the touched buckets follow by
            # arithmetic — the probe costs ZERO extra jobs on the hot
            # path. The hint must COVER the batch's heights; a narrower
            # range would let out-of-range rows bypass the key probe.
            lo_b = height_range[0] // self.bucket_size
            hi_b = height_range[1] // self.bucket_size
        else:
            row = out.agg(
                F.min("block_bucket").alias("lo"),
                F.max("block_bucket").alias("hi"),
            ).first()
            if row is None or row["lo"] is None:
                return out  # empty batch
            lo_b, hi_b = row["lo"], row["hi"]
        overlap = [b for b in committed if lo_b <= b <= hi_b]
        if not overlap:
            return out
        if height_range is not None:
            maxes = [self._footer_stats(name, committed[b])[1] for b in overlap]
            if all(m is not None and m < height_range[0] for m in maxes):
                return out
        keys = list(_NATURAL_KEY[name])
        existing = self._scan(
            name, [d for b in overlap for d in committed[b]]
        ).select(*keys)
        # Re-select the incoming column order: a list-form equi-join moves
        # the key columns to the FRONT, so a deduped append would write
        # parquet files whose column order differs from fresh appends —
        # by-name parquet resolution hides it on reads, but positional
        # consumers (exceptAll, byte-identity sweeps) then see garbage
        # (r16, found by the integrity-sweep repair test).
        return out.join(existing, on=keys, how="left_anti").select(*out.columns)

    def write_all(
        self,
        blocks: DataFrame | None = None,
        transactions: DataFrame | None = None,
        token_transfers: DataFrame | None = None,
        height_range: tuple[int, int] | None = None,
        verified_hi: int | None = None,
    ) -> None:
        """Append up to three modules as one group of CONCURRENT Spark jobs:
        the sinks are independent (separate directories), so serializing
        them leaves the cluster idle during each job's commit phase. Wall
        time per batch is max(write) instead of sum(write); inputs must
        derive from a materialized batch (see ``pipeline.ingest_raw``) so
        the concurrent jobs don't race to recompute shared lineage.

        The one commit rule: the CALLER proves delivery, the lake only
        applies the gap-refusing advance. ``verified_hi`` is the highest
        height through which the caller verified this group's delivery
        contiguous (the backfill and the repair probe the materialized
        chunk; the streaming tail's contiguity guard constructs its
        admitted range). Once every sink
        committed, the group-commit marker advances to it. It must lie in
        ``[lo - 1, hi]`` of ``height_range`` (``lo - 1`` is the vacuous
        verified prefix); anything else raises ``ValueError`` before a row
        is written. Without it the rows are written and the marker stays
        put — the safe under-advance: resume re-delivers the range and the
        idempotent append absorbs it.

        The sink jobs run on pool threads that inherit the caller's Spark
        local properties, so a job group or description set by the caller
        also tags them."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.util import inheritable_thread_target

        if verified_hi is not None and (
            height_range is None
            or not height_range[0] - 1 <= verified_hi <= height_range[1]
        ):
            raise ValueError(
                f"verified_hi={verified_hi} outside height_range={height_range}"
                " (must lie in [lo - 1, hi])"
            )

        todo = [
            (name, df)
            for name, df in (
                (BLOCKS, blocks),
                (TRANSACTIONS, transactions),
                (TOKEN_TRANSFERS, token_transfers),
            )
            if df is not None
        ]
        if not todo:
            return
        # One mutex hold around the whole group: the sinks stay concurrent
        # with each other (workers run the lock-free body) while the group as
        # a unit serializes against compact/retention stage-and-swap.
        self._ensure_writer_lock()
        with self.mutex:
            with ThreadPoolExecutor(max_workers=len(todo)) as pool:
                # one copy of the caller's local properties per task: Spark
                # stores the object itself, and threads sharing it would
                # overwrite each other's SQL execution ids
                futures = [
                    pool.submit(
                        inheritable_thread_target(self.spark)(self._write_unlocked),
                        name, df, height_range,
                    )
                    for name, df in todo
                ]
                for f in futures:
                    f.result()
            if verified_hi is not None:
                self._advance_commit_marker(verified_hi, height_range[0])

    # --- group-commit watermark (r15 review) ------------------------------------
    #
    # ``write_all``'s sinks are independent jobs: a crash between them
    # leaves a TORN group (blocks committed, transactions not), and the
    # blocks-derived tip then hides the tear from both the tail's stale
    # guard and backfill resume — the idempotent anti-join can only heal
    # what gets re-delivered. The marker records the highest height through
    # which a whole append GROUP committed; ``resume_point`` reads it, so a
    # torn range is always re-delivered (and the anti-join absorbs the
    # already-committed sinks). Atomic tmp+rename under the lake mutex;
    # truncate lowers it to its cutoff before removing a row, and clean
    # clamps it to the surviving tip. A marker-less warehouse
    # (pre-r15, or ad-hoc writes without a ``verified_hi``) falls back to
    # the legacy blocks-tip resume.

    def _marker_path(self) -> str:
        return os.path.join(self.root, "_ingest_commit")

    def _read_marker(self) -> int | None:
        return _read_record(self._marker_path(), "hi")

    def _write_marker(self, hi: int) -> None:
        os.makedirs(self.root, exist_ok=True)
        _write_record(self._marker_path(), "hi", hi)

    def _advance_commit_marker(self, hi: int, lo: int) -> None:
        """Advance the watermark to ``hi`` — but never ACROSS a gap: the
        advance is refused if the verified range's ``lo > marker + 1``
        (r16 self-review: a hole in chunk N made that chunk advance only to
        the verified prefix, but chunk N+1's blind max-advance then papered
        over the hole permanently — the exact defect the contiguity guard
        exists to prevent, one chunk later). A refused advance is not lost
        progress: resume re-fetches from the marker, the already-committed
        heights above the hole dedup via the anti-join, and the
        re-delivered chunks re-advance the marker chunk by chunk. A
        marker-less warehouse (fresh bootstrap) takes ``hi`` as is."""
        prev = self._read_marker()
        if prev is not None and lo > prev + 1:
            return
        if prev is None or hi > prev:
            self._write_marker(hi)

    def resume_point(self) -> int:
        """Highest height through which ingest is known COMPLETE across all
        modules: the group-commit marker when present, else the legacy
        blocks-tip fallback chain. This — not ``latest_block_number`` — is
        what O3 resume and the tail's stale guard must key on, or a torn
        ``write_all`` strands per-sink holes forever (r15 review). A marker
        that cannot be read raises instead of falling back past the range
        it holds back."""
        m = self._read_marker()
        return m if m is not None else self.latest_block_number()

    # --- reads -----------------------------------------------------------------

    def _scan(self, name: str, dirs: list[str] | None = None) -> DataFrame:
        """Every read of a lake table goes through here. The scan carries
        the table's stored schema (``_STORED_SCHEMAS``), so Spark runs no
        schema-inference job before the query's own. ``dirs`` narrows the
        scan to those leaf partition dirs, with ``basePath`` set so the
        partition columns survive; the file listing then touches only
        those buckets. A table with no rows yet, or an empty ``dirs``,
        reads as an empty frame with the same schema."""
        schema = _STORED_SCHEMAS[name]
        reader = self.spark.read.schema(schema)
        if dirs is None and self.exists(name):
            return reader.parquet(self.path(name))
        if dirs:
            return reader.option("basePath", self.path(name)).parquet(*dirs)
        return self.spark.createDataFrame([], schema)

    def read(self, name: str) -> DataFrame:
        return self._scan(name)

    def blocks(self) -> DataFrame:
        return self.read(BLOCKS)

    def transactions(self) -> DataFrame:
        return self.read(TRANSACTIONS)

    def token_transfers(self) -> DataFrame:
        return self.read(TOKEN_TRANSFERS)

    # --- height-pruned lookups ----------------------------------------------------
    #
    # Catalyst cannot infer ``block_bucket`` from a ``number`` predicate, so a
    # bare height filter scans every partition. These helpers add the derived
    # bucket predicate, turning point/range lookups into one-bucket scans
    # (check ``PartitionFilters`` in .explain) — the engine's replacement for
    # the reference's b-tree index lookups (sqlite3.rs:131-151).

    def height_pruned(
        self, name: str, lo: int | None = None, hi: int | None = None
    ) -> DataFrame:
        """Rows of ``name`` with height in [lo, hi], bucket-pruned."""
        num = _NUMBER_COL[name]
        df = self.read(name)
        cond = F.lit(True)
        if lo is not None:
            cond = (F.col(num) >= lo) & (
                F.col("block_bucket") >= lo // self.bucket_size
            )
        if hi is not None:
            cond = cond & (F.col(num) <= hi) & (
                F.col("block_bucket") <= hi // self.bucket_size
            )
        return df.filter(cond)

    def block_by_number(self, n: int) -> DataFrame:
        """Q2 point lookup, pruned to one bucket (sqlite3.rs:706-719)."""
        return self.height_pruned(BLOCKS, n, n)

    def blocks_in_range(self, start: int, end: int = -1) -> DataFrame:
        """Q5 range scan; ``end < 0`` open-ended (sqlite3.rs:684-704)."""
        return self.height_pruned(BLOCKS, start, end if end >= 0 else None)

    def block_transactions(self, n: int) -> DataFrame:
        """Q6 — all transactions of one block, pruned (sqlite3.rs:644-657)."""
        return self.height_pruned(TRANSACTIONS, n, n)

    # --- resume / tip (O3, Q1) ---------------------------------------------------

    def _bucket_leaf_dirs(
        self, name: str, base: str | None = None
    ) -> dict[int, list[str]]:
        """Committed ``block_bucket=*`` leaf dirs keyed by bucket value,
        from the partition layout alone — one ``listdir`` per layout level
        (the local-FS stand-in for a metastore ``SHOW PARTITIONS``), never a
        full tree walk; no data files are read. Hidden entries
        (``_temporary`` task-attempt trees, ``_SUCCESS``, dotfiles) are
        pruned at every level, mirroring Hadoop's hiddenFileFilter — an
        in-flight or crashed write must not leak uncommitted partitions
        into tip/resume/truncate decisions. ``base`` lists a stage dir
        written with ``name``'s layout instead of the table itself."""
        parents = [base or self.path(name)]
        for col in _PARTITION_COLS[name][:-1]:
            nxt: list[str] = []
            for p in parents:
                try:
                    entries = os.listdir(p)
                except OSError:
                    continue
                nxt.extend(
                    os.path.join(p, d)
                    for d in entries
                    if d.startswith(f"{col}=")
                )
            parents = nxt
        leaves: dict[int, list[str]] = {}
        for p in parents:
            try:
                entries = os.listdir(p)
            except OSError:
                continue
            for d in entries:
                if not d.startswith("block_bucket="):
                    continue
                try:
                    b = int(d.split("=", 1)[1])
                except ValueError:
                    continue
                leaves.setdefault(b, []).append(os.path.join(p, d))
        return leaves

    def _footer_stats(
        self, name: str, leaf_dirs: list[str]
    ) -> tuple[int | None, int | None, int | None]:
        """``(min height, max height, rows)`` across leaf dirs from parquet
        footers — pure driver-side metadata, no cluster job (every write
        sorts by height within partitions, so row-group min/max stats are
        present and tight). The min and max are None when some row group
        carries no min/max statistics or the dirs hold no row; all three
        are None when a dir or a footer cannot be read (a torn file).
        Either way a caller that needs the missing figure falls back to a
        scan or leaves the bucket alone."""
        import pyarrow.parquet as pq

        col = _NUMBER_COL[name]
        lo, hi, rows, stats = None, None, 0, True
        for dirpath in leaf_dirs:
            try:
                files = _parquet_files(dirpath)
            except OSError:
                return None, None, None
            for path in files:
                try:
                    md = pq.read_metadata(path)
                except Exception:  # noqa: BLE001 — torn file → scan fallback
                    return None, None, None
                rows += md.num_rows
                idx = next(
                    (i for i in range(md.num_columns)
                     if md.schema.column(i).name == col),
                    None,
                )
                stats = stats and idx is not None
                for rg in range(md.num_row_groups if stats else 0):
                    st = md.row_group(rg).column(idx).statistics
                    if st is None or not st.has_min_max:
                        stats = False
                        break
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
        if not stats or hi is None:
            return None, None, rows
        return int(lo), int(hi), rows

    def _top_bucket(self, name: str) -> tuple[int, int | None, int | None] | None:
        """``(index, min height, max height)`` of ``name``'s highest
        committed bucket, or None when it has none: from that bucket's
        footers, else from a scan of its leaf dirs alone."""
        leaves = self._bucket_leaf_dirs(name)
        if not leaves:
            return None
        top = max(leaves)
        lo, hi, _ = self._footer_stats(name, leaves[top])
        if hi is None:
            num = F.col(_NUMBER_COL[name])
            lo, hi = self._scan(name, leaves[top]).agg(F.min(num), F.max(num)).first()
        return top, lo, hi

    def latest_block_number(self) -> int:
        """Resume point (reference etl.rs:84-89): max height with the Q1
        fallback chain blocks → transactions → transfers → -1 (the reference
        returns 0 for empty; -1 distinguishes 'nothing synced' from
        'genesis synced').

        The tip can only live in the highest ``block_bucket``, so the lookup
        prunes to that one partition via the directory listing and then
        answers from parquet footer statistics alone — a driver-side
        metadata read, no cluster job. At 100 TB this is one bucket's
        footers instead of the whole table, and it runs at every job start
        (O3) and before every truncate (K8). (On an object store the same
        role falls to the table format's column stats — e.g. Delta/Iceberg
        manifest entries — rather than raw footer reads.)"""
        for name in (BLOCKS, TRANSACTIONS, TOKEN_TRANSFERS):
            if name in self.modules:
                top = self._top_bucket(name)
                if top is not None and top[2] is not None:
                    return int(top[2])
        return -1

    # --- maturity (K6) -----------------------------------------------------------

    def blocks_with_maturity(self, depth: int = MATURITY_DEPTH) -> DataFrame:
        """Blocks with ``matured`` *recomputed* against the current tip —
        the replacement for the reference's in-place UPDATE
        (sqlite3.rs:213-228, driven at etl.rs:171,318-321,253)."""
        from .operators.maintenance import with_maturity

        return with_maturity(self.blocks(), depth)

    # --- one planner, one writer: every mutation (K7-K9, compaction) -----------

    def _delete_heights(self, ranges: list[tuple[int | None, int | None]]) -> None:
        """Delete every row whose height lies in one of the inclusive
        ``(lo, hi)`` ranges (``None`` is an open end) from every module
        table, planned from the directory layout alone. Per table, a
        committed bucket lying wholly inside one range loses its leaf dirs,
        with no Spark job; a bucket a range only overlaps is rewritten
        (``_rewrite_buckets``); every other bucket is neither read nor
        touched. Rows with a NULL height live in the
        ``__HIVE_DEFAULT_PARTITION__`` dir, which is no numbered bucket, so
        they stay. Holds the writer lock and the mutex once for all
        tables."""
        bs = self.bucket_size
        self._ensure_writer_lock()
        with self.mutex:
            for name in self.modules:
                rewrite = []
                for b, dirs in self._bucket_leaf_dirs(name).items():
                    first, last = b * bs, (b + 1) * bs - 1
                    if any((lo is None or lo <= first) and (hi is None or last <= hi)
                           for lo, hi in ranges):
                        for d in dirs:
                            shutil.rmtree(d, ignore_errors=True)
                    elif any((lo is None or lo <= last) and (hi is None or first <= hi)
                             for lo, hi in ranges):
                        rewrite.append(b)
                if not rewrite:
                    continue
                num = F.col(_NUMBER_COL[name])
                doomed = F.lit(False)
                for lo, hi in ranges:
                    hit = F.lit(True)
                    if lo is not None:
                        hit = hit & (num >= lo)
                    if hi is not None:
                        hit = hit & (num <= hi)
                    doomed = doomed | hit
                self._rewrite_buckets(name, rewrite, ~doomed, TARGET_ROWS_PER_FILE)

    def _rewrite_buckets(
        self,
        name: str,
        buckets: list[int],
        keep: F.Column | None,
        target_rows_per_file: int,
    ) -> None:
        """Rewrite ``buckets`` of ``name`` from their own leaf dirs, keeping
        the rows ``keep`` admits (every row when None). Hash partitioning on
        the layout columns hands each leaf dir whole to one task; sorting
        by (layout columns, height) keeps every file ordered by height with
        tight min/max statistics (``_drop_redelivered``'s footer rule); and
        ``maxRecordsPerFile`` gives each leaf dir exactly
        ``max(1, ⌈rows/target⌉)`` files, which ``compact`` finds settled.
        The survivors are staged, then swapped in leaf dir by leaf dir; a
        bucket the stage holds nothing of is dropped (the local-FS stand-in
        for ``ALTER TABLE DROP PARTITION``). Callers hold the writer lock
        and the mutex."""
        committed = self._bucket_leaf_dirs(name)
        dirs = [d for b in buckets for d in committed.get(b, [])]
        df = self._scan(name, dirs)
        if keep is not None:
            df = df.filter(keep)
        layout = [F.col(c) for c in _PARTITION_COLS[name]]
        stage = os.path.join(self.root, f".stage_{name}_{os.urandom(6).hex()}")
        (
            df.repartition(*layout)
            .sortWithinPartitions(*layout, F.col(_NUMBER_COL[name]))
            .write.mode("overwrite")
            .option("maxRecordsPerFile", target_rows_per_file)
            .partitionBy(*_PARTITION_COLS[name])
            .parquet(stage)
        )
        try:
            staged = self._bucket_leaf_dirs(name, stage)
            for b in buckets:
                for d in committed.get(b, []):
                    shutil.rmtree(d, ignore_errors=True)
                for src in staged.get(b, []):
                    dst = os.path.join(self.path(name), os.path.relpath(src, stage))
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    shutil.rmtree(dst, ignore_errors=True)
                    shutil.move(src, dst)
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    # --- reorg cleanup (K7) --------------------------------------------------------

    def clean_blocks(self, numbers: Iterable[int]) -> None:
        """Remove a set of heights across all modules (reference
        sqlite3.rs:272-325 runs transactional DELETEs over blocks, txs, and
        every catalog-discovered transfer table): one bucket rewrite per
        table and touched bucket, whatever the number of heights. Then the
        commit marker is clamped to the surviving tip, so a cleaned tip is
        re-fetched on resume."""
        ranges = _contiguous_ranges(int(n) for n in numbers)
        if not ranges:
            return
        self._ensure_writer_lock()
        with self.mutex:
            self._delete_heights(ranges)
            m = self._read_marker()
            if m is not None:
                tip = self.latest_block_number()
                if tip < m:
                    self._write_marker(tip)

    # --- truncate last N (K8) --------------------------------------------------------

    def truncate_from_last_saved(self, n: int) -> None:
        """Delete the top-N heights: ``number > max(number) - n`` per table
        (reference sqlite3.rs:327-392 scalar-subquery DELETE; crash recovery
        truncates 100, export.rs:62). The commit marker drops to the cutoff
        before any table is touched: a truncate that crashes partway then
        leaves resume below every height it removed, never above a hole."""
        tip = self.latest_block_number()
        if tip < 0:
            return
        cutoff = tip - n
        self._ensure_writer_lock()
        with self.mutex:
            m = self._read_marker()
            if m is not None and m > cutoff:
                self._write_marker(cutoff)
            self._delete_heights([(cutoff + 1, None)])

    # --- retention cleanup (K9) -------------------------------------------------------

    def retention_cleanup(self, cutoff_unix: int) -> None:
        """Drop data older than the cutoff (reference sqlite3.rs:483-536:
        periodic ``DELETE WHERE created_at < now - retention`` over every
        table). Heights are time-ordered, so one aggregate over the blocks
        table maps the cutoff to a boundary height; every table then loses
        the heights up to it, whole buckets at the directory level and only
        the bucket holding the boundary by a rewrite."""
        if BLOCKS not in self.modules or not self.exists(BLOCKS):
            return
        self._ensure_writer_lock()
        with self.mutex:  # one consistent sweep vs the streaming tail
            # max(number) as a top-1: each task keeps its own largest
            # height and the driver merges them, one job with no shuffle
            top = (
                self._scan(BLOCKS)
                .filter((F.col("timestamp") < F.lit(cutoff_unix))
                        & F.col("number").isNotNull())
                .select("number")
                .orderBy(F.desc("number"))
                .first()
            )
            if top is not None:
                self._delete_heights([(None, int(top.number))])

    # --- compaction ---------------------------------------------------------------

    def compact(self, name: str, target_rows_per_file: int = TARGET_ROWS_PER_FILE) -> int:
        """Compact small files: streaming appends leave one file per
        micro-batch per partition; a month of 7-second blocks is ~370k tiny
        files — scan-killing at 100 TB. A bucket is rewritten when one of
        its leaf dirs holds more than ``max(1, ⌈rows/target⌉)`` files, into
        that many (same stage-then-swap as the deletes, so readers never see
        a half-compacted bucket). The decision reads no data: file counts
        come from the listing, and row counts from the footers of leaf
        dirs holding more than one file, so a settled lake costs no Spark
        job. Returns the number of buckets rewritten."""
        if name not in self.modules or not self.exists(name):
            return 0
        # The listing→stage→swap must hold the lake mutex: a micro-batch
        # append committed in between would land in a bucket the swap then
        # replaces with the stale staged rewrite, silently dropping the
        # committed rows.
        self._ensure_writer_lock()
        with self.mutex:
            todo = []
            for b, dirs in self._bucket_leaf_dirs(name).items():
                for d in dirs:
                    n_files = len(_parquet_files(d))
                    if n_files < 2:
                        continue
                    _, _, rows = self._footer_stats(name, [d])
                    if rows is not None and n_files > max(1, -(-rows // target_rows_per_file)):
                        todo.append(b)
                        break
            if todo:
                self._rewrite_buckets(name, todo, None, target_rows_per_file)
            return len(todo)

    # --- reorg detection (K10) -----------------------------------------------------

    def detect_reorgs(self, incoming_headers: DataFrame) -> DataFrame:
        """Fork check replacing the reference's PK-conflict signal
        (etl.rs:147-169). Two signals, both needed:

        - **same-height conflict** — an incoming header whose ``hash``
          differs from the stored block at the same ``number`` (this is the
          literal analogue of the reference's duplicate-PK insert failure);
        - **parent mismatch** — an incoming header whose ``parent_hash``
          disagrees with the stored hash at ``number - 1``, invalidating the
          stored parent.

        Returns one column ``forked_number``: stored heights invalidated by
        the incoming batch. The caller truncates from ``min(forked_number)``
        (everything stored above a fork point was built on the dead branch)."""
        from .operators.maintenance import detect_reorgs

        return detect_reorgs(self.blocks(), incoming_headers)

    def block_hashes_at(self, heights: Iterable[int]) -> list[tuple[int, str | None]]:
        """Stored ``(number, hash)`` pairs at ``heights``: the input of the
        driver-side fork check (``maintenance.forked_heights``). Reads only
        the ``number`` and ``hash`` columns of the leaf dirs of the buckets
        that can hold those heights, with a ``number IN (...)`` filter
        pushed to the parquet row groups — one small job, never a table
        scan."""
        heights = sorted({int(h) for h in heights})
        leaves = self._bucket_leaf_dirs(BLOCKS)
        dirs = [
            d
            for b in sorted({h // self.bucket_size for h in heights})
            for d in leaves.get(b, [])
        ]
        if not dirs:
            return []
        rows = (
            self._scan(BLOCKS, dirs)
            .filter(F.col("number").isin(heights))
            .select("number", "hash")
            .collect()
        )
        return [(r.number, r.hash) for r in rows]
