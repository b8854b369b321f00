"""Lake tests: partition layout, mutation semantics (reorg / truncate /
retention), maturity recompute, resume point, and reorg detection — the K1-K10
surface of SURVEY §2.3 over a temp warehouse."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from core_etl_spark.lake import ALL_MODULES, TOKEN_TRANSFERS, Lake
from core_etl_spark.operators import decode as D
from core_etl_spark.operators import transforms as T
from core_etl_spark.operators import views
from core_etl_spark.sources import fixtures as FX

N_BLOCKS = 40
BUCKET = 10


def _fill(spark, lk: Lake, n_blocks: int) -> Lake:
    raw = FX.raw_blocks(spark, n_blocks=n_blocks, txs_per_block=4)
    blocks = T.normalize_blocks(raw)
    txs = T.normalize_transactions(raw)
    transfers = D.extract_token_transfers(txs, FX.WATCH_CONTRACT, FX.receipts(raw))
    transfers = T.propagate_created_at(transfers, txs, blocks)
    lk.write_all(blocks, txs, transfers)
    return lk


@pytest.fixture()
def lake(spark, tmp_path):
    return _fill(spark, Lake(spark, str(tmp_path / "wh"), bucket_size=BUCKET), N_BLOCKS)


def test_layout_and_roundtrip(lake):
    assert lake.blocks().count() == N_BLOCKS
    assert lake.transactions().count() == N_BLOCKS * 4
    assert lake.token_transfers().count() > 0
    # physical layout: block_bucket dirs; transfers nested under address
    buckets = {d for d in os.listdir(lake.path("blocks")) if d.startswith("block_bucket=")}
    assert buckets == {f"block_bucket={b}" for b in range(N_BLOCKS // BUCKET)}
    addr_dirs = [d for d in os.listdir(lake.path("token_transfers")) if d.startswith("address=")]
    assert addr_dirs and os.listdir(os.path.join(lake.path("token_transfers"), addr_dirs[0]))


def test_partition_pruned_point_lookup(lake):
    df = lake.block_by_number(17)
    assert df.count() == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the derived bucket predicate must reach PartitionFilters in the scan
    assert "PartitionFilters" in plan and "block_bucket" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]


def test_pruned_range_scan(lake):
    assert lake.blocks_in_range(15, 24).count() == 10
    assert lake.blocks_in_range(35).count() == 5  # open-ended
    assert lake.block_transactions(17).count() == 4


def test_read_schema_is_the_inferred_schema(lake, spark):
    """Reads declare the stored schema instead of inferring it; the
    declared one must be exactly what inference would give: the same
    names in the same order (partition columns last, in layout order),
    the same types (``block_bucket`` int) and every field nullable."""
    for name in ALL_MODULES:
        declared = lake.read(name).schema
        assert declared == spark.read.parquet(lake.path(name)).schema, name
        assert declared["block_bucket"].dataType == IntegerType()
        assert all(f.nullable for f in declared.fields)
    assert lake.token_transfers().columns[-2:] == ["address", "block_bucket"]


def test_fresh_lake_lookups_return_no_rows(spark, tmp_path):
    """Day zero: every lookup on a lake with no rows yet returns 0 rows
    (empty in, empty out), and a table reads with the same schema before
    and after its first write."""
    lk = Lake(spark, str(tmp_path / "fresh"), bucket_size=BUCKET)
    before = {name: lk.read(name).schema for name in ALL_MODULES}
    assert lk.block_by_number(3).count() == 0
    assert lk.blocks_in_range(0, 5).count() == 0
    assert lk.blocks_in_range(5).count() == 0
    assert lk.block_transactions(3).count() == 0
    assert lk.height_pruned(TOKEN_TRANSFERS, 0, 5).count() == 0
    assert views.transfers_by_tx(lk.token_transfers(), "00" * 32).count() == 0
    assert views.list_transfer_tokens(lk.token_transfers()).count() == 0
    assert lk.block_hashes_at([3, 4]) == []
    assert lk.latest_block_number() == -1

    _fill(spark, lk, 12)
    for name in ALL_MODULES:
        assert lk.read(name).schema == before[name], name
    assert lk.block_by_number(3).count() == 1


def test_point_lookup_runs_one_job(lake, spark):
    """A point lookup on a settled lake is the query's own job and nothing
    else: the scan declares its schema, so no schema-inference job runs
    first (2 jobs when every read inferred it)."""
    sc = spark.sparkContext
    sc.setJobGroup("lake-point-lookup-budget", "one point lookup")
    try:
        rows = lake.block_by_number(17).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert [r.number for r in rows] == [17]
    jobs = sc.statusTracker().getJobIdsForGroup("lake-point-lookup-budget")
    assert len(jobs) == 1, sorted(jobs)


@pytest.fixture()
def backfilled(spark, tmp_path):
    from core_etl_spark.pipeline import backfill
    from core_etl_spark.sources.provider import FixtureBlockProvider

    lk = Lake(spark, str(tmp_path / "bf"), bucket_size=BUCKET)
    backfill(spark, lk, FixtureBlockProvider(n_blocks=30, txs_per_block=4),
             (FX.WATCH_CONTRACT,), end=29, chunk_size=BUCKET)
    return lk


def test_transfers_by_tx_matches_python_filter(backfilled):
    every = backfilled.token_transfers().collect()
    by_tx: dict[str, list] = {}
    for r in every:
        by_tx.setdefault(r.tx_hash, []).append(
            (r.from_addr, r.to_addr, r.value, r.transfer_index, r.status)
        )
    # a batchTransfer fans one tx into several rows; take the widest tx
    # and a single-row one, plus a hash that has no transfers
    widest = max(by_tx, key=lambda h: len(by_tx[h]))
    single = next(h for h, rows in by_tx.items() if len(rows) == 1)
    assert len(by_tx[widest]) > 1
    for tx in (widest, single, "00" * 32):
        got = views.transfers_by_tx(backfilled.token_transfers(), tx)
        assert got.columns == [
            "from_addr", "to_addr", "value", "transfer_index", "status"
        ]
        assert sorted(tuple(r) for r in got.collect()) == sorted(by_tx.get(tx, []))


def test_list_transfer_tokens_matches_python_filter(backfilled):
    every = backfilled.token_transfers().collect()
    got = views.list_transfer_tokens(backfilled.token_transfers()).collect()
    expected = sorted({r.address for r in every})
    assert sorted(r.address for r in got) == expected == [FX.WATCH_CONTRACT]


def test_latest_and_fallback(lake, spark, tmp_path):
    assert lake.latest_block_number() == N_BLOCKS - 1
    empty = Lake(spark, str(tmp_path / "none"))
    assert empty.latest_block_number() == -1
    # transactions-only warehouse falls back to block_number
    txs_only = Lake(spark, str(tmp_path / "txs"), bucket_size=BUCKET)
    txs_only.write("transactions", lake.transactions())
    assert txs_only.latest_block_number() == N_BLOCKS - 1


def test_latest_ignores_uncommitted_writes(lake):
    """A crashed/in-flight write leaves _temporary task-attempt trees (and
    stray hidden files); the tip must answer from committed data only, like
    Hadoop's hiddenFileFilter — else resume would skip real blocks (K8/O3)."""
    import shutil

    blocks_dir = lake.path("blocks")
    committed = next(
        d for d in os.listdir(blocks_dir) if d.startswith("block_bucket=")
    )
    tmp = os.path.join(
        blocks_dir, "_temporary", "0", "attempt_1", "block_bucket=999"
    )
    os.makedirs(tmp)
    # a real parquet file (copied from a committed leaf) inside the
    # uncommitted tree — footer stats exist but must not be trusted
    src_leaf = os.path.join(blocks_dir, committed)
    src_file = next(f for f in os.listdir(src_leaf) if f.endswith(".parquet"))
    shutil.copy(os.path.join(src_leaf, src_file), os.path.join(tmp, src_file))
    # hidden file inside a committed leaf dir must be skipped too
    open(os.path.join(src_leaf, ".part-inflight.parquet"), "w").close()
    assert lake.latest_block_number() == N_BLOCKS - 1
    # transfers layout (address=*/block_bucket=*) gets the same treatment
    tdir = lake.path("token_transfers")
    os.makedirs(os.path.join(tdir, "_temporary", "0", "address=x", "block_bucket=7"))
    assert lake.latest_block_number() == N_BLOCKS - 1


def test_maturity_recompute(lake):
    m = lake.blocks_with_maturity(depth=5)
    rows = {r.number: r.matured for r in m.collect()}
    assert rows[N_BLOCKS - 1 - 5] == 1
    assert rows[N_BLOCKS - 1 - 4] == 0
    assert rows[0] == 1 and rows[N_BLOCKS - 1] == 0


def test_clean_blocks(lake):
    victim = 17
    before_tx = lake.transactions().count()
    tx_in_block = lake.transactions().filter(F.col("block_number") == victim).count()
    lake.clean_blocks([victim])
    assert lake.blocks().filter(F.col("number") == victim).count() == 0
    assert lake.blocks().count() == N_BLOCKS - 1
    assert lake.transactions().count() == before_tx - tx_in_block
    assert lake.token_transfers().filter(F.col("block_number") == victim).count() == 0
    # untouched neighbors survive
    assert lake.blocks().filter(F.col("number").isin(16, 18)).count() == 2
    # the rewritten bucket's files stay sorted by height with footer
    # statistics, so the redelivery footer rule still holds on them
    import pyarrow.parquet as pq

    for name, col in (("blocks", "number"), ("transactions", "block_number")):
        dirs = lake._bucket_leaf_dirs(name)[1]
        assert lake._footer_stats(name, dirs)[:2] == (10, 19), name
        for d in dirs:
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    heights = pq.read_table(os.path.join(d, f), columns=[col])[col]
                    assert heights.to_pylist() == sorted(heights.to_pylist()), name


def test_truncate_from_last_saved(lake):
    lake.truncate_from_last_saved(12)  # cutoff 27: bucket 3 emptied wholly
    assert lake.latest_block_number() == N_BLOCKS - 1 - 12
    assert lake.blocks().count() == N_BLOCKS - 12
    assert lake.transactions().agg(F.max("block_number")).first()[0] == N_BLOCKS - 13
    # emptied top bucket is gone from disk; boundary bucket survives
    assert not os.path.exists(os.path.join(lake.path("blocks"), "block_bucket=3"))
    assert os.path.exists(os.path.join(lake.path("blocks"), "block_bucket=2"))


def test_retention_cleanup(lake):
    # fixture timestamps: epoch + 7*number; cut everything strictly below
    # block 25's timestamp → blocks 0..24 dropped
    cutoff = FX._EPOCH + 7 * 25
    lake.retention_cleanup(cutoff)
    assert lake.blocks().agg(F.min("number")).first()[0] == 25
    assert lake.transactions().agg(F.min("block_number")).first()[0] == 25
    # buckets 0 and 1 dropped wholly at the directory level
    assert not os.path.exists(os.path.join(lake.path("blocks"), "block_bucket=0"))
    assert not os.path.exists(os.path.join(lake.path("blocks"), "block_bucket=1"))
    assert os.path.exists(os.path.join(lake.path("blocks"), "block_bucket=2"))


def _jobs_run(spark, group: str, fn) -> int:
    """Spark jobs ``fn`` runs, counted in a job group of its own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_whole_bucket_truncate_runs_no_job(lake, spark):
    """Truncating exactly the top bucket is planned from the directory
    layout and the tip's footers and drops the bucket's leaf dirs: no
    Spark job (a decision scan plus a rewrite per table ran 12)."""
    assert _jobs_run(spark, "lake-truncate-whole-bucket",
                     lambda: lake.truncate_from_last_saved(BUCKET)) == 0
    assert lake.latest_block_number() == N_BLOCKS - 1 - BUCKET
    assert lake.resume_point() == N_BLOCKS - 1 - BUCKET
    for name in ALL_MODULES:
        assert sorted(lake._bucket_leaf_dirs(name)) == [0, 1, 2], name
    assert lake.blocks().count() == N_BLOCKS - BUCKET
    assert lake.transactions().agg(F.max("block_number")).first()[0] == 29


def test_bucket_boundary_retention_runs_one_job(lake, spark):
    """A retention cutoff that falls on a bucket boundary expires whole
    buckets only, so the sweep runs one job, its timestamp-to-height
    aggregate, and drops leaf dirs for the rest (14 jobs before)."""
    cutoff = FX._EPOCH + 7 * 2 * BUCKET  # heights 0..19 expire
    assert _jobs_run(spark, "lake-retention-boundary",
                     lambda: lake.retention_cleanup(cutoff)) == 1
    for name in ALL_MODULES:
        assert sorted(lake._bucket_leaf_dirs(name)) == [2, 3], name
    assert lake.blocks().agg(F.min("number")).first()[0] == 2 * BUCKET
    assert lake.transactions().count() == (N_BLOCKS - 2 * BUCKET) * 4


def test_compact_settled_lake_runs_no_job(lake, spark):
    """On a lake whose buckets already hold one file per leaf dir,
    ``compact`` decides from the file listing alone: no footer read of a
    one-file bucket and no Spark job (a whole-table scan ran 3)."""
    for name in ALL_MODULES:
        assert _jobs_run(spark, f"lake-compact-settled-{name}",
                         lambda: lake.compact(name)) == 0, name
    assert lake.blocks().count() == N_BLOCKS


def test_warehouse_keeps_one_bucket_size(spark, tmp_path):
    """The first mutation records the bucket size at the warehouse root;
    a lake opened without a size uses it, and an explicit size that
    disagrees is refused, since reads and rewrites derive the bucket of a
    height from it."""
    root = str(tmp_path / "sized")
    fresh = Lake(spark, root)
    assert fresh.bucket_size == 100_000  # nothing recorded yet
    _fill(spark, Lake(spark, root, bucket_size=BUCKET), 20)
    reopened = Lake(spark, root)
    assert reopened.bucket_size == BUCKET
    assert [r.number for r in reopened.block_by_number(15).collect()] == [15]
    assert reopened.block_transactions(15).count() == 4
    assert Lake(spark, root, bucket_size=BUCKET).bucket_size == BUCKET
    with pytest.raises(ValueError, match="bucket size"):
        Lake(spark, root, bucket_size=100_000)
    # a lake opened before the size was recorded cannot mutate with another
    with pytest.raises(ValueError, match="bucket size"):
        fresh.truncate_from_last_saved(1)
    assert reopened.blocks().count() == 20


def test_unrecorded_warehouse_refuses_a_size_its_buckets_do_not_fit(spark, tmp_path):
    """A warehouse written before sizes were recorded has buckets but no
    record. Deletes drop whole buckets by ``b * bucket_size`` arithmetic,
    so a size the buckets do not fit must be refused before it is
    recorded: at construction, and at the first mutation of a lake opened
    while the warehouse was still empty. Otherwise a truncate of 3 under
    size 100,000 sees tip 29 and drops buckets 1 and 2 whole, heights
    10..29, where only 27..29 were meant."""
    root = str(tmp_path / "legacy")
    early = Lake(spark, root)  # opened empty: default size, nothing recorded
    _fill(spark, Lake(spark, root, bucket_size=BUCKET), 30)
    os.remove(os.path.join(root, "_bucket_size"))  # as written before records
    with pytest.raises(ValueError, match="bucket size"):
        Lake(spark, root)
    with pytest.raises(ValueError, match="bucket size"):
        Lake(spark, root, bucket_size=100)  # larger: top bucket 2 holds 20..29
    with pytest.raises(ValueError, match="bucket size"):
        Lake(spark, root, bucket_size=3)  # smaller: 29 // 3 is not 2
    with pytest.raises(ValueError, match="bucket size"):
        early.truncate_from_last_saved(3)
    assert not os.path.exists(os.path.join(root, "_bucket_size"))
    for name in ALL_MODULES:
        assert sorted(early._bucket_leaf_dirs(name)) == [0, 1, 2], name
    # the size it was written with is accepted and recorded
    right = Lake(spark, root, bucket_size=BUCKET)
    right.truncate_from_last_saved(3)
    assert right.blocks().count() == 27
    assert Lake(spark, root).bucket_size == BUCKET


def test_unreadable_commit_marker_refuses_resume(spark, tmp_path):
    """The commit marker holds resume below a torn range. A marker that
    does not parse must raise and name the file, not fall back to the
    blocks tip past that range; a missing marker still falls back."""
    root = str(tmp_path / "wh")
    lk = _fill(spark, Lake(spark, root, bucket_size=BUCKET), 30)
    marker = os.path.join(root, "_ingest_commit")
    with open(marker, "w") as f:
        f.write('{"hi": 12}')  # heights above 12 are a torn range
    assert lk.resume_point() == 12
    with open(marker, "w") as f:
        f.write('{"hi": 1')  # torn by hand; the writer renames whole files
    with pytest.raises(ValueError, match="_ingest_commit"):
        lk.resume_point()
    os.remove(marker)
    assert lk.resume_point() == 29  # no marker: the blocks tip


def test_compaction_settles_in_one_pass(spark, tmp_path):
    """A rewrite writes each leaf dir whole in one task, so every leaf dir
    ends with exactly ``max(1, ⌈rows/target⌉)`` files and a second
    ``compact`` finds nothing to do. Three buckets of 20 blocks at a target
    of 30 need one file each; the transfers leaf dirs of the same buckets
    hold about 40 rows each and need two or more."""
    import glob

    lk = Lake(spark, str(tmp_path / "settle"), bucket_size=20)
    raw = FX.raw_blocks(spark, n_blocks=60, txs_per_block=4)
    for lo in range(0, 60, 5):  # 12 micro-batches, 4 per bucket
        batch = raw.filter(F.col("number").between(lo, lo + 4))
        txs = T.normalize_transactions(batch)
        blocks = T.normalize_blocks(batch)
        transfers = T.propagate_created_at(
            D.extract_token_transfers(txs, FX.WATCH_CONTRACT, FX.receipts(batch)),
            txs, blocks,
        )
        lk.write("blocks", blocks)
        lk.write(TOKEN_TRANSFERS, transfers)
    n_transfers = lk.token_transfers().count()
    assert lk.compact("blocks", target_rows_per_file=30) == 3
    assert lk.compact(TOKEN_TRANSFERS, target_rows_per_file=30) == 3
    for name, want in (("blocks", lambda rows: 1),
                       (TOKEN_TRANSFERS, lambda rows: -(-rows // 30))):
        for b, dirs in lk._bucket_leaf_dirs(name).items():
            for d in dirs:
                rows = lk._footer_stats(name, [d])[2]
                assert name == "blocks" or rows > 30, (b, rows)
                assert len(glob.glob(f"{d}/*.parquet")) == want(rows), (name, b)
        assert lk.compact(name, target_rows_per_file=30) == 0, name
    assert lk.blocks().select("number").distinct().count() == 60
    assert lk.token_transfers().count() == n_transfers


def test_detect_reorgs(lake, spark):
    good = FX.raw_blocks(spark, n_blocks=N_BLOCKS).select(
        "number", "hash", "parent_hash", "timestamp"
    )
    assert lake.detect_reorgs(good.filter(F.col("number") >= 15)).count() == 0

    # header 20 claims a different parent → stored 19 is on a dead branch
    bad_parent = good.withColumn(
        "parent_hash",
        F.when(F.col("number") == 20, F.lit("f" * 64)).otherwise(F.col("parent_hash")),
    )
    hits = lake.detect_reorgs(bad_parent.filter(F.col("number") >= 15)).collect()
    assert [h.forked_number for h in hits] == [19]

    # header 20 itself re-issued with a new hash → stored 20 conflicts
    # (the PK-conflict analogue), and stored 20's child link breaks too
    fork20 = good.withColumn(
        "hash",
        F.when(F.col("number") == 20, F.lit("f" * 64)).otherwise(F.col("hash")),
    )
    hits = {
        h.forked_number
        for h in lake.detect_reorgs(fork20.filter(F.col("number") == 20)).collect()
    }
    assert hits == {20}


def test_compaction(spark, tmp_path):
    lk = Lake(spark, str(tmp_path / "cw"), bucket_size=20)
    raw = FX.raw_blocks(spark, n_blocks=40, txs_per_block=2)
    # simulate streaming: 8 tiny appends of 5 blocks each
    for lo in range(0, 40, 5):
        batch = raw.filter(F.col("number").between(lo, lo + 4))
        lk.write("blocks", T.normalize_blocks(batch))
    import glob
    files_before = glob.glob(str(tmp_path / "cw/blocks/**/*.parquet"), recursive=True)
    assert len(files_before) > 2  # many micro-batch files

    n = lk.compact("blocks", target_rows_per_file=1000)
    assert n == 2  # both buckets had more files than needed
    files_after = glob.glob(str(tmp_path / "cw/blocks/**/*.parquet"), recursive=True)
    assert len(files_after) < len(files_before)
    assert lk.blocks().count() == 40  # no rows lost
    assert lk.blocks().select("number").distinct().count() == 40
    assert lk.compact("blocks", target_rows_per_file=1000) == 0  # idempotent


def test_compaction_honors_per_file_target(spark, tmp_path):
    """An oversized bucket must split into ~ceil(rows/target) files, not
    collapse to one giant file (scan-parallelism at 100 TB)."""
    import glob

    lk = Lake(spark, str(tmp_path / "cw2"), bucket_size=100)
    raw = FX.raw_blocks(spark, n_blocks=90, txs_per_block=2)
    for lo in range(0, 90, 5):  # 18 micro-batches, all into one bucket
        batch = raw.filter(F.col("number").between(lo, lo + 4))
        lk.write("blocks", T.normalize_blocks(batch))
    assert lk.compact("blocks", target_rows_per_file=30) == 1
    files = glob.glob(str(tmp_path / "cw2/blocks/**/*.parquet"), recursive=True)
    assert 3 <= len(files) <= 4  # 90 rows / 30-per-file target
    assert lk.blocks().count() == 90
    assert lk.blocks().select("number").distinct().count() == 90


def test_module_gating(spark, tmp_path):
    lk = Lake(spark, str(tmp_path / "gated"), bucket_size=BUCKET, modules=("blocks",))
    raw = FX.raw_blocks(spark, n_blocks=5)
    lk.write_all(T.normalize_blocks(raw), T.normalize_transactions(raw))
    assert lk.blocks().count() == 5
    assert not lk.exists("transactions")
    assert lk.transactions().count() == 0  # empty frame with full schema


def test_idempotent_bucket_overwrite(lake, spark):
    """Exactly-once story: re-appending a whole committed bucket (30..39,
    a crashed-and-retried delivery) leaves it unchanged — the natural-key
    anti-join drops every redelivered row."""
    raw = FX.raw_blocks(spark, n_blocks=N_BLOCKS)
    blocks = T.normalize_blocks(raw).filter(F.col("number") >= 30)
    lake.write("blocks", blocks)
    assert lake.blocks().count() == N_BLOCKS
    assert lake.blocks().select("number").distinct().count() == N_BLOCKS
    assert lake.blocks().filter(F.col("number") >= 30).count() == 10


def test_bucket_index_past_int_range_is_refused(spark, tmp_path):
    """Reads declare ``block_bucket`` int, so a row whose bucket index is
    2^31 or more must fail its write job before the commit, through
    ``write`` and ``write_all`` alike; the lake keeps its rows and every
    read of it still works. Before the guard such a row landed and every
    later read failed with INVALID_PARTITION_VALUE."""
    lk = Lake(spark, str(tmp_path / "big"), bucket_size=1)
    blocks = T.normalize_blocks(FX.raw_blocks(spark, n_blocks=3))
    lk.write_all(blocks)
    far = blocks.filter(F.col("number") == 2).withColumn("number", F.lit(2**31))
    with pytest.raises(Exception, match="block_bucket would not fit"):
        lk.write("blocks", far)
    with pytest.raises(Exception, match="block_bucket would not fit"):
        lk.write_all(far, height_range=(2**31, 2**31), verified_hi=2**31)
    assert set(lk._bucket_leaf_dirs("blocks")) == {0, 1, 2}
    assert sorted(r.number for r in lk.blocks().collect()) == [0, 1, 2]
    assert lk.block_by_number(2).count() == 1
    assert lk.blocks_in_range(0).count() == 3
    assert lk.latest_block_number() == 2
    assert lk.resume_point() == 2


def test_compact_concurrent_with_appends_loses_nothing(spark, tmp_path):
    """r05 closed compact()'s side (scan-stage-swap holds the lake lock);
    r06 closes the writer side: ``Lake.write`` itself takes the mutex, so a
    BARE write — pipeline.ingest_raw/backfill never took the lock
    voluntarily — can no longer land between compact's scan and its swap
    and be silently dropped by the stale staged rewrite (ADVICE r05).
    Hammer bare appends from a thread while compacting in a loop, then
    account for every row."""
    import threading

    lk = Lake(spark, str(tmp_path / "ccw"), bucket_size=50)
    raw = FX.raw_blocks(spark, n_blocks=200, txs_per_block=1)
    norm = T.normalize_blocks(raw).localCheckpoint(eager=True)
    lk.write("blocks", norm.filter(F.col("number") < 20))

    def appender():
        for lo in range(20, 200, 20):
            batch = norm.filter(F.col("number").between(lo, lo + 19))
            lk.write("blocks", batch)  # no voluntary lock — write takes it

    th = threading.Thread(target=appender)
    th.start()
    for _ in range(6):
        lk.compact("blocks", target_rows_per_file=100)
    th.join()
    lk.compact("blocks", target_rows_per_file=100)
    assert lk.blocks().count() == 200
    assert lk.blocks().select("number").distinct().count() == 200


def test_incremental_agg_merge_hand_case(spark):
    """Merging a batch aggregate into the stored aggregate must equal the
    from-scratch aggregate: overlapping keys sum, prior-only and
    batch-only keys pass through untouched."""
    from core_etl_spark.operators.maintenance import incremental_agg_merge

    schema = "user_id long, event_type string, n_events long, total_v decimal(18,2)"
    from decimal import Decimal as D

    prev = spark.createDataFrame(
        [(1, "a", 2, D("10.50")), (2, "b", 1, D("3.00"))], schema
    )
    batch = spark.createDataFrame(
        [(1, "a", 1, D("0.25")), (3, "a", 4, D("7.75"))], schema
    )
    got = {
        (r.user_id, r.event_type): (r.n_events, r.total_v)
        for r in incremental_agg_merge(
            prev, batch, ("user_id", "event_type")
        ).collect()
    }
    assert got == {
        (1, "a"): (3, D("10.75")),  # overlap: counts and sums merge
        (2, "b"): (1, D("3.00")),   # prior-only key unchanged
        (3, "a"): (4, D("7.75")),   # batch-only key appears
    }


def test_snapshot_diff_hand_case(spark):
    from core_etl_spark.operators.maintenance import snapshot_diff

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "beta"), (3, "gamma CHANGED"), (4, "delta")], "doc_id long, text string"
    )
    got = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    assert got == {1: "removed", 2: "same", 3: "changed", 4: "added"}


def test_snapshot_diff_null_payloads(spark):
    """ADVICE r06: md5(NULL) is NULL, so presence must be tracked with
    explicit flags — a key present on both sides with a NULL payload is
    'same', NULL→value and value→NULL are 'changed', and a NULL-payload
    key on one side only is still added/removed."""
    from core_etl_spark.operators.maintenance import snapshot_diff

    old = spark.createDataFrame(
        [(1, None), (2, None), (3, "x"), (5, None)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, None), (2, "now-set"), (3, None), (4, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    assert got == {
        1: "same",      # NULL vs NULL
        2: "changed",   # NULL -> value
        3: "changed",   # value -> NULL
        4: "added",     # NULL payload, new-only
        5: "removed",   # NULL payload, old-only
    }


def test_positional_check_scalable_two_phase(spark):
    """V3's global rank is now two-phase (per-bucket row_number + prefix
    offsets), so a tiny bucket size must still produce the exact global
    positions — including violations that straddle bucket boundaries —
    and the data-sized window must be PARTITIONED (no single-partition
    global sort in the plan)."""
    from core_etl_spark.operators.verify import positional_check

    # values 0..9 with 4 and 7 missing, and 20 as an outlier:
    vals = [v for v in range(10) if v not in (4, 7)] + [20]
    df = spark.createDataFrame([(v,) for v in vals], "number long")
    out = positional_check(df, bucket=3)  # buckets of 3 → many boundaries
    got = {(r.value, r.pos) for r in out.collect()}
    # ordered values: 0,1,2,3,5,6,8,9,20 → positions 0..8
    assert got == {(5, 4), (6, 5), (8, 6), (9, 7), (20, 8)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the data-sized window carries a partition spec; only the bucket-count
    # offsets window (|N|/B rows) is global
    assert "windowspecdefinition(bucket" in plan.lower().replace(" ", "") or \
        "partitionby" not in plan.lower()  # fallback: plan text format drift
    # clean sequence from zero → no violations
    clean = spark.createDataFrame([(v,) for v in range(50)], "number long")
    assert positional_check(clean, bucket=7).count() == 0
    # negative values bucket correctly (floor division): ordered -2,-1,0,1
    # sit at positions 0,1,2,3 — every value differs from its position
    neg = spark.createDataFrame([(-2,), (-1,), (0,), (1,)], "number long")
    got_neg = {(r.value, r.pos) for r in positional_check(neg, bucket=3).collect()}
    assert got_neg == {(-2, 0), (-1, 1), (0, 2), (1, 3)}


def test_profile_columns_hand_case(spark):
    from core_etl_spark.operators.verify import profile_columns

    df = spark.createDataFrame(
        [(1, "en", None), (2, "en", "x"), (3, None, "x"), (4, "de", "y")],
        "id long, lang string, src string",
    )
    got = {r.col: (r.n_rows, r.n_nonnull, r.n_distinct)
           for r in profile_columns(df, ["lang", "src"]).collect()}
    assert got == {"lang": (4, 3, 2), "src": (4, 3, 2)}
    import pytest as _pt

    with _pt.raises(ValueError):
        profile_columns(df, [])


# --- warehouse writer lock (r16: cross-process single-writer contract) -------


def _plant_sentinel(root: str, pid: int, age_sec: float = 0.0) -> str:
    """Write a writer-lock sentinel as another process would have."""
    import socket
    import time

    os.makedirs(root, exist_ok=True)
    lock = os.path.join(root, ".writer__lock")
    with open(lock, "w") as f:
        f.write(f"{pid} {time.time() - age_sec} {socket.gethostname()}")
    return lock


def _tiny_blocks(spark):
    raw = FX.raw_blocks(spark, n_blocks=3, txs_per_block=1)
    return T.normalize_blocks(raw)


def test_second_process_writer_is_refused(spark, tmp_path):
    """A LIVE foreign holder (here: pid 1, alive but not us) must refuse
    this process's first mutation loudly — two processes appending to one
    warehouse interleave the commit marker and stage-and-swaps."""
    from core_etl_spark.lake import WarehouseLockedError

    root = str(tmp_path / "wh_contested")
    _plant_sentinel(root, pid=1)
    lk = Lake(spark, root, bucket_size=BUCKET)
    with pytest.raises(WarehouseLockedError, match="another process"):
        lk.write_all(_tiny_blocks(spark))
    # reads never need the lock
    assert lk.latest_block_number() == -1


def test_stale_writer_lock_is_broken(spark, tmp_path):
    """A crashed writer's sentinel (dead pid) is stale — the next writer
    breaks it and proceeds; no manual cleanup."""
    import multiprocessing as mp

    child = mp.Process(target=lambda: None)
    child.start()
    child.join()  # dead pid, guaranteed ours-to-know
    root = str(tmp_path / "wh_stale")
    _plant_sentinel(root, pid=child.pid, age_sec=7200.0)
    lk = Lake(spark, root, bucket_size=BUCKET)
    lk.write_all(_tiny_blocks(spark))
    assert lk.blocks().count() == 3


def test_same_process_reopen_reenters_lock(spark, tmp_path):
    """Every Lake instance in one process shares the per-root holder —
    re-opening a warehouse (backfill-then-tail, tests) must not
    self-collide."""
    root = str(tmp_path / "wh_reopen")
    Lake(spark, root, bucket_size=BUCKET).write_all(_tiny_blocks(spark))
    lk2 = Lake(spark, root, bucket_size=BUCKET)
    lk2.truncate_from_last_saved(1)
    assert lk2.blocks().count() == 2
    assert os.path.exists(os.path.join(root, ".writer__lock"))


def test_read_only_lake_takes_no_lock(spark, tmp_path):
    root = str(tmp_path / "wh_readonly")
    os.makedirs(root)
    lk = Lake(spark, root, bucket_size=BUCKET)
    assert lk.latest_block_number() == -1
    assert not os.path.exists(os.path.join(root, ".writer__lock"))


def test_run_with_retry_fails_fast_on_foreign_writer(spark, tmp_path):
    """A WarehouseLockedError is an operational error, not a torn write —
    run_with_retry must surface it immediately instead of burning ten
    truncate-and-retry cycles that each need the same lock."""
    from core_etl_spark.lake import WarehouseLockedError
    from core_etl_spark.pipeline import run_with_retry

    root = str(tmp_path / "wh_foreign")
    _plant_sentinel(root, pid=1)
    lk = Lake(spark, root, bucket_size=BUCKET)
    calls = []

    def job():
        calls.append(1)
        lk.write_all(_tiny_blocks(spark))
        return 0

    with pytest.raises(WarehouseLockedError):
        run_with_retry(job, lk, attempts=10)
    assert len(calls) == 1  # no retry loop
