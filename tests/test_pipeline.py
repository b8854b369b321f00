"""Pipeline + provider + CLI tests: chunked backfill with resume, the retry
loop's truncate-and-replay invariant, distributed RPC fetch plumbing (fake
transport), watch-token parsing, and the CLI subcommands end-to-end."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from core_etl_spark import cli, pipeline as P
from core_etl_spark.lake import Lake
from core_etl_spark.sources import fixtures as FX
from core_etl_spark.sources.provider import FixtureBlockProvider, RpcBlockProvider


def test_backfill_resume_and_chunks(spark, tmp_path):
    lake = Lake(spark, str(tmp_path / "wh"), bucket_size=10)
    provider = FixtureBlockProvider(n_blocks=35, txs_per_block=2)
    n = P.backfill(spark, lake, provider, chunk_size=10)
    assert n == 35
    assert lake.latest_block_number() == 34
    assert lake.blocks().count() == 35

    # resume: nothing new → no-op; extend the chain → only the delta syncs
    assert P.backfill(spark, lake, provider) == 0
    provider.n_blocks = 42
    assert P.backfill(spark, lake, provider) == 7
    assert lake.latest_block_number() == 41
    assert lake.blocks().select("number").distinct().count() == 42


def test_backfill_with_transfers(spark, tmp_path):
    lake = Lake(spark, str(tmp_path / "wh"), bucket_size=10)
    provider = FixtureBlockProvider(n_blocks=20, txs_per_block=4)
    P.backfill(spark, lake, provider, watch_contracts=(FX.WATCH_CONTRACT,))
    tt = lake.token_transfers()
    assert tt.count() > 0
    assert tt.filter(F.col("created_at").isNull()).count() == 0
    assert tt.filter(F.col("status") == 0).count() > 0  # receipts joined


def test_run_with_retry_truncates_and_replays(spark, tmp_path):
    lake = Lake(spark, str(tmp_path / "wh"), bucket_size=10)
    provider = FixtureBlockProvider(n_blocks=30, txs_per_block=2)
    calls = {"n": 0}

    def flaky() -> int:
        calls["n"] += 1
        got = P.backfill(spark, lake, provider, chunk_size=10)
        if calls["n"] == 1:
            raise RuntimeError("simulated crash after partial sync")
        return got

    P.run_with_retry(flaky, lake, attempts=3, truncate_blocks=5)
    assert lake.latest_block_number() == 29
    assert lake.blocks().select("number").distinct().count() == 30
    assert lake.blocks().count() == 30  # truncate+replay left no duplicates

    with pytest.raises(RuntimeError, match="after 2 attempts"):
        P.run_with_retry(lambda: (_ for _ in ()).throw(ValueError("x")),
                         lake, attempts=2)


def test_parse_watch_tokens():
    got = P.parse_watch_tokens(["cbc20:0xABC", "cbc20:ctn", "other:dd"], network_id=1)
    assert got["cbc20"] == {"0xabc", P.CTN_ADDRESSES[1]}
    assert got["other"] == {"dd"}
    with pytest.raises(ValueError, match="type:address"):
        P.parse_watch_tokens(["justanaddress"])
    with pytest.raises(ValueError, match="no ctn alias"):
        P.parse_watch_tokens(["cbc20:ctn"], network_id=99)


def test_rpc_provider_distributed_fetch(spark):
    """The mapInPandas fetch path with a deterministic fake transport —
    the wire format is fake, the distributed plumbing is real."""
    chain = {r["number"]: r for r in _fake_chain(12)}

    def transport(method: str, params: str) -> str:
        if method == "xcb_blockNumber":
            return json.dumps(hex(11))
        if method == "xcb_getBlockByNumber":
            num = int(json.loads(params)[0], 16)
            return json.dumps(chain[num])
        if method == "xcb_getTransactionReceipt":
            h = json.loads(params)[0]
            return json.dumps({"status": 0 if h.endswith("3") else 1})
        raise AssertionError(method)

    provider = RpcBlockProvider(transport, chunk_size=5)
    assert provider.chain_tip() == 11
    raw = provider.fetch_blocks(spark, 0, 11)
    assert raw.rdd.getNumPartitions() == 3  # ceil(12/5)
    assert raw.count() == 12
    assert raw.select("number").distinct().count() == 12
    rec = provider.receipts_for(raw)
    got = {r.tx_hash: r.status for r in rec.collect()}
    assert got["tx0_3"] == 0 and got["tx1_0"] == 1


def test_wait_until_synced():
    class FakeSyncingProvider:
        """Reports syncing for the first ``n`` polls, then synced."""

        def __init__(self, n):
            self.n = n

        def syncing(self):
            self.n -= 1
            return self.n >= 0

    assert P.wait_until_synced(FakeSyncingProvider(0)) is True
    assert P.wait_until_synced(FakeSyncingProvider(2), poll_seconds=0.01) is True
    assert (
        P.wait_until_synced(FakeSyncingProvider(99), poll_seconds=0.01, max_polls=3)
        is False
    )


def test_rpc_provider_without_transport_raises(spark):
    provider = RpcBlockProvider()
    with pytest.raises(NotImplementedError, match="transport"):
        provider.chain_tip()


def _fake_chain(n: int) -> list[dict]:
    blocks = []
    for i in range(n):
        blocks.append({
            "number": i, "hash": f"h{i}", "parent_hash": f"h{i-1}",
            "nonce": "00", "sha3_uncles": "u", "logs_bloom": "b",
            "transactions_root": "t", "state_root": "s", "receipts_root": "r",
            "miner": "m", "difficulty": "1", "total_difficulty": "2",
            "extra_data": "", "energy_limit": 8, "energy_used": 1,
            "timestamp": 1_700_000_000 + i,
            "transactions": [
                {"hash": f"tx{i}_{j}", "nonce": "0", "transaction_index": j,
                 "from": "a" * 44, "to": "b" * 44, "value": "1",
                 "energy": "21000", "energy_price": "10", "input": "0x"}
                for j in range(4)
            ],
        })
    return blocks


def _shown_rows(out: str) -> int:
    """Data rows in a ``DataFrame.show`` table (bordered lines minus the
    header)."""
    return sum(1 for line in out.splitlines() if line.startswith("|")) - 1


def test_cli_export_view_verify(spark, tmp_path, capsys):
    wh = str(tmp_path / "wh")
    rc = cli.main([
        "--warehouse", wh, "export", "--fixture", "25",
        "--watch-tokens", f"cbc20:{FX.WATCH_CONTRACT}",
        "--chunk-size", "10", "--bucket-size", "10",
    ])
    assert rc == 0
    assert "backfilled 25 blocks; tip=24" in capsys.readouterr().out

    assert cli.main(["--warehouse", wh, "view", "block", "--number", "7"]) == 0
    out = capsys.readouterr().out
    assert "7" in out and "hash" in out

    # view opens the warehouse with the bucket size export recorded, so a
    # height past the first bucket is found
    assert cli.main(["--warehouse", wh, "view", "block", "--number", "15"]) == 0
    assert _shown_rows(capsys.readouterr().out) == 1
    assert cli.main(["--warehouse", wh, "view", "transactions", "--block", "15"]) == 0
    assert _shown_rows(capsys.readouterr().out) == 4

    assert cli.main(["--warehouse", wh, "view", "token-transfers",
                     "--token", FX.WATCH_CONTRACT]) == 0
    assert FX.WATCH_CONTRACT in capsys.readouterr().out

    assert cli.main(["--warehouse", wh, "verify", "blocks"]) == 0
    assert "contiguous" in capsys.readouterr().out

    # knock a hole in the chain → verify fails
    Lake(spark, wh, bucket_size=10).clean_blocks([12])
    assert cli.main(["--warehouse", wh, "verify", "blocks"]) == 1
    assert "gap" in capsys.readouterr().out

    # a later export without --bucket-size keeps the recorded size
    assert cli.main(["--warehouse", wh, "export", "--fixture", "30",
                     "--chunk-size", "10"]) == 0
    assert "backfilled 5 blocks; tip=29" in capsys.readouterr().out
    tops = spark.read.parquet(f"{wh}/blocks").groupBy("block_bucket").agg(
        F.max("number").alias("m"))
    assert {r.block_bucket: r.m for r in tops.collect()} == {0: 9, 1: 19, 2: 29}

    # missing selector args are loud errors, not silent empty tables
    # (a NULL filter matched nothing and printed headers only — r16 review)
    with pytest.raises(SystemExit, match="--token"):
        cli.main(["--warehouse", wh, "view", "token-transfers"])
    with pytest.raises(SystemExit, match="--address"):
        cli.main(["--warehouse", wh, "view", "address-transfers"])


def test_cli_similarity_kmeans_end_to_end(spark, sf_dir, capsys):
    """The similarity subcommand must run every method end-to-end on the
    real embeddings table, and --centroids kmeans must select the
    KMeans-trained IVF cells (task: close the loop l12b proved)."""
    emb = f"{sf_dir}/embeddings.parquet"
    for extra in (["--method", "exact"],
                  ["--method", "lsh"],
                  ["--method", "ivf", "--centroids", "firstk"],
                  ["--method", "ivf", "--centroids", "kmeans",
                   "--n-centroids", "8"]):
        assert cli.main(["similarity", "--embeddings", emb,
                         "--n-queries", "3", "--k", "2"] + extra) == 0
        out = capsys.readouterr().out
        assert "query_id" in out and "neighbor_id" in out
        # 3 queries × top-2 → 6 result rows, each ranked 1..2
        assert out.count("\n") > 6


def test_cli_similarity_declared_dim_matches_inferred(spark, sf_dir, capsys):
    """--dim declares the corpus dimension so the validity gate skips its
    one-job modal-dimension inference (the zero-extra-job path the specs
    use); results must be identical to the inferred path."""
    emb = f"{sf_dir}/embeddings.parquet"
    outs = []
    for extra in ([], ["--dim", "64"]):
        assert cli.main(["similarity", "--embeddings", emb, "--method",
                         "exact", "--n-queries", "3", "--k", "2"] + extra) == 0
        outs.append(capsys.readouterr().out)
    assert outs[0] == outs[1]
    # lsh and ivf accept it too
    assert cli.main(["similarity", "--embeddings", emb, "--method", "lsh",
                     "--dim", "64", "--n-queries", "2", "--k", "2"]) == 0
    assert cli.main(["similarity", "--embeddings", emb, "--method", "ivf",
                     "--dim", "64", "--n-queries", "2", "--k", "2"]) == 0


def test_retention_loop_ticks_and_sweeps(spark, tmp_path):
    """K9 scheduler: each tick deletes data older than the retention window
    against the injected clock (reference sqlite3.rs:483-536 cadence)."""
    wh = str(tmp_path / "wh_ret")
    lake = Lake(spark, wh, bucket_size=10)
    raw = FX.raw_blocks(spark, n_blocks=30, txs_per_block=1)
    from core_etl_spark.operators.transforms import normalize_blocks, normalize_transactions

    lake.write_all(normalize_blocks(raw), normalize_transactions(raw))
    assert lake.blocks().count() == 30

    # fixture timestamps are EPOCH + 7*number; cut so heights 0..9 expire
    cutoff_now = 1_700_000_000 + 10 * 7 + 3600
    ticks = P.retention_loop(
        lake, retention_secs=3600, interval_secs=0.01,
        clock=lambda: cutoff_now, max_ticks=2,
    )
    assert ticks == 2
    kept = sorted(r.number for r in lake.blocks().select("number").collect())
    assert kept == list(range(10, 30))  # ts(10) == cutoff survives (strict <)

    stop = P.start_retention_scheduler(lake, retention_secs=10**9, interval_secs=60)
    stop()  # starts, one sweep (no-op: nothing older than ~30 years), stops


def test_cli_export_retention_sweep(tmp_path, capsys):
    """-r on a one-shot export runs one sweep at the end; the fixture chain
    is dated 2023 so everything expires and the warehouse is left empty."""
    wh = str(tmp_path / "wh_cli_ret")
    rc = cli.main([
        "--warehouse", wh, "export", "--fixture", "20",
        "--chunk-size", "20", "--bucket-size", "10",
        "-r", "3600",
    ])
    assert rc == 0
    assert "backfilled 20 blocks" in capsys.readouterr().out
    from core_etl_spark.session import get_spark

    lake = Lake(get_spark(app_name="t"), wh, bucket_size=10)
    assert lake.blocks().count() == 0


def test_cli_corpus_actions_end_to_end(spark, sf_dir, tmp_path, capsys):
    """Every corpus action must run on the real documents table; --out
    must write parquet; decontaminate --drop must remove flagged docs."""
    docs = f"{sf_dir}/documents.parquet"
    assert cli.main(["corpus", "prep", "--documents", docs]) == 0
    assert "total_tokens" in capsys.readouterr().out

    assert cli.main(["corpus", "split", "--documents", docs,
                     "--weights", "train=0.8,val=0.2"]) == 0
    out = capsys.readouterr().out
    assert "train" in out

    packed = str(tmp_path / "packed")
    assert cli.main(["corpus", "pack", "--documents", docs,
                     "--ctx-len", "128", "--out", packed]) == 0
    pdf = spark.read.parquet(packed)
    assert pdf.count() == spark.read.parquet(docs).count()
    assert {"chunk_id", "chunk_offset", "spans_chunks"} <= set(pdf.columns)

    # decontaminate against itself: every doc fully contaminated -> --drop
    # empties the corpus; report mode flags all rows
    assert cli.main(["corpus", "decontaminate", "--documents", docs,
                     "--benchmark", docs]) == 0
    assert "true" in capsys.readouterr().out
    cleaned = str(tmp_path / "clean")
    assert cli.main(["corpus", "decontaminate", "--documents", docs,
                     "--benchmark", docs, "--drop", "--out", cleaned]) == 0
    assert spark.read.parquet(cleaned).count() == 0


def test_cli_corpus_dedup_keeps_one_per_component(spark, sf_dir, tmp_path):
    """The dedup action must drop every non-keeper of each near-dup
    component and keep everything else."""
    docs = f"{sf_dir}/documents.parquet"
    out = str(tmp_path / "deduped")
    assert cli.main(["corpus", "dedup", "--documents", docs,
                     "--out", out]) == 0
    import core_etl_spark.operators.dedup as D

    src = spark.read.parquet(docs)
    # the CLI defaults the stop-shingle valve ON (--max-shingle-df 64);
    # mirror it on the reference side
    pairs = D.jaccard_pairs(src, threshold=0.5, max_shingle_df=64).select(
        "id_a", "id_b"
    )
    comp = D.neardup_components_star(pairs)
    n_dropped = comp.filter(F.col("doc_id") != F.col("component")).count()
    kept = spark.read.parquet(out)
    assert kept.count() == src.count() - n_dropped
    assert n_dropped > 0  # fixture has near-dups; the action must act


def test_cli_corpus_dedup_editdist_valve_defaults_on(spark, tmp_path):
    """The editdist dedup path must ship with the hot-block valve ON: a
    boilerplate prefix shared by more docs than --max-block-df is excluded
    from pairing wholesale (those docs all survive), while a genuine
    near-dup pair in a small block is still collapsed (VERDICT r05 #5)."""
    hot = [(i, "boilerplate header, all docs alike " + str(i), "en")
           for i in range(10)]
    near = [(100, "a quick brown fox jumps over the dog", "en"),
            (101, "a quick brown fox jumps over the fog", "en")]
    docs = str(tmp_path / "docs_hot")
    spark.createDataFrame(hot + near, "doc_id long, text string, lang string") \
        .write.parquet(docs)
    out = str(tmp_path / "deduped_hot")
    assert cli.main(["corpus", "dedup", "--documents", docs,
                     "--method", "editdist", "--max-dist", "5",
                     "--max-block-df", "4", "--out", out]) == 0
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert set(range(10)) <= kept  # hot block excised from pairing, not dropped
    assert len(kept & {100, 101}) == 1  # the real near-dup pair collapsed
    # valve off (0): the hot block IS pairable and its docs collapse too
    out2 = str(tmp_path / "deduped_novalve")
    assert cli.main(["corpus", "dedup", "--documents", docs,
                     "--method", "editdist", "--max-dist", "5",
                     "--max-block-df", "0", "--out", out2]) == 0
    kept2 = {r.doc_id for r in spark.read.parquet(out2).collect()}
    assert len(kept2 & set(range(10))) == 1


def test_cli_corpus_prep_builds_probeable_index(spark, sf_dir, tmp_path, capsys):
    """prep --build-index must write a persisted IVF index of the PREPPED
    corpus only (quality-filtered + exact-deduped), and the similarity
    --index path must probe it: build-once → probe-many, end to end."""
    docs = f"{sf_dir}/documents.parquet"
    emb = f"{sf_dir}/embeddings.parquet"
    idx = str(tmp_path / "prep_ivf")
    assert cli.main(["corpus", "prep", "--documents", docs,
                     "--embeddings", emb, "--build-index", idx,
                     "--n-centroids", "8"]) == 0
    assert "wrote IVF index" in capsys.readouterr().out
    # index holds exactly the survivors' vectors
    import core_etl_spark.operators.dedup as D

    src = spark.read.parquet(docs).select(
        "doc_id", "text", "lang",
        F.size(F.split("text", " ")).alias("n_words"),
        F.size(F.array_distinct(F.split("text", " "))).alias("n_distinct"),
    ).filter((F.col("n_words") >= 20)
             & (F.col("n_distinct") / F.col("n_words") >= 0.4))
    survivors = {r.doc_id for r in D.exact_dedup(src, "text", "doc_id")
                 .select("doc_id").collect()}
    emb_ids = {r.vec_id for r in spark.read.parquet(emb).collect()}
    indexed = {r.id for r in spark.read.parquet(f"{idx}/lists").collect()}
    assert indexed == survivors & emb_ids
    # and the persisted index answers queries through the normal CLI path
    assert cli.main(["similarity", "--embeddings", emb, "--index", idx,
                     "--n-queries", "3", "--k", "2"]) == 0
    assert "query_id" in capsys.readouterr().out


def test_cli_similarity_persisted_index(spark, sf_dir, tmp_path, capsys):
    """--build-index then --index: the CLI round-trip over a persisted
    IVF index returns ranked neighbors."""
    emb = f"{sf_dir}/embeddings.parquet"
    idx = str(tmp_path / "ivf_idx")
    assert cli.main(["similarity", "--embeddings", emb,
                     "--build-index", idx, "--n-centroids", "8"]) == 0
    assert "wrote IVF index" in capsys.readouterr().out
    assert cli.main(["similarity", "--embeddings", emb, "--index", idx,
                     "--n-queries", "3", "--k", "2"]) == 0
    out = capsys.readouterr().out
    assert "neighbor_id" in out and "rank" in out


def test_cli_similarity_pq_index(spark, sf_dir, tmp_path, capsys):
    """--pq --build-index then --pq --index: the CLI round-trip over the
    compressed IVF-PQ index returns ADC-ranked neighbors."""
    emb = f"{sf_dir}/embeddings.parquet"
    idx = str(tmp_path / "ivfpq_idx")
    assert cli.main(["similarity", "--embeddings", emb, "--pq",
                     "--build-index", idx, "--n-centroids", "8"]) == 0
    assert "wrote IVF-PQ index" in capsys.readouterr().out
    assert cli.main(["similarity", "--embeddings", emb, "--pq",
                     "--index", idx, "--n-queries", "3", "--k", "2"]) == 0
    out = capsys.readouterr().out
    assert "neighbor_id" in out and "adc_dist" in out


def test_cli_corpus_chunk_shard_quality(spark, sf_dir, capsys):
    """The chunk / shard / quality actions run end-to-end and print their
    defining columns."""
    docsp = f"{sf_dir}/documents.parquet"
    assert cli.main(["corpus", "chunk", "--documents", docsp,
                     "--chunk-len", "32", "--stride", "24"]) == 0
    assert "chunk_text" in capsys.readouterr().out
    assert cli.main(["corpus", "shard", "--documents", docsp,
                     "--n-shards", "4"]) == 0
    assert "shard" in capsys.readouterr().out
    assert cli.main(["corpus", "quality", "--documents", docsp]) == 0
    assert "pass_gopher" in capsys.readouterr().out


def test_cli_corpus_incremental_dedup_history_canonical(spark, tmp_path, capsys):
    """corpus index + corpus dedup --dedup-index: a new doc that near-dups
    an INDEXED doc drops even when its id is smaller (history is
    canonical); fresh docs and the new-new canonical survive."""
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    other = (
        "spark executes declarative plans with catalyst and tungsten over "
        "columnar parquet data at cluster scale every day"
    )
    oldp = str(tmp_path / "old.parquet")
    newp = str(tmp_path / "new.parquet")
    idx = str(tmp_path / "dedup_idx")
    outp = str(tmp_path / "clean.parquet")
    spark.createDataFrame(
        [(100, base)], "doc_id long, text string"
    ).write.parquet(oldp)
    spark.createDataFrame(
        [
            (1, base.replace("today", "tomorrow")),  # near-dup of indexed 100
            (2, other),                              # new-new canonical
            (3, other),                              # new-new dup of 2
            (4, "a totally fresh singleton document with distinct words only"),
        ],
        "doc_id long, text string",
    ).write.parquet(newp)
    assert cli.main(["corpus", "index", "--documents", oldp,
                     "--dedup-index", idx]) == 0
    assert "wrote dedup index" in capsys.readouterr().out
    assert cli.main(["corpus", "dedup", "--documents", newp,
                     "--dedup-index", idx, "--out", outp]) == 0
    survivors = {r.doc_id for r in spark.read.parquet(outp).collect()}
    # doc 1 drops despite having the smallest id anywhere: its canonical
    # lives in the index. doc 3 drops to doc 2 within the batch.
    assert survivors == {2, 4}


def test_cli_corpus_excise_and_mix(spark, sf_dir, tmp_path, capsys):
    """excise must remove duplicated spans (report + --drop corpus mode);
    mix must rebalance to explicit weights or temperature-flatten."""
    docs = f"{sf_dir}/documents.parquet"
    assert cli.main(["corpus", "excise", "--documents", docs]) == 0
    assert "n_removed" in capsys.readouterr().out

    excised = str(tmp_path / "excised")
    assert cli.main(["corpus", "excise", "--documents", docs,
                     "--drop", "--out", excised]) == 0
    src = spark.read.parquet(docs)
    out = spark.read.parquet(excised)
    assert out.count() == src.count()
    assert "text" in out.columns
    # total tokens must shrink (the fixture corpus has shared boilerplate)
    n_src = src.select(F.sum(F.size(F.split("text", " ")))).first()[0]
    n_out = out.select(
        F.sum(F.when(F.col("text") == "", 0).otherwise(F.size(F.split("text", " "))))
    ).first()[0]
    assert n_out < n_src

    mixed = str(tmp_path / "mixed")
    assert cli.main(["corpus", "mix", "--documents", docs,
                     "--mix-targets", "en=2,de=1", "--out", mixed]) == 0
    got = {r.lang: r["count"] for r in
           spark.read.parquet(mixed).groupBy("lang").count().collect()}
    assert set(got) == {"en", "de"}  # unlisted strata dropped
    assert "mix rate" in capsys.readouterr().out

    temp = str(tmp_path / "temp_mix")
    assert cli.main(["corpus", "mix", "--documents", docs,
                     "--out", temp]) == 0
    src_counts = {r.lang: r["count"] for r in src.groupBy("lang").count().collect()}
    got = {r.lang: r["count"] for r in
           spark.read.parquet(temp).groupBy("lang").count().collect()}
    binding = min(src_counts, key=src_counts.get)
    assert got[binding] == src_counts[binding]  # smallest stratum kept whole


def test_cli_corpus_dedup_keep_best(spark, tmp_path):
    """--keep best must elect the highest-quality cluster member instead
    of the min id."""
    rows = [
        (0, "the quick brown fox jumps over the lazy dog today", "en", 10),
        (1, "the quick brown fox jumps over the lazy dog today now more", "en", 99),
        (2, "entirely different text about query engines and storage", "en", 50),
    ]
    docs = str(tmp_path / "docs_best")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    ).write.parquet(docs)
    out = str(tmp_path / "best_kept")
    assert cli.main(["corpus", "dedup", "--documents", docs,
                     "--threshold-jaccard", "0.4", "--keep", "best",
                     "--out", out]) == 0
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert kept == {1, 2}  # doc 1 outscores doc 0 in its cluster


def test_cli_corpus_diff_and_profile(spark, sf_dir, tmp_path, capsys):
    docs = f"{sf_dir}/documents.parquet"
    # build an "old" snapshot missing some docs
    old = str(tmp_path / "old_docs")
    spark.read.parquet(docs).filter(F.col("doc_id") % 5 != 0).write.parquet(old)
    assert cli.main(["corpus", "diff", "--documents", docs, "--old", old]) == 0
    out = capsys.readouterr().out
    assert "diff added:" in out and "diff same:" in out

    assert cli.main(["corpus", "profile", "--documents", docs,
                     "--profile-cols", "lang,source"]) == 0
    out = capsys.readouterr().out
    assert "n_distinct" in out and "lang" in out


def test_cli_media_actions(spark, tmp_path, capsys):
    assert cli.main(["media", "features", "--synthetic", "5"]) == 0
    assert "mean_intensity" in capsys.readouterr().out
    assert cli.main(["media", "dedup", "--synthetic", "5"]) == 0
    assert "keeper" in capsys.readouterr().out
    out = str(tmp_path / "resized")
    assert cli.main(["media", "resize", "--synthetic", "3",
                     "--width", "2", "--height", "2", "--out", out]) == 0
    got = spark.read.parquet(out)
    assert got.count() == 3 and set(got.columns) >= {"media_id", "payload_bytes"}


def test_cli_media_errors_action(spark, tmp_path, capsys):
    # r12 quarantine surface: `media errors` audits which payloads the
    # decoders reject; --skip-errors lets the feature actions run over
    # the same corrupted table instead of failing the job.
    from pyspark.sql import functions as F

    from core_etl_spark.operators import multimodal as M

    path = str(tmp_path / "media")
    M.synthetic_media(spark, n_per_kind=3).withColumn(
        "payload",
        F.when(F.col("media_id") == 0, F.expr("substring(payload, 1, 3)"))
        .otherwise(F.col("payload")),
    ).write.parquet(path)
    assert cli.main(["media", "errors", "--media", path]) == 0
    out = capsys.readouterr().out
    assert "error" in out and "image" in out
    assert cli.main(["media", "features", "--media", path,
                     "--skip-errors"]) == 0
    assert "mean_intensity" in capsys.readouterr().out
    with pytest.raises(Exception):
        cli.main(["media", "features", "--media", path])


def test_cli_corpus_bpe(spark, sf_dir, capsys):
    docs = f"{sf_dir}/documents.parquet"
    assert cli.main(["corpus", "bpe", "--documents", docs,
                     "--n-merges", "3"]) == 0
    out = capsys.readouterr().out
    assert "merge_idx" in out and "pair_count" in out
    assert cli.main(["corpus", "bpe", "--documents", docs,
                     "--n-merges", "2", "--tokenize"]) == 0
    assert "n_bpe_tokens" in capsys.readouterr().out


# --- ingest idempotency (r15, VERDICT r14 directive 1) ----------------------


def _warehouse_rows(lake: Lake) -> dict[str, list]:
    out = {}
    for name, df in (
        ("blocks", lake.blocks()),
        ("transactions", lake.transactions()),
        ("token_transfers", lake.token_transfers()),
    ):
        out[name] = sorted(
            map(tuple, df.drop("block_bucket").collect()),
            key=lambda r: tuple((v is None, str(v)) for v in r),
        )
    return out


def test_redelivered_chunk_is_dropped(spark, tmp_path):
    """A crashed-and-retried chunk re-appending identical rows must leave
    the warehouse identical to single delivery (reference PK semantics,
    etl.rs:147-169)."""
    control = Lake(spark, str(tmp_path / "control"), bucket_size=10)
    victim = Lake(spark, str(tmp_path / "victim"), bucket_size=10)
    provider = FixtureBlockProvider(n_blocks=30, txs_per_block=3)
    for lake in (control, victim):
        P.backfill(spark, lake, provider, (FX.WATCH_CONTRACT,), chunk_size=15)
    # full-chunk, partial-bucket, and tip redeliveries
    for lo, hi in ((0, 14), (7, 22), (15, 29)):
        raw = provider.fetch_blocks(spark, lo, hi).localCheckpoint(eager=True)
        P.ingest_raw(victim, raw, (FX.WATCH_CONTRACT,), provider.receipts_for)
    assert _warehouse_rows(victim) == _warehouse_rows(control)


def test_crash_mid_write_all_then_retry(spark, tmp_path):
    """Crash AFTER blocks+transactions committed but BEFORE transfers
    (write_all's sinks are independent jobs), then retry the whole chunk:
    end state must be byte-identical to a clean single delivery."""
    control = Lake(spark, str(tmp_path / "control"), bucket_size=10)
    victim = Lake(spark, str(tmp_path / "victim"), bucket_size=10)
    provider = FixtureBlockProvider(n_blocks=20, txs_per_block=4)
    P.backfill(spark, control, provider, (FX.WATCH_CONTRACT,), chunk_size=20)

    # torn delivery: only two of the three sinks commit
    raw = provider.fetch_blocks(spark, 0, 19).localCheckpoint(eager=True)
    from core_etl_spark.operators.transforms import (
        normalize_blocks,
        normalize_transactions,
    )

    victim.write_all(normalize_blocks(raw), normalize_transactions(raw))
    # retried delivery of the same chunk, now with all sinks
    P.ingest_raw(victim, raw, (FX.WATCH_CONTRACT,), provider.receipts_for)
    assert _warehouse_rows(victim) == _warehouse_rows(control)
    # and the retry itself is idempotent under a second retry
    P.ingest_raw(victim, raw, (FX.WATCH_CONTRACT,), provider.receipts_for)
    assert _warehouse_rows(victim) == _warehouse_rows(control)


def test_redelivery_drops_nothing_new(spark, tmp_path):
    """The anti-join must never drop NEW rows that share a bucket with
    committed ones (the forward-progress false-positive direction)."""
    lake = Lake(spark, str(tmp_path / "wh"), bucket_size=100)
    provider = FixtureBlockProvider(n_blocks=30, txs_per_block=2)
    # two chunks landing in the SAME bucket 0
    P.backfill(spark, lake, provider, chunk_size=15)
    assert lake.blocks().count() == 30
    assert lake.blocks().select("number").distinct().count() == 30


def test_torn_write_all_healed_by_tail(spark, tmp_path):
    """r15 review: a torn write_all (blocks committed, transactions not)
    must not hide behind the blocks-derived tip — the tail's stale guard
    keys on the group-commit watermark, so the replayed batch re-delivers
    the torn range and the idempotent append fills the lagging sinks.

    Second leg, a crash after the writes: all three sinks commit but the
    marker does not advance, then the batch is replayed. The footer rule
    in ``_drop_redelivered`` must see committed rows at the batch's own
    heights and keep the anti-join, or every row would land twice."""
    from core_etl_spark.operators.transforms import (
        normalize_blocks,
        normalize_transactions,
    )
    from core_etl_spark.streaming.tail import make_tail_batch_processor

    control = Lake(spark, str(tmp_path / "control"), bucket_size=10)
    victim = Lake(spark, str(tmp_path / "victim"), bucket_size=10)
    provider = FixtureBlockProvider(n_blocks=30, txs_per_block=3)
    P.backfill(spark, control, provider, (FX.WATCH_CONTRACT,), chunk_size=10)
    P.backfill(spark, victim, provider, (FX.WATCH_CONTRACT,), chunk_size=10,
               end=9)
    tail = make_tail_batch_processor(
        victim, (FX.WATCH_CONTRACT,), provider.receipts_for
    )

    # torn delivery of 10..19: only the blocks sink commits (no marker —
    # the group never completed)
    raw = provider.fetch_blocks(spark, 10, 19).localCheckpoint(eager=True)
    victim.write("blocks", normalize_blocks(raw))
    assert victim.latest_block_number() == 19  # the tip HIDES the tear
    assert victim.resume_point() == 9          # the watermark does not

    # checkpoint replay delivers the same batch to the tail processor
    tail(raw, 0)
    assert victim.resume_point() == 19

    # crash after the writes of 20..29: every sink committed (ingest_raw
    # without a verified_hi advances no marker), then the replay
    raw = provider.fetch_blocks(spark, 20, 29).localCheckpoint(eager=True)
    P.ingest_raw(victim, raw, (FX.WATCH_CONTRACT,), provider.receipts_for)
    assert victim.latest_block_number() == 29
    assert victim.resume_point() == 19
    tail(raw, 1)
    assert _warehouse_rows(victim) == _warehouse_rows(control)
    assert victim.resume_point() == 29


def test_write_all_rejects_verified_hi_outside_range(spark, tmp_path):
    """``verified_hi`` is a verified prefix of ``height_range``: anything
    outside ``[lo - 1, hi]`` (or with no range at all) is a caller bug and
    fails before a row is written or the marker moves. A ``height_range``
    without ``verified_hi`` writes the rows but leaves the marker where it
    was — the safe under-advance (resume re-delivers the range)."""
    from core_etl_spark.operators.transforms import normalize_blocks

    lake = Lake(spark, str(tmp_path / "wh"), bucket_size=10)
    provider = FixtureBlockProvider(n_blocks=20, txs_per_block=1)
    blocks = normalize_blocks(provider.fetch_blocks(spark, 0, 9))
    for bad, rng in ((10, (0, 9)), (-2, (0, 9)), (5, None)):
        with pytest.raises(ValueError, match="verified_hi"):
            lake.write_all(blocks, height_range=rng, verified_hi=bad)
    assert not lake.exists("blocks")
    assert lake.resume_point() == -1
    lake.write_all(blocks, height_range=(0, 9), verified_hi=9)
    assert lake.resume_point() == 9
    lake.write_all(normalize_blocks(provider.fetch_blocks(spark, 10, 19)),
                   height_range=(10, 19))
    assert lake.latest_block_number() == 19
    assert lake.resume_point() == 9


def test_torn_chunk_healed_by_backfill_resume(spark, tmp_path):
    """Same tear, batch path: backfill resume starts at the watermark, so
    the torn chunk is re-ingested whole and the anti-join dedupes the
    already-committed sink."""
    from core_etl_spark.operators.transforms import normalize_blocks

    control = Lake(spark, str(tmp_path / "control"), bucket_size=10)
    victim = Lake(spark, str(tmp_path / "victim"), bucket_size=10)
    provider = FixtureBlockProvider(n_blocks=30, txs_per_block=3)
    P.backfill(spark, control, provider, (FX.WATCH_CONTRACT,), chunk_size=10)

    P.backfill(spark, victim, provider, (FX.WATCH_CONTRACT,), chunk_size=10,
               end=19)
    raw = provider.fetch_blocks(spark, 20, 29).localCheckpoint(eager=True)
    victim.write("blocks", normalize_blocks(raw))  # torn: blocks only
    n = P.backfill(spark, victim, provider, (FX.WATCH_CONTRACT,),
                   chunk_size=10)
    assert n == 10  # resumed from the watermark, not the torn tip
    assert _warehouse_rows(victim) == _warehouse_rows(control)


def test_truncate_clamps_commit_marker(spark, tmp_path):
    lake = Lake(spark, str(tmp_path / "wh"), bucket_size=10)
    provider = FixtureBlockProvider(n_blocks=30, txs_per_block=2)
    P.backfill(spark, lake, provider, chunk_size=10)
    assert lake.resume_point() == 29
    lake.truncate_from_last_saved(7)
    assert lake.resume_point() == 22  # marker clamped with the tip
    assert P.backfill(spark, lake, provider) == 7  # and resume re-fetches
    assert lake.blocks().select("number").distinct().count() == 30


def test_torn_truncate_never_strands_heights_above_the_marker(spark, tmp_path):
    """A truncate that crashes after some tables are done must not leave
    the commit marker above the heights it already removed: the marker
    drops to the cutoff before any table is touched, so the next backfill
    re-fetches them and the warehouse ends row-identical to a control."""
    from core_etl_spark.lake import TRANSACTIONS

    lake = Lake(spark, str(tmp_path / "wh"), bucket_size=10)
    provider = FixtureBlockProvider(n_blocks=30, txs_per_block=2)
    P.backfill(spark, lake, provider, (FX.WATCH_CONTRACT,), chunk_size=10)
    assert lake.resume_point() == 29
    real_scan = lake._scan

    def crash_at_transactions(name, dirs=None):
        if name == TRANSACTIONS:
            raise RuntimeError("crash injected mid-truncate")
        return real_scan(name, dirs)

    lake._scan = crash_at_transactions
    try:
        with pytest.raises(RuntimeError, match="mid-truncate"):
            lake.truncate_from_last_saved(7)
    finally:
        del lake._scan
    assert lake.latest_block_number() == 22  # blocks truncated, txs not
    assert lake.resume_point() <= 22
    assert P.backfill(spark, lake, provider, (FX.WATCH_CONTRACT,)) > 0
    assert lake.resume_point() == 29

    control = Lake(spark, str(tmp_path / "control"), bucket_size=10)
    P.backfill(spark, control, provider, (FX.WATCH_CONTRACT,), chunk_size=10)
    assert _warehouse_rows(lake) == _warehouse_rows(control)


class _LossyProvider(FixtureBlockProvider):
    """Silently drops a set of heights from every fetch — the real-world
    shape of null/pruned replies and skipped transport errors that
    ``RpcBlockProvider.fetch_blocks`` absorbs per-height (ADVICE r15)."""

    def __init__(self, holes: set[int], **kw) -> None:
        super().__init__(**kw)
        self.holes = set(holes)

    def fetch_blocks(self, spark, start, end):
        raw = super().fetch_blocks(spark, start, end)
        return raw.filter(~F.col("number").isin(list(self.holes)))


def test_partial_delivery_never_advances_marker_past_hole(spark, tmp_path):
    """ADVICE r15 (high): a chunk whose provider silently skipped heights
    must advance the group-commit marker only to the verified contiguous
    prefix — advancing to the requested hi makes the skipped heights
    PERMANENT holes (resume starts past them, and the idempotent anti-join
    can only heal ranges that get re-delivered)."""
    lake = Lake(spark, str(tmp_path / "wh"), bucket_size=10)
    lossy = _LossyProvider({13, 17}, n_blocks=30, txs_per_block=2)
    P.backfill(spark, lake, lossy, chunk_size=10, end=19)
    # heights 0..12 delivered contiguously; 13 is the first hole
    assert lake.resume_point() == 12
    assert lake.latest_block_number() == 19  # the tip HIDES the holes

    # the node recovers (holes now served): plain resume heals everything
    healed = FixtureBlockProvider(n_blocks=30, txs_per_block=2)
    P.backfill(spark, lake, healed, chunk_size=10)
    assert lake.resume_point() == 29
    assert lake.blocks().select("number").distinct().count() == 30
    assert lake.blocks().count() == 30  # anti-join deduped the re-delivery

    control = Lake(spark, str(tmp_path / "control"), bucket_size=10)
    P.backfill(spark, control, healed, chunk_size=10)
    assert _warehouse_rows(lake) == _warehouse_rows(control)


def test_empty_delivery_never_advances_marker(spark, tmp_path):
    """A chunk where NOTHING was delivered (whole range pruned) must leave
    the marker untouched, not claim completeness through hi."""
    lake = Lake(spark, str(tmp_path / "wh"), bucket_size=10)
    provider = FixtureBlockProvider(n_blocks=10, txs_per_block=2)
    P.backfill(spark, lake, provider, chunk_size=10)
    assert lake.resume_point() == 9
    lossy = _LossyProvider(set(range(10, 20)), n_blocks=20, txs_per_block=2)
    P.backfill(spark, lake, lossy, chunk_size=10)
    assert lake.resume_point() == 9  # unchanged — no evidence to advance on


class _NullHashProvider(FixtureBlockProvider):
    """Serves a NULL hash for a set of heights — the persistent-dirty-node
    shape that makes stored blocks unverifiable as parents (ADVICE r15)."""

    def __init__(self, null_hash_at: set[int], **kw) -> None:
        super().__init__(**kw)
        self.null_hash_at = set(null_hash_at)

    def fetch_blocks(self, spark, start, end):
        raw = super().fetch_blocks(spark, start, end)
        return raw.withColumn(
            "hash",
            F.when(F.col("number").isin(list(self.null_hash_at)), F.lit(None))
            .otherwise(F.col("hash")),
        )


@pytest.mark.parametrize("flagged", [{7, 8, 23}, {29}], ids=["mid_chain", "tip"])
def test_integrity_sweep_repairs_null_hash_blocks(spark, tmp_path, flagged):
    """ADVICE r15: a NULL-hash block below the resume point has no
    automatic re-delivery trigger — the sweep must flag it, clean it, and
    re-fetch it, ending row-identical to a never-dirty warehouse.

    ``{29}`` flags the tip: ``clean_blocks`` clamps the marker to 28, and
    only the repair's own ``verified_hi`` takes it back to 29."""
    lake = Lake(spark, str(tmp_path / "wh"), bucket_size=10)
    dirty = _NullHashProvider(flagged, n_blocks=30, txs_per_block=2)
    P.backfill(spark, lake, dirty, (FX.WATCH_CONTRACT,), chunk_size=10)
    assert lake.resume_point() == 29  # NULL hash ≠ missing height
    from core_etl_spark.operators.verify import unverifiable_blocks
    assert sorted(r["number"] for r in
                  unverifiable_blocks(lake.blocks()).collect()) == sorted(flagged)
    assert cli.main(["--warehouse", str(tmp_path / "wh"),
                     "verify", "blocks"]) == 1  # surfaced by V2 extension

    healed = FixtureBlockProvider(n_blocks=30, txs_per_block=2)
    n = P.repair_unverifiable_blocks(spark, lake, healed,
                                     (FX.WATCH_CONTRACT,))
    assert n == len(flagged)
    assert unverifiable_blocks(lake.blocks()).count() == 0
    assert lake.resume_point() == 29  # the repair's verified_hi holds it

    control = Lake(spark, str(tmp_path / "control"), bucket_size=10)
    P.backfill(spark, control, healed, (FX.WATCH_CONTRACT,), chunk_size=10)
    assert _warehouse_rows(lake) == _warehouse_rows(control)
    # idempotent: a second sweep finds nothing
    assert P.repair_unverifiable_blocks(spark, lake, healed,
                                        (FX.WATCH_CONTRACT,)) == 0


def test_integrity_sweep_refuses_to_drop_unwatched_transfers(
    spark, tmp_path, monkeypatch
):
    """A repair with no watch list would delete the flagged heights'
    transfers and re-create none. It must refuse before touching a row,
    and its probe for those transfers must read only the flagged heights'
    buckets (the bucket predicate reaches ``PartitionFilters``)."""
    import re

    lake = Lake(spark, str(tmp_path / "wh"), bucket_size=10)
    dirty = _NullHashProvider({23}, n_blocks=40, txs_per_block=2)
    P.backfill(spark, lake, dirty, (FX.WATCH_CONTRACT,), chunk_size=10)
    assert lake.token_transfers().filter(F.col("block_number") == 23).count()
    before = _warehouse_rows(lake)

    frame_type = type(lake.blocks())
    limited = []
    real_limit = frame_type.limit

    def spy_limit(self, n):
        limited.append(self)
        return real_limit(self, n)

    monkeypatch.setattr(frame_type, "limit", spy_limit)
    healed = FixtureBlockProvider(n_blocks=40, txs_per_block=2)
    with pytest.raises(ValueError, match="watch_contracts is empty"):
        P.repair_unverifiable_blocks(spark, lake, healed)
    monkeypatch.undo()
    assert _warehouse_rows(lake) == before

    plans = [df._jdf.queryExecution().executedPlan().toString() for df in limited]
    probe = [p for p in plans if "transfer_index" in p]
    assert len(probe) == 1, plans
    partition_filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", probe[0])
    assert any("block_bucket" in f for f in partition_filters), probe[0]


def test_integrity_sweep_bounded_collect_fails_loud(spark, tmp_path):
    lake = Lake(spark, str(tmp_path / "wh"), bucket_size=10)
    dirty = _NullHashProvider(set(range(12)), n_blocks=12, txs_per_block=1)
    P.backfill(spark, lake, dirty, chunk_size=12)
    with pytest.raises(ValueError, match="more than 5"):
        P.repair_unverifiable_blocks(spark, lake, dirty, limit=5)


def test_receipts_hint_detected_by_signature_not_typeerror(spark, tmp_path):
    """ADVICE r15: a TypeError raised INSIDE receipts_for must propagate as
    the bug it is, never be taken for a signature mismatch and retried
    another way."""
    lake = Lake(spark, str(tmp_path / "wh"), bucket_size=10)
    provider = FixtureBlockProvider(n_blocks=5, txs_per_block=2)
    raw = provider.fetch_blocks(spark, 0, 4)

    def buggy_modern(raw_df, tx_hashes=None):
        raise TypeError("bug inside the callee body")

    with pytest.raises(TypeError, match="inside the callee"):
        P.ingest_raw(lake, raw, (FX.WATCH_CONTRACT,), buggy_modern)


def test_later_clean_chunk_never_papers_over_earlier_hole(spark, tmp_path):
    """r16 self-review: chunk N's hole lowers ITS advance to the verified
    prefix, but chunk N+1 is delivered clean — a blind max-advance would
    jump the marker past the hole anyway. The frontier rule (advance only
    when lo <= marker+1) must hold the marker at the hole until the
    re-fetch heals it."""
    lake = Lake(spark, str(tmp_path / "wh"), bucket_size=10)
    lossy = _LossyProvider({13}, n_blocks=30, txs_per_block=2)
    P.backfill(spark, lake, lossy, chunk_size=10)  # chunks (0,9)(10,19)(20,29)
    assert lake.latest_block_number() == 29        # clean chunk 3 committed
    assert lake.resume_point() == 12               # marker held at the hole

    healed = FixtureBlockProvider(n_blocks=30, txs_per_block=2)
    P.backfill(spark, lake, healed, chunk_size=10)
    assert lake.resume_point() == 29
    assert lake.blocks().count() == 30
    assert lake.blocks().select("number").distinct().count() == 30
