"""CLI — the reference's ``core-etl`` binary surface (reference
bin/core-etl/src/main.rs:25-105: export / view / verify subcommands) over
the Spark engine.

    python -m core_etl_spark.cli export --warehouse WH
        [--fixture N | --network mainnet|devin | --url ws://NODE]
        [--watch-tokens cbc20:ADDR,...] [--tail DIR --checkpoint CK]
        [-r RETENTION_SECS] [-c CLEANUP_INTERVAL_SECS]
        [--modules blocks,transactions,token_transfers]
    python -m core_etl_spark.cli view block --number N | --hash H
    python -m core_etl_spark.cli view transactions --block N | --hash H
    python -m core_etl_spark.cli view token-transfers --token A [--from F] [--to T]
    python -m core_etl_spark.cli view address-transfers --address A [--direction all|to|from]
    python -m core_etl_spark.cli verify blocks [--from-block N]

Flags mirror main.rs:25-62 where they still mean something on Spark
(``--threads`` doesn't: fetch parallelism is partitions × executors).
"""

from __future__ import annotations

import argparse
import sys
import time

from pyspark.sql import DataFrame

from .lake import ALL_MODULES, Lake
from .operators import verify as V
from .operators import views as Q
from .pipeline import (
    backfill,
    parse_watch_tokens,
    run_with_retry,
    start_retention_scheduler,
)
from .session import get_spark
from .sources.provider import FixtureBlockProvider, RpcBlockProvider


def _show(df: DataFrame, n: int = 50) -> None:
    df.show(n, truncate=False)


def cmd_export(args: argparse.Namespace) -> int:
    spark = get_spark(app_name="core_etl_export")
    modules = tuple(args.modules.split(",")) if args.modules else ALL_MODULES
    lake = Lake(spark, args.warehouse, bucket_size=args.bucket_size, modules=modules)

    if args.fixture:
        provider = FixtureBlockProvider(n_blocks=args.fixture)
    else:
        # live chain: WS JSON-RPC transport with the reference's connect
        # policy (S1); --url overrides the named network's endpoint
        from .sources.ws import make_provider

        provider = make_provider(args.network, url=args.url or None,
                                 chunk_size=args.chunk_size)
    watch = parse_watch_tokens(args.watch_tokens.split(",") if args.watch_tokens else [],
                               provider.network_id())
    contracts = tuple(sorted(set().union(*watch.values()))) if watch else ()

    n = run_with_retry(
        lambda: backfill(spark, lake, provider, contracts, chunk_size=args.chunk_size),
        lake,
    )
    print(f"backfilled {n} blocks; tip={lake.latest_block_number()}")

    # K9 — reference export.rs:30-37: -r/--retention-duration (0 = keep
    # forever) with a cleanup sweep every -c/--cleanup-interval seconds.
    # While tailing the sweeps run on a background scheduler; for a one-shot
    # backfill a single sweep at the end is the whole schedule.
    stop_retention = None
    if args.retention_duration > 0:
        if args.tail:
            stop_retention = start_retention_scheduler(
                lake, args.retention_duration, args.cleanup_interval
            )
        else:
            lake.retention_cleanup(int(time.time()) - args.retention_duration)

    if args.tail:
        from .streaming.tail import start_tail

        # Live provider → the poller bridges the new-heads subscription
        # into the tail's drop directory (reference etl.rs:126-176 runs
        # subscription→fetch→ETL in one loop; see streaming/poller.py for
        # why the handoff goes through files). Fixture/offline runs leave
        # the drop dir externally fed and drain it available-now.
        poller = None
        if isinstance(provider, RpcBlockProvider):
            from .streaming.poller import HeadPoller

            poller = HeadPoller(spark, provider, lake, args.tail).start()
        q = start_tail(spark, lake, args.tail, args.checkpoint, contracts,
                       getattr(provider, "receipts_for", None),
                       trigger_interval="10 seconds" if poller else None)
        # try/finally: Ctrl-C is the NORMAL way a tail run ends, and a
        # dying stream raises out of awaitTermination — either way the
        # poller must stop fetching (it would keep writing drops and
        # holding the WS socket) and the retention scheduler must stop
        # sweeping (both are daemons, so this is orderly-shutdown
        # hygiene, not a hang fix).
        try:
            q.awaitTermination()
        finally:
            if poller is not None:
                poller.stop()
            if stop_retention is not None:
                stop_retention()
    return 0


def cmd_view(args: argparse.Namespace) -> int:
    spark = get_spark(app_name="core_etl_view")
    lake = Lake(spark, args.warehouse)
    if args.entity == "block":
        if args.number is not None:
            _show(lake.block_by_number(args.number))
        elif args.hash:
            _show(Q.block_by_hash(lake.blocks(), args.hash))
        else:
            _show(Q.latest_block_number(lake.blocks(), lake.transactions(),
                                        lake.token_transfers()))
    elif args.entity == "transactions":
        if args.block is not None:
            _show(lake.block_transactions(args.block))
        elif args.hash:
            _show(Q.transaction_by_hash(lake.transactions(), args.hash))
        else:
            raise SystemExit("transactions view needs --block or --hash")
    elif args.entity == "token-transfers":
        # a missing --token would filter on NULL and print an empty table
        # with no signal — same argument contract as the transactions view
        if not args.token:
            raise SystemExit("token-transfers view needs --token")
        _show(Q.token_transfers_by_token(lake.token_transfers(), args.token,
                                         args.from_addr, args.to_addr))
    elif args.entity == "address-transfers":
        if not args.address:
            raise SystemExit("address-transfers view needs --address")
        _show(Q.transfers_by_address(lake.token_transfers(), args.address,
                                     args.direction))
    return 0


def cmd_similarity(args: argparse.Namespace) -> int:
    """ANN search over an embeddings table — the user-facing entry point
    for the similarity surface (brute-force / LSH / IVF, with
    ``--centroids kmeans`` selecting data-adaptive IVF cells instead of
    the deterministic first-K default)."""
    from pyspark.sql import functions as F

    from .operators import similarity as S

    spark = get_spark(app_name="core_etl_similarity")
    emb = spark.read.parquet(args.embeddings)
    if args.build_index:
        cents = None
        if args.centroids == "kmeans":
            cents = S.kmeans_centroids(
                emb, n_centroids=args.n_centroids, vec_col=args.vec_col,
                sample_fraction=args.sample_fraction,
            )
        if args.pq:
            S.write_ivfpq_index(emb, args.build_index,
                                n_centroids=args.n_centroids,
                                vec_col=args.vec_col, id_col=args.id_col,
                                centroids=cents)
            print(f"wrote IVF-PQ index: {args.build_index}")
        else:
            S.write_ivf_index(emb, args.build_index,
                              n_centroids=args.n_centroids,
                              vec_col=args.vec_col, id_col=args.id_col,
                              centroids=cents)
            print(f"wrote IVF index: {args.build_index}")
        return 0
    queries = emb.filter(F.col(args.id_col) < args.n_queries)
    if args.index and args.pq:
        out = S.ivfpq_index_topk(spark, args.index, queries, k=args.k,
                                 nprobe=args.nprobe, vec_col=args.vec_col,
                                 id_col=args.id_col)
    elif args.index:
        out = S.ivf_index_topk(spark, args.index, queries, k=args.k,
                               nprobe=args.nprobe, vec_col=args.vec_col,
                               id_col=args.id_col)
    elif args.method == "exact":
        out = S.brute_force_topk(emb, queries, k=args.k,
                                 vec_col=args.vec_col, id_col=args.id_col,
                                 dim=args.dim)
    elif args.method == "lsh":
        out = S.lsh_ann_topk(emb, queries, k=args.k,
                             vec_col=args.vec_col, id_col=args.id_col,
                             **({"dim": args.dim} if args.dim else {}))
    else:  # ivf
        cents = None
        if args.centroids == "kmeans":
            cents = S.kmeans_centroids(
                emb, n_centroids=args.n_centroids, vec_col=args.vec_col,
                sample_fraction=args.sample_fraction,
            )
        out = S.ivf_ann_topk(emb, queries, k=args.k,
                             n_centroids=args.n_centroids, nprobe=args.nprobe,
                             vec_col=args.vec_col, id_col=args.id_col,
                             centroids=cents, dim=args.dim)
    _show(out.orderBy("query_id", "rank"), args.n_queries * args.k)
    return 0


def cmd_media(args: argparse.Namespace) -> int:
    """Multimodal pipeline entry points over a media parquet (binary
    payload + kind columns): feature extraction, resize, and perceptual
    dedup. ``--synthetic N`` runs against the deterministic fake-codec
    fixture instead of a parquet path."""
    from pyspark.sql import functions as F

    from .operators import multimodal as M

    spark = get_spark(app_name="core_etl_media")
    if args.synthetic:
        media = M.synthetic_media(spark, n_per_kind=args.synthetic)
    elif args.media:
        media = spark.read.parquet(args.media)
    else:
        raise SystemExit("media requires --media <parquet> or --synthetic N")
    # --quarantine-out upgrades skip to quarantine mode: ONE decode pass
    # emits features + the error rows; skip alone drops bad rows silently.
    quarantine = bool(args.quarantine_out)
    if quarantine and not args.skip_errors:
        raise SystemExit("--quarantine-out requires --skip-errors")
    if quarantine and args.action == "errors":
        # `errors` IS the quarantine-side audit already — its output has no
        # decode_error column to split on (ADVICE r13: quarantine_split
        # raised AnalysisException here).
        raise SystemExit(
            "--quarantine-out is redundant with the errors action: "
            "use --out to write the error table"
        )
    on_error = (
        "quarantine" if quarantine else ("skip" if args.skip_errors else "fail")
    )
    if args.action == "features":
        out = M.image_features(media, on_error=on_error).withColumn(
            "histogram",
            F.array_join(F.transform("histogram", lambda x: x.cast("string")), ","),
        )
    elif args.action == "resize":
        out = M.resize_images(
            media, args.width, args.height, on_error=on_error
        ).select(
            "media_id", "width", "height",
            F.length("payload").alias("payload_bytes"),
            *(["decode_error"] if quarantine else []),
        )
    elif args.action == "errors":
        # the standalone audit: which payloads the decoders reject, and
        # why — decode-only, when no features are wanted alongside
        out = M.media_decode_errors(media)
    elif args.action == "dedup" and quarantine:
        # hash once in quarantine mode, split, group the survivors — the
        # quarantine rows come out of the SAME hash pass
        out = M.image_ahash(media, on_error="quarantine")
    else:  # dedup
        out = M.image_dedup_groups(media, on_error=on_error)
    if quarantine:
        # one decode pass for BOTH outputs: persist the combined frame,
        # split by the nullable decode_error column, write each side.
        out = out.persist()
        try:
            good, bad = M.quarantine_split(out)
            if args.action == "dedup":
                good = good.groupBy("ahash").agg(
                    F.count("*").alias("n_images"),
                    F.min("media_id").alias("keeper"),
                )
            bad.write.mode("overwrite").parquet(args.quarantine_out)
            if args.out:
                good.write.mode("overwrite").parquet(args.out)
                print(f"wrote {args.out} (+ quarantine {args.quarantine_out})")
            else:
                print(f"wrote quarantine {args.quarantine_out}")
                _show(good)
        finally:
            out.unpersist()
    elif args.out:
        out.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    else:
        _show(out)
    return 0


def cmd_corpus(args: argparse.Namespace) -> int:
    """Training-corpus pipeline entry points over a documents parquet:
    dedup-aware prep report, decontamination against a benchmark set,
    deterministic splits, and sequence packing. Each action is one
    declarative plan; ``--out`` writes parquet instead of printing."""
    from pyspark.sql import functions as F

    from .operators import dedup as D
    from .operators.packing import pack_sequences
    from .operators.sampling import deterministic_split

    spark = get_spark(app_name="core_etl_corpus")
    docs = spark.read.parquet(args.documents)
    if args.action == "prep":
        stats = docs.select(
            "doc_id", "text", "lang",
            F.size(F.split("text", " ")).alias("n_words"),
            F.size(F.array_distinct(F.split("text", " "))).alias("n_distinct"),
        )
        quality = stats.filter(
            (F.col("n_words") >= args.min_words)
            & (F.col("n_distinct") / F.col("n_words") >= args.min_diversity)
        )
        survivors = D.exact_dedup(quality, "text", "doc_id")
        if args.build_index:
            # close the build-once/probe-many loop: the prepped corpus's
            # embeddings (vec_id == doc_id) go straight into a persisted
            # IVF index, so retrieval over the cleaned corpus needs no
            # second pass (VERDICT r05 stretch #8)
            from .operators import similarity as S

            emb = spark.read.parquet(args.embeddings)
            keep = survivors.select(F.col("doc_id").alias("vec_id"))
            S.write_ivf_index(
                emb.join(keep, "vec_id", "left_semi"),
                args.build_index,
                n_centroids=args.n_centroids,
            )
            print(f"wrote IVF index: {args.build_index}")
        out = survivors.groupBy("lang").agg(
            F.count("*").alias("n_docs"), F.sum("n_words").alias("total_tokens")
        )
    elif args.action == "decontaminate":
        bench = spark.read.parquet(args.benchmark)
        out = D.decontaminate(docs, bench, threshold=args.threshold)
        if args.drop:  # emit the clean corpus instead of the report
            keep = out.filter(~F.col("contaminated")).select("doc_id")
            out = docs.join(keep, "doc_id", "left_semi")
    elif args.action == "index":
        # persist the fuzzy-dedup index (bands + shingles) of an admitted
        # corpus; later `corpus dedup --dedup-index` calls probe it at
        # batch-proportional cost
        D.write_dedup_index(docs, args.dedup_index)
        print(f"wrote dedup index: {args.dedup_index}")
        return 0
    elif args.action == "chunk":
        from .operators.packing import chunk_documents

        out = chunk_documents(docs, chunk_len=args.chunk_len, stride=args.stride)
    elif args.action == "shard":
        from .operators.sampling import shuffle_shards

        out = shuffle_shards(docs, n_shards=args.n_shards, salt=args.salt).select(
            "doc_id", "shard", "pos"
        )
    elif args.action == "quality":
        from .operators import text as X

        out = X.gopher_quality(docs)
        if args.drop:  # emit the passing corpus instead of the report
            keep = out.filter(F.col("pass_gopher")).select("doc_id")
            out = docs.join(keep, "doc_id", "left_semi")
    elif args.action == "dedup":
        # full near-dup path: candidate pairs -> connected components ->
        # keep one doc per component (star variant: diameter-proof).
        # Unlike the oracle-matching specs, the CLI is a production entry
        # point, so BOTH skew valves default ON: one hot boilerplate
        # shingle (or prefix block) is all it takes to turn the candidate
        # self-join quadratic at the scale this command advertises
        # (ADVICE r05 / VERDICT r05 watch item).
        if args.dedup_index:
            # incremental: pairs touching --documents (the new crawl)
            # against everything already in the index. Drop policy differs
            # from the batch path: HISTORY IS CANONICAL — a new doc that
            # near-dups ANY indexed doc drops regardless of id order
            # (the old copy is already admitted/trained on); within the
            # batch itself, the usual min-id-per-component survives.
            pairs = (
                D.incremental_dedup_pairs(
                    spark, docs, args.dedup_index, threshold=args.threshold_jaccard
                )
                .select("id_a", "id_b")
                .localCheckpoint(eager=False)
            )
            batch_a = docs.select(F.col("doc_id").alias("id_a")).distinct()
            batch_b = docs.select(F.col("doc_id").alias("id_b")).distinct()
            vs_hist = (
                pairs.join(batch_a, "id_a", "left_anti")  # id_a is history
                .select(F.col("id_b").alias("doc_id"))
                .union(
                    pairs.join(batch_b, "id_b", "left_anti")  # id_b is history
                    .select(F.col("id_a").alias("doc_id"))
                )
            )
            within = (
                pairs.join(batch_a, "id_a", "left_semi")
                .join(batch_b, "id_b", "left_semi")
                .localCheckpoint(eager=False)
            )
            comp = D.neardup_components_star(within)
            drop = vs_hist.union(
                comp.filter(F.col("doc_id") != F.col("component")).select("doc_id")
            ).distinct()
        else:
            if args.method == "editdist":
                pairs = D.editdist_pairs(
                    docs, max_dist=args.max_dist,
                    max_block_df=args.max_block_df or None,
                )
            else:
                pairs = D.jaccard_pairs(
                    docs,
                    threshold=args.threshold_jaccard,
                    max_shingle_df=args.max_shingle_df or None,
                    max_tokens=args.max_doc_tokens or None,
                )
            pairs = pairs.select("id_a", "id_b").localCheckpoint(eager=False)
            if args.keep == "best":
                # canonical election: the highest-quality member of each
                # near-dup cluster survives (n_chars, or text length when
                # the corpus lacks the column), not the arbitrary min-id
                scored = (
                    docs
                    if "n_chars" in docs.columns
                    else docs.withColumn("n_chars", F.length("text").cast("long"))
                )
                elected = D.keep_canonical(scored, pairs, quality_col="n_chars")
                drop = elected.filter(~F.col("is_canonical")).select("doc_id")
            else:
                comp = D.neardup_components_star(pairs)
                drop = comp.filter(
                    F.col("doc_id") != F.col("component")
                ).select("doc_id")
        out = docs.join(drop, "doc_id", "left_anti")
    elif args.action == "excise":
        # substring-level dedup: cut cross-document duplicated spans out
        # of each doc instead of dropping whole docs
        out = D.excise_duplicated_spans(
            docs, n=args.span_ngram, min_docs=args.span_min_docs
        )
        if args.drop:  # emit the corpus with cleaned text in place
            out = (
                docs.join(out.select("doc_id", "cleaned_text"), "doc_id")
                .drop("text")
                .withColumnRenamed("cleaned_text", "text")
            )
    elif args.action == "mix":
        from .operators.sampling import mixture_rebalance, temperature_sample

        if args.mix_targets:
            targets = {}
            for part in args.mix_targets.split(","):
                name, w = part.split("=", 1)
                targets[name] = int(w)
            out, thresholds = mixture_rebalance(
                docs, targets, strata_col=args.group_col
            )
        else:
            out, thresholds = temperature_sample(
                docs, strata_col=args.group_col, alpha=args.alpha
            )
        for s_name, thr in sorted(thresholds.items()):
            print(f"mix rate {s_name}: {thr / 16**8:.4f}")
    elif args.action == "diff":
        from .operators.maintenance import snapshot_diff

        if not args.old:
            raise SystemExit("corpus diff requires --old <previous documents parquet>")
        old = spark.read.parquet(args.old)
        out = snapshot_diff(old, docs)
        if not args.out:
            # print the per-status tally, then fall through to the row dump
            for r in out.groupBy("status").count().orderBy("status").collect():
                print(f"diff {r['status']}: {r['count']}")
    elif args.action == "profile":
        from .operators.verify import profile_columns

        cols = [c for c in args.profile_cols.split(",") if c]
        out = profile_columns(docs, cols)
    elif args.action == "bpe":
        from .operators.text import bpe_merges, bpe_token_counts

        if args.tokenize:
            out = bpe_token_counts(docs, n_merges=args.n_merges)
        else:
            out = bpe_merges(docs, n_merges=args.n_merges)
    elif args.action == "split":
        weights = {}
        for part in args.weights.split(","):
            name, frac = part.split("=", 1)
            weights[name] = float(frac)
        out = deterministic_split(docs, weights).select("doc_id", "lang", "split")
    else:  # pack
        out = pack_sequences(docs, ctx_len=args.ctx_len, group_col=args.group_col)
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    else:
        _show(out)
    return 0


def cmd_verify(args: argparse.Namespace) -> int:
    spark = get_spark(app_name="core_etl_verify")
    lake = Lake(spark, args.warehouse)
    blocks = (lake.blocks_in_range(args.from_block) if args.from_block is not None
              else lake.blocks())
    gaps = V.sequence_gaps_scalable(blocks)
    n = gaps.count()
    if n:
        print(f"FOUND {n} gap(s):")
        _show(gaps)
        return 1
    # V2 extension (ADVICE r15): NULL-hash blocks can never anchor a
    # parent-hash check and no automatic path re-delivers them — surface
    # them here; pipeline.repair_unverifiable_blocks is the repair.
    unv = V.unverifiable_blocks(blocks)
    n = unv.count()
    if n:
        print(f"FOUND {n} unverifiable (NULL-hash) block(s):")
        _show(unv)
        return 1
    tip = lake.latest_block_number()
    print(f"blocks contiguous; tip={tip}")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="core-etl-spark")
    p.add_argument("--warehouse", default="./warehouse")
    sub = p.add_subparsers(dest="cmd", required=True)

    e = sub.add_parser("export", help="backfill (+ optional streaming tail)")
    e.add_argument("--fixture", type=int, default=0,
                   help="use the deterministic fixture chain with N blocks")
    e.add_argument("--network", default="mainnet",
                   help="named chain to export from (reference -n flag); "
                        "ignored with --fixture")
    e.add_argument("--url", default="",
                   help="explicit ws:// RPC endpoint (overrides --network)")
    e.add_argument("--watch-tokens", default="",
                   help="comma list of type:address (reference -t flag)")
    e.add_argument("--modules", default="",
                   help="comma subset of blocks,transactions,token_transfers")
    e.add_argument("--chunk-size", type=int, default=100_000)
    e.add_argument("--bucket-size", type=int, default=None,
                   help="heights per block_bucket partition; defaults to the "
                        "size the warehouse recorded, else 100000")
    e.add_argument("--tail", default="", help="dir of streamed raw-block drops")
    e.add_argument("--checkpoint", default="./checkpoint")
    e.add_argument("-r", "--retention-duration", type=int, default=0,
                   help="seconds of data to retain; 0 keeps everything "
                        "(reference -r, export.rs:30-32)")
    e.add_argument("-c", "--cleanup-interval", type=float, default=3600.0,
                   help="seconds between retention sweeps while tailing "
                        "(reference -c, export.rs:34-37)")
    e.set_defaults(fn=cmd_export)

    v = sub.add_parser("view", help="query the lake")
    v.add_argument("entity", choices=["block", "transactions", "token-transfers",
                                      "address-transfers"])
    v.add_argument("--number", type=int)
    v.add_argument("--block", type=int)
    v.add_argument("--hash")
    v.add_argument("--token")
    v.add_argument("--from", dest="from_addr")
    v.add_argument("--to", dest="to_addr")
    v.add_argument("--address")
    v.add_argument("--direction", default="all", choices=["all", "to", "from"])
    v.set_defaults(fn=cmd_view)

    g = sub.add_parser("verify", help="data-quality checks")
    g.add_argument("entity", choices=["blocks"])
    g.add_argument("--from-block", type=int, default=None)
    g.set_defaults(fn=cmd_verify)

    s = sub.add_parser("similarity", help="ANN search over an embeddings table")
    s.add_argument("--embeddings", required=True,
                   help="parquet path with (id, array<float>) columns")
    s.add_argument("--method", default="ivf", choices=["exact", "lsh", "ivf"])
    s.add_argument("--centroids", default="firstk", choices=["firstk", "kmeans"],
                   help="IVF cell source: deterministic first-K vectors or "
                        "KMeans-trained (production)")
    s.add_argument("--k", type=int, default=5)
    s.add_argument("--n-queries", type=int, default=10,
                   help="use vectors with id < N as the query set")
    s.add_argument("--n-centroids", type=int, default=16)
    s.add_argument("--nprobe", type=int, default=3)
    s.add_argument("--sample-fraction", type=float, default=None,
                   help="KMeans training sample (None = full table)")
    s.add_argument("--vec-col", default="embedding")
    s.add_argument("--id-col", default="vec_id")
    s.add_argument("--dim", type=int, default=None,
                   help="declared embedding dimension: skips the one-job "
                        "modal-dimension inference the validity gate "
                        "otherwise runs (production callers know their dim)")
    s.add_argument("--build-index", default="",
                   help="build a persisted IVF index at this path and exit")
    s.add_argument("--index", default="",
                   help="query a persisted IVF index instead of building cells")
    s.add_argument("--pq", action="store_true",
                   help="with --build-index/--index: compressed IVF-PQ lists "
                        "(m codes per vector, ADC scoring) instead of raw "
                        "vectors")
    s.set_defaults(fn=cmd_similarity)

    m = sub.add_parser("media", help="multimodal pipeline over a binary media table")
    m.add_argument("action", choices=["features", "resize", "dedup", "errors"])
    m.add_argument("--media", default="", help="media parquet path")
    m.add_argument("--synthetic", type=int, default=0,
                   help="use the deterministic fake-codec fixture (N per kind)")
    m.add_argument("--out", default="", help="write parquet here instead of printing")
    m.add_argument("--width", type=int, default=4, help="resize: output width")
    m.add_argument("--height", type=int, default=4, help="resize: output height")
    m.add_argument("--skip-errors", action="store_true",
                   help="drop malformed payloads instead of failing the "
                        "job (add --quarantine-out to keep them)")
    m.add_argument("--quarantine-out", default="",
                   help="with --skip-errors: write the quarantined rows "
                        "(media_id, error) to this parquet path, produced "
                        "by the SAME decode pass as the main output")
    m.set_defaults(fn=cmd_media)

    c = sub.add_parser("corpus", help="training-corpus pipeline over documents")
    c.add_argument("action",
                   choices=["prep", "dedup", "decontaminate", "split", "pack",
                            "index", "chunk", "shard", "quality", "excise",
                            "mix", "diff", "profile", "bpe"])
    c.add_argument("--documents", required=True, help="documents parquet path")
    c.add_argument("--out", default="", help="write parquet here instead of printing")
    c.add_argument("--min-words", type=int, default=20)
    c.add_argument("--min-diversity", type=float, default=0.4)
    c.add_argument("--benchmark", default="", help="benchmark parquet (decontaminate)")
    c.add_argument("--threshold", type=float, default=0.2)
    c.add_argument("--threshold-jaccard", type=float, default=0.5,
                   help="dedup: near-dup pair threshold")
    c.add_argument("--method", default="jaccard", choices=["jaccard", "editdist"],
                   help="dedup: candidate-pair generator")
    c.add_argument("--max-shingle-df", type=int, default=64,
                   help="dedup(jaccard): drop shingles appearing in more docs "
                        "than this before the self-join (0 disables the valve)")
    c.add_argument("--max-doc-tokens", type=int, default=0,
                   help="dedup(jaccard): shingle only each doc's first N "
                        "tokens — the pathological-document valve (one "
                        "100M-token log-spam doc is otherwise a single-task "
                        "straggler; 0 = uncapped)")
    c.add_argument("--max-dist", type=int, default=20,
                   help="dedup(editdist): Levenshtein budget")
    c.add_argument("--max-block-df", type=int, default=256,
                   help="dedup(editdist): exclude prefix blocks larger than "
                        "this (0 disables the valve)")
    c.add_argument("--drop", action="store_true",
                   help="decontaminate: emit the clean corpus, not the report")
    c.add_argument("--weights", default="train=0.9,val=0.05,test=0.05")
    c.add_argument("--ctx-len", type=int, default=512)
    c.add_argument("--group-col", default="lang")
    c.add_argument("--embeddings", default="",
                   help="prep: embeddings parquet (vec_id == doc_id) for "
                        "--build-index")
    c.add_argument("--build-index", default="",
                   help="prep: also write a persisted IVF index of the "
                        "prepped corpus's embeddings at this path")
    c.add_argument("--n-centroids", type=int, default=16)
    c.add_argument("--dedup-index", default="",
                   help="index: write the fuzzy-dedup index here; "
                        "dedup: probe it incrementally (pairs touching "
                        "--documents only — the daily-crawl loop)")
    c.add_argument("--chunk-len", type=int, default=64,
                   help="chunk: window length in tokens")
    c.add_argument("--stride", type=int, default=48,
                   help="chunk: window start spacing (overlap = len - stride)")
    c.add_argument("--n-shards", type=int, default=8, help="shard: output shards")
    c.add_argument("--salt", default="ep0", help="shard: epoch seed")
    c.add_argument("--keep", default="min-id", choices=["min-id", "best"],
                   help="dedup (batch): which member of a near-dup cluster "
                        "survives — the min doc_id, or the highest-quality "
                        "doc (n_chars)")
    c.add_argument("--span-ngram", type=int, default=8,
                   help="excise: span n-gram width in tokens")
    c.add_argument("--span-min-docs", type=int, default=2,
                   help="excise: n-gram must appear in at least this many docs")
    c.add_argument("--mix-targets", default="",
                   help="mix: explicit integer weights 'en=4,de=2,...'; empty "
                        "uses temperature flattening at --alpha")
    c.add_argument("--alpha", type=float, default=0.5,
                   help="mix: temperature exponent (0.5 = sqrt flattening)")
    c.add_argument("--old", default="",
                   help="diff: the previous corpus snapshot parquet")
    c.add_argument("--profile-cols", default="lang,source,text",
                   help="profile: comma-separated columns to profile")
    c.add_argument("--n-merges", type=int, default=6,
                   help="bpe: number of merge rounds to learn")
    c.add_argument("--tokenize", action="store_true",
                   help="bpe: emit per-doc token counts under the trained "
                        "tokenizer instead of the merge table")
    c.set_defaults(fn=cmd_corpus)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
