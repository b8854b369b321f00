"""Maintenance semantics as pure DataFrame transforms — the logic half of
the lake's mutations (K6/K10), separated so it can be differential-tested
against a SQL oracle without a physical warehouse. :class:`~core_etl_spark.
lake.Lake` composes these with partition-scoped rewrites.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, functions as F

MATURITY_DEPTH = 5  # reference etl.rs:171,253


def with_maturity(blocks: DataFrame, depth: int = MATURITY_DEPTH) -> DataFrame:
    """K6 — ``matured`` recomputed against the current tip: ``number <=
    max(number) - depth`` (the reference mutates rows in place at
    sqlite3.rs:213-228; recompute can't go stale). The tip aggregate
    broadcasts into a projection — no per-row shuffle."""
    tip = blocks.agg(F.max("number").alias("_tip"))
    return (
        blocks.crossJoin(F.broadcast(tip))
        .withColumn(
            "matured",
            (F.col("number") <= F.col("_tip") - F.lit(depth)).cast("long"),
        )
        .drop("_tip")
    )


def detect_reorgs(stored_blocks: DataFrame, incoming_headers: DataFrame) -> DataFrame:
    """K10 — stored heights invalidated by an incoming header batch
    (replaces the reference's insert-PK-conflict signal, etl.rs:147-169).

    Two signals: a same-height hash conflict (the literal PK-conflict
    analogue) and a parent-hash mismatch at ``number - 1`` (the stored
    parent is on a dead branch). One column out: ``forked_number``.

    The two signals carry DIFFERENT null semantics, because they differ in
    repairability (r15, found by scripts/dirty_chain_soak.py at nb=3000):

    - **same-height**: null-safe IS-DISTINCT-FROM (r14 chain-corruption
      audit) — with plain ``!=`` a NULL hash on either side makes the
      predicate NULL and the row silently DROPS, missing a reorg exactly
      where vigilance matters most. Flagging on NULL is SAFE here: the
      incoming batch by definition carries that height, so after the
      truncate the replacement row re-ingests in the same batch — a
      corrupt stored hash self-heals, no data can be lost.
    - **parent-mismatch**: requires a DEFINITE disagreement (both hashes
      non-null and different). The flagged height (``number - 1``) is
      usually NOT carried by the incoming batch, so truncating it cannot
      self-heal in-batch — it must be re-fetched. A NULL stored hash at
      the parent height is *unknowable*, not *disagreeing*: flagging it
      (the r14 behavior) let one dirty NULL-hash block sitting at a
      micro-batch boundary truncate real data the stream could never
      restore. Unknowable parents are left alone; if the chain truly
      forked there, the same-height signal fires as soon as any batch
      re-delivers that height with a definite hash.

      The alternative — keep flag-on-NULL and rely on the tail's
      contiguity guard to freeze the tip until backfill re-fetches — is
      loss-free but not LIVE: a node that persistently returns a NULL
      hash for one height (the dirty fixture does, ``num % 17 == 3``)
      re-fetches to NULL again, the next batch re-flags it, and the
      truncate/refetch cycle stalls the stream at that height forever.
      The residual trade accepted here: a genuine dead-branch block
      whose stored hash is NULL goes undetected until some delivery
      carries that height again; progress under permanently-dirty data
      wins over detection of an unverifiable corner (r15 review)."""
    stored = stored_blocks.select(
        F.col("number").alias("_s_number"), F.col("hash").alias("_s_hash")
    )
    inc = incoming_headers.select("number", "hash", "parent_hash")
    same_height = (
        inc.join(stored, inc["number"] == stored["_s_number"])
        .filter(~F.col("hash").eqNullSafe(F.col("_s_hash")))
        .select(F.col("_s_number").alias("forked_number"))
    )
    parent_mismatch = (
        inc.join(stored, inc["number"] - 1 == stored["_s_number"])
        .filter(
            F.col("parent_hash").isNotNull()
            & F.col("_s_hash").isNotNull()
            & (F.col("parent_hash") != F.col("_s_hash"))
        )
        .select(F.col("_s_number").alias("forked_number"))
    )
    return same_height.unionByName(parent_mismatch).distinct()


def forked_heights(
    stored: Iterable[tuple[int | None, str | None]],
    incoming: Iterable[tuple[int | None, str | None, str | None]],
) -> set[int]:
    """:func:`detect_reorgs` over driver-side rows, for callers that
    already hold the headers (the streaming tail collects one micro-batch's
    headers and the stored ``(number, hash)`` pairs at those heights and
    their parents). ``stored`` is ``(number, hash)`` pairs, ``incoming``
    ``(number, hash, parent_hash)`` triples; returns the ``forked_number``
    set. Same two signals, same NULL semantics: the same-height check is
    IS DISTINCT FROM (Python ``!=`` treats ``None`` that way), the parent
    check needs both hashes non-NULL, and a NULL height matches nothing.
    ``test_forked_heights_matches_detect_reorgs`` pins the equivalence."""
    by_number: dict[int, list[str | None]] = {}
    for number, h in stored:
        if number is not None:
            by_number.setdefault(number, []).append(h)
    out: set[int] = set()
    for number, h, parent in incoming:
        if number is None:
            continue
        if any(h != s for s in by_number.get(number, ())):
            out.add(number)
        if parent is not None and any(
            s is not None and s != parent for s in by_number.get(number - 1, ())
        ):
            out.add(number - 1)
    return out


def incremental_agg_merge(
    prev_agg: DataFrame,
    batch_agg: DataFrame,
    keys: tuple[str, ...],
    count_col: str = "n_events",
    sum_col: str = "total_v",
) -> DataFrame:
    """Incremental aggregate maintenance — merge a new micro-batch's
    partial aggregate into the stored aggregate table, the streaming-table
    pattern every continuously-maintained rollup needs: the corpus is
    NEVER rescanned; each refresh touches only the (key-sized) aggregate
    state and the new batch.

    Both inputs carry ``keys + count_col + sum_col`` (sums kept as exact
    decimals so merge order can't change a cent). The merge is a
    full-outer NULL-SAFE equi-join on the keys (``<=>``): GROUP BY puts
    all NULL keys in one group, so the merge must match NULL keys too —
    a plain equi-join would split each NULL-key group into two rows and
    break merged == full-recompute the moment a key column has nulls
    (r13 adversarial-data audit; a real event stream has them). One
    shuffle proportional to the DISTINCT KEY COUNT, not the row count;
    at 100 TB the aggregate table is the small side and the refresh cost
    tracks batch size. The proof obligation (spec k12) is
    merged(prior, batch) == full recompute."""
    p, b = prev_agg.alias("p"), batch_agg.alias("b")
    zero = F.lit(0)
    cond = None
    for k in keys:
        c = F.col(f"p.{k}").eqNullSafe(F.col(f"b.{k}"))
        cond = c if cond is None else (cond & c)
    return p.join(b, on=cond, how="full_outer").select(
        *[F.coalesce(F.col(f"p.{k}"), F.col(f"b.{k}")).alias(k) for k in keys],
        (
            F.coalesce(F.col(f"p.{count_col}"), zero)
            + F.coalesce(F.col(f"b.{count_col}"), zero)
        ).alias(count_col),
        (
            F.coalesce(F.col(f"p.{sum_col}"), zero.cast("decimal(18,2)"))
            + F.coalesce(F.col(f"b.{sum_col}"), zero.cast("decimal(18,2)"))
        ).cast("decimal(18,2)").alias(sum_col),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "doc_id",
    payload_col: str = "text",
) -> DataFrame:
    """Corpus snapshot diff — classify every key across two table versions
    as ``added`` / ``removed`` / ``changed`` / ``same`` by payload
    fingerprint. The crawl-over-crawl audit step: what did this refresh
    actually touch, before the expensive dedup/clean stages rerun.

    One full-outer equi-join on the key with md5 fingerprints computed in
    the scan (no payload comparison shuffle — 32-byte hashes travel, not
    documents). At 100 TB both sides hash-partition on the key; AQE
    handles the skew-free merge.

    Presence is tracked with explicit flags, never fingerprint nullness:
    ``md5(NULL)`` is NULL, so a key present with a NULL payload would
    otherwise be misread as absent (ADVICE r06). Fingerprints compare
    null-safely — NULL payload vs NULL payload is ``same``, NULL vs
    anything else is ``changed``."""
    o = old.select(
        F.col(key_col),
        F.lit(True).alias("_in_old"),
        F.md5(F.col(payload_col)).alias("_fp_old"),
    )
    n = new.select(
        F.col(key_col),
        F.lit(True).alias("_in_new"),
        F.md5(F.col(payload_col)).alias("_fp_new"),
    )
    return (
        o.join(n, key_col, "full_outer")
        .select(
            key_col,
            F.when(F.col("_in_old").isNull(), F.lit("added"))
            .when(F.col("_in_new").isNull(), F.lit("removed"))
            .when(~F.col("_fp_old").eqNullSafe(F.col("_fp_new")), F.lit("changed"))
            .otherwise(F.lit("same"))
            .alias("status"),
        )
    )


def incremental_join_append(
    stored: DataFrame, batch: DataFrame, dim: DataFrame, key: str
) -> DataFrame:
    """Incremental maintenance of a denormalized (fact ⋈ dim) table for
    append-only facts: join ONLY the new batch against the dimension and
    union it onto the stored result — refresh cost tracks the batch, the
    stored table is never re-joined or re-scanned beyond the append.
    Correct while the dimension is stable between refreshes (a dim
    change requires re-joining affected keys — the k12 merge pattern);
    the spec's oracle proves equality with the from-scratch join."""
    return stored.unionByName(batch.join(dim, key))
