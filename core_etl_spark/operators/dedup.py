"""Deduplication operators for training-data pipelines, scale-first:

- **exact**: hash-groupBy on a canonical fingerprint — one shuffle on the
  hash, constant memory per group.
- **n-gram Jaccard**: shingle inverted index → candidate pairs sharing a
  shingle → exact Jaccard from distinct-shingle counts. The join is the
  scale risk (hot shingles fan out quadratically), so `jaccard_pairs`
  drops shingles above a document-frequency cap — the standard stop-shingle
  trick; at 100 TB you'd also band by shingle hash.
- **MinHash + LSH**: md5-derived minhash signatures (deterministic across
  engines), banded into LSH buckets; only bucket-collision pairs are
  verified with exact Jaccard. Cost is linear in corpus size + candidate
  pairs, the 100 TB path.
- **SimHash**: 16-bit signature from per-position majority vote over token
  md5s; equal signatures → near-dup buckets.

Everything is DataFrame-native (explode / groupBy / join); no Python UDFs.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window as W, functions as F
from pyspark.sql.functions import pandas_udf

from .text import tokens


def _materialize(df: DataFrame, mode: str = "eager") -> DataFrame:
    """Cut lineage + share one computation across plan branches of a
    multi-branch intermediate (the shingle index that feeds both self-join
    sides plus the size agg, LSH band tables, CC frontiers). ``mode``:

    - ``"eager"`` (the default) — ``localCheckpoint(eager=True)``:
      one dedicated driver job materializes the intermediate before any
      consumer plan is built, so the upstream pipeline provably runs
      exactly once. A lazy checkpoint saves that job, but under AQE two
      concurrently launched consumer stages can each recompute the
      upstream; eager is the race-free form (A/B tables in PROGRESS.md
      r09.1 for l06 and r10.1 for l18b, where eager wins in a session
      that has run the other dedup pipelines).
    - ``"disk"`` — ``persist(DISK_ONLY)``, for ``jaccard_pairs``' large
      shingle index (see ``DISK_STAGE_SOURCE_BYTES``).
    - ``"persist2"`` — ``persist(MEMORY_AND_DISK_2)``: 2×-replicated blocks
      that SURVIVE one executor loss where localCheckpoint's unreplicated
      blocks fail the job (measured, scripts/chaos_soak.py ckpt leg) — the
      mode for preemptible/spot fleets. Trades: doubled storage + a
      replication write, and the plan stays in the CacheManager until the
      DataFrame is garbage-collected.

    ``localCheckpoint`` rather than ``.cache()``: cached plans live in the
    CacheManager until an explicit unpersist (impossible for a lazily
    returned result), while checkpointed RDDs are reclaimed by the
    ContextCleaner as soon as the result DataFrame drops."""
    if mode not in ("eager", "persist2", "disk"):
        raise ValueError(f"unknown materialization mode {mode!r}")
    if mode == "persist2":
        from pyspark import StorageLevel

        return df.persist(StorageLevel.MEMORY_AND_DISK_2)
    if mode == "disk":
        from pyspark import StorageLevel

        return df.persist(StorageLevel.DISK_ONLY)
    return df.localCheckpoint(eager=True)


#: Source-size threshold above which `jaccard_pairs` stages its shingle
#: index to DISK_ONLY instead of localCheckpoint (VERDICT r15 directive
#: 2): at clean sf10 the eagerly-checkpointed ~2 GB index sat at the
#: 8g-heap edge on local[32] — checkpoint blocks fill the unified memory
#: region and compete with AQE broadcast builds. Disk staging frees that
#: region for the self-join's execution memory; the small case keeps the
#: faster in-memory checkpoint. The decision reads Catalyst's optimized-
#: plan size estimate of the INPUT (file bytes for parquet scans — zero
#: jobs); an unknown estimate (Catalyst's ~Long.Max default) keeps the
#: in-memory path, matching prior behavior. Calibration: compressed text
#: parquet expands ~50-100× into exploded (doc_id, shingle-hash) rows
#: (sf0.1's 0.6 MB file → ~40 MB index; the sf10 soak's ~60 MB estimate
#: → the measured ~2-4 GB), so 8 MB of source ≈ a ~0.5 GB index — past
#: that, memory blocks start to matter on an 8g local heap. On a real
#: cluster the checkpoint is distributed and executors are bigger; raise
#: this global when memory-staging larger indexes is measured to win.
DISK_STAGE_SOURCE_BYTES = 8 * 1024 * 1024
_STATS_UNKNOWN = 1 << 60


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate — free (no job). Returns -1
    when unavailable or when the estimate is the unknown-stats default."""
    try:
        # py4j hands java.math.BigInteger back as a Python int already
        n = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — sizing is advisory, never fatal
        return -1
    return n if 0 <= n < _STATS_UNKNOWN else -1


def ensure_parallelism(df: DataFrame, min_ratio: float = 0.5) -> DataFrame:
    """Repartition when the input has fewer partitions than the cluster has
    cores × ``min_ratio`` — compute-heavy per-row operators (hashing,
    shingling, signatures) otherwise run on a handful of tasks regardless of
    cluster size (a single small parquet file = a single task). At scale
    inputs already carry enough partitions and this is a no-op; the check
    costs one plan inspection, no job."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(1, int(target * min_ratio)):
        return df.repartition(target)
    return df


# --- exact -------------------------------------------------------------------

def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate groups: md5 fingerprint → (fp, keeper=min id, count)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper"), F.count("*").alias("n_copies"))
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row (min NON-NULL id) per distinct text — a
    ranked-window filter, one shuffle on the fingerprint.

    NULL-id rows are EXCLUDED (Rule 1, r16 NULL-primary-key sweep): the
    keeper choice is "min id", and a row without an id cannot be it —
    but Spark's ascending window sort puts NULLS FIRST, so a NULL-id row
    silently WON its fingerprint group (rank 1, nondeterministically
    among several NULL-id copies) while every SQL twin's ``min(id)``
    keeper dropped it — a live cross-engine divergence found by the
    dirty-corpus sweep's arm 8."""
    w = W.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    return (
        df.filter(F.col(id_col).isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# --- shingling ---------------------------------------------------------------

def doc_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_tokens: int | None = None,
) -> DataFrame:
    """(doc_id, shingles array) — distinct word n-gram shingles, one row per
    doc. Docs shorter than *n* tokens yield one partial shingle (all their
    tokens joined), matching SQL ``concat_ws`` null-dropping semantics.
    TOKENS ARE NON-EMPTY (r13): ``''`` fragments from leading/trailing/
    repeated separators are dropped before shingling, and a doc with NO
    real tokens — NULL text (r12), empty text, whitespace-only text —
    yields an EMPTY shingle array: it has no content to near-match, so it
    never becomes a candidate and the explode downstream drops it. Before
    r13 the adversarial-DATA parity sweep showed empty/whitespace docs
    fabricating degenerate ``''``/``' '`` shingles that pooled every
    blank doc in a corpus into one giant near-dup cluster (a real 100 TB
    corpus has millions of blank docs — that cluster is a pair-explosion
    DoS), and NULL docs diverging from the oracles' ``greatest(len-2,1)``
    arithmetic. exact_dedup still groups null/blank texts together, the
    one dedup where that means something.

    Implemented as an Arrow-batched pandas UDF *on purpose*: the pure-column
    formulation (``transform`` over a ``sequence`` with ``element_at``×n +
    ``concat_ws`` + ``array_distinct``) is a higher-order-function chain,
    which Spark evaluates **interpreted, not codegen'd** — measured ~8×
    slower than this UDF at sf0.1 (4.0 s vs 0.5 s warm for 260k shingles).
    The batch shape survives at 100 TB: one Arrow exchange per partition,
    Python cost linear in token count.

    ``max_tokens`` (r14, opt-in) is the pathological-document valve: per-doc
    cost is O(tokens) here and O(tokens × num_hashes) in the MinHash stage
    downstream, all inside ONE task — a 100 TB corpus carries concatenated
    logs and binary-as-text with 10^8 tokens, and one such row is a
    multi-minute straggler (measured: a single 10^6-token doc added ~60% to
    a 5k-doc MinHash run). Capping shingles docs to their first
    ``max_tokens`` tokens is the standard near-dup practice (a prefix this
    long identifies a duplicate as reliably as the full body); exact dedup
    (l01) still sees full texts. Default None = no behavior change."""

    @pandas_udf("array<string>")
    def _sh(texts: pd.Series) -> pd.Series:
        def sh(t: str | None) -> list[str]:
            if t is None:
                return []
            w = [x for x in t.split(" ") if x]
            if max_tokens is not None:
                w = w[:max_tokens]
            if not w:
                return []
            return list(dict.fromkeys(
                " ".join(w[i : i + n]) for i in range(max(len(w) - (n - 1), 1))
            ))

        return texts.map(sh)

    return ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"), _sh(text_col).alias("shingles")
    )


def shingle_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_tokens: int | None = None,
) -> DataFrame:
    """(id, shingle) inverted-index rows — the exploded form.
    ``max_tokens``: see :func:`doc_shingles` (pathological-doc valve)."""
    return doc_shingles(df, text_col, id_col, n, max_tokens=max_tokens).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )


# --- n-gram Jaccard ----------------------------------------------------------

def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    shingle_key: str = "string",
    max_tokens: int | None = None,
) -> DataFrame:
    """Candidate pairs sharing ≥1 shingle, scored with exact Jaccard and
    filtered to ``threshold``. ``max_shingle_df`` drops ubiquitous shingles
    before the self-join (skew control at scale).

    ``shingle_key="xxhash64"`` replaces the shingle string with its 64-bit
    JVM-native hash before the valve/self-join — the production choice: the
    shuffle carries 8-byte longs instead of ~(6·n)-byte strings, join
    comparisons are integer equality, and the result is identical unless
    two *distinct* shingles of the same corpus collide in 64 bits
    (expected collisions ≈ m²/2⁶⁵: ~3 corpus-wide at 10¹⁰ distinct
    shingles, each inflating a handful of pair intersections by 1 — never
    dropping a true pair). Keep the default string
    key where bit-exactness against an external oracle matters."""
    # Materialize: the shingle index feeds 3+ plan branches (both join sides
    # and the size agg); without materialization each branch re-runs the
    # tokenize→shingle→explode pipeline (measured 4× slower at sf0.1).
    # An eager checkpoint (_materialize): r07 switched to lazy on a
    # builder-host −16%, but the driver bench then regressed +33-44% two
    # rounds running — the concurrent-AQE-stage duplicated-computation race
    # in the lazy mode's worst case. The r09 A/B (table in PROGRESS.md
    # r09.1) settled on eager.
    sh = shingle_table(df, text_col, id_col, n, max_tokens=max_tokens)
    if shingle_key == "xxhash64":
        sh = sh.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    elif shingle_key != "string":
        raise ValueError(f"shingle_key must be string or xxhash64, got {shingle_key!r}")
    if max_shingle_df is not None:
        # Valve as a count-over-shingle window + filter: ONE pass in the
        # same pipeline (shuffle by shingle, count, filter), vs the r08
        # shape (checkpoint → groupBy agg → broadcast anti-join → second
        # checkpoint) which re-read the index twice and needed two
        # materializations. The window sorts by the partition key —
        # 8-byte longs on the xxhash64 path, radix-friendly; the
        # valve-filtered index is then checkpointed once for the three
        # consumer branches below.
        #
        # r17 RE-MEASURED AND KEPT (VERDICT r16 directive 4 asked for a
        # groupBy-count + anti-join shape — §2.3 "aggregate before you
        # shuffle"): implemented it (stage the raw index, hot set =
        # map-side-combined groupBy filtered to df > cap, lazily
        # checkpointed and anti-joined back in each consumer branch) and
        # it LOST, interleaved ABBA, both scales: l06 2.48-2.54 →
        # 2.96-3.01 s and l06x 2.35-2.46 → 2.57-2.89 s at sf0.1;
        # l06x 3.7-4.3 → 4.8-9.1 s at the sf1 (10×) replica corpus.
        # The window's exchange+sort rides the single materialization
        # job, while the anti-join shape pays an extra full-index
        # aggregation plus per-branch anti-join stages and their AQE
        # barriers — and without a checkpoint on the hot set the
        # executed plan ran the aggregate once PER BRANCH. Numbers in
        # OPTIMIZATION_r17.md; the "ideal plan that loses to a gotcha"
        # case of guide §1.1.
        w_df = W.partitionBy("shingle")
        sh = (
            sh.withColumn("_df", F.count("*").over(w_df))
            .filter(F.col("_df") <= max_shingle_df)
            .drop("_df")
        )
    # Large-corpus staging (VERDICT r15 directive 2): past the source-size
    # threshold the index goes to DISK_ONLY — see DISK_STAGE_SOURCE_BYTES.
    src_bytes = _plan_size_bytes(df)
    staged = None
    if src_bytes >= DISK_STAGE_SOURCE_BYTES:
        sh = staged = _materialize(sh, "disk")
        sh.count()  # populate the disk blocks NOW — one dedicated job, the
        # same provably-runs-once guarantee eager localCheckpoint gives
        # (lazy persist would race under concurrently-launched AQE stages)
    else:
        sh = _materialize(sh)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))

    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        inter.join(sizes.withColumnsRenamed({"doc_id": "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"doc_id": "id_b", "n_sh": "n_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            "n_inter",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    if staged is not None:
        # A persist — unlike the localCheckpoint it replaces, whose RDD
        # blocks the ContextCleaner reclaims on GC — is pinned by the
        # session CacheManager until an explicit unpersist, so each large
        # call would otherwise leak a multi-GB DISK_ONLY entry for the
        # session lifetime (r16 review). Tie its life to the RESULT: when
        # the caller drops the last reference, the staged index unpersists.
        # Safe ordering: persist keeps lineage, so a derived plan that
        # somehow outlives `out` recomputes instead of failing.
        import weakref

        def _unpersist_quietly(staged_df=staged):
            try:
                staged_df.unpersist()
            except Exception:  # noqa: BLE001 — session may already be gone
                pass

        weakref.finalize(out, _unpersist_quietly)
    return out


# --- MinHash + LSH -----------------------------------------------------------

def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination — flag training documents that overlap an
    evaluation set, the training-data-pipeline step that keeps test data
    out of the corpus (the published recipe: n-gram overlap against the
    benchmark, as in GPT-3/C4-style dedup-vs-eval passes).

    Per corpus doc: ``n_sh`` distinct word n-grams, ``n_hit`` of them that
    appear anywhere in the benchmark, ``contamination = n_hit/n_sh``, and
    the ``contaminated`` flag at ``threshold``.

    100 TB shape: the benchmark side is always small (an eval suite is
    thousands of prompts — MBs of shingles), so its distinct-shingle set
    **broadcasts**; the corpus-side scan joins without a shuffle, and the
    only shuffle anywhere is the map-side-combinable groupBy(doc_id) on
    hit counts. Corpus is touched exactly once.

    When the "benchmark" is itself corpus-sized (decontaminating crawl N
    against crawls 1..N-1, or a multi-GB eval-suite union), broadcasting
    its shingle set stops being possible — pass
    ``broadcast_benchmark=False`` and the join becomes a shuffle hash join
    on the shingle key (both sides hash-partitioned; Catalyst's runtime
    bloom-filter injection prunes corpus shingles before the exchange when
    the benchmark side is selective). Same answer, same single corpus
    pass; only the physical join strategy changes."""
    c_sh = shingle_table(corpus, text_col, id_col, n)
    b_sh = (
        shingle_table(benchmark, text_col, id_col, n)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    b_side = F.broadcast(b_sh) if broadcast_benchmark else b_sh.hint("shuffle_hash")
    # ONE corpus pass: left-join the (broadcast or shuffled) benchmark set
    # with a hit flag, then a single map-side-combinable aggregate yields
    # both the shingle count and the hit count — no second scan, no doc_id
    # re-join.
    return (
        c_sh.join(b_side, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sh"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_sh",
            "n_hit",
            (F.col("n_hit") / F.col("n_sh")).alias("contamination"),
            (F.col("n_hit") / F.col("n_sh") >= F.lit(threshold)).alias("contaminated"),
        )
    )


def editdist_pairs(
    df: DataFrame,
    max_dist: int = 20,
    prefix_len: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_block_df: int | None = None,
    unit: str = "byte",
) -> DataFrame:
    """Blocked edit-distance near-dup pairs: (id_a, id_b, edit_dist) for
    documents whose whitespace-normalized text is within ``max_dist``
    Levenshtein edits — the curation pass that catches small in-place
    edits (typo fixes, template fills) that shingle-based Jaccard can
    miss on short texts.

    Levenshtein is O(len²) per pair, so all-pairs is never an option: the
    **blocking key** (first ``prefix_len`` normalized chars) turns the
    candidate set into an equi-join — only docs sharing a prefix block
    are compared, the same blocking discipline record-linkage systems
    use. At 100 TB the block sizes bound the quadratic term; a skewed
    block (a boilerplate prefix shared by millions of docs) would turn
    quadratic, so ``max_block_df`` is the valve — blocks larger than it
    are excluded wholesale (agg + broadcast anti-join, the same shape as
    l06's stop-shingle valve; the dropped docs are exactly the
    boilerplate family a separate exact-dedup pass already collapses).

    **Distance unit: UTF-8 bytes** (r14 multibyte-corpus audit). Engines
    disagree on multibyte Levenshtein — Spark counts Unicode code points,
    DuckDB counts UTF-8 bytes under the same function name — so the
    portable contract is the byte unit, which Spark reaches losslessly by
    re-decoding the UTF-8 bytes as ISO-8859-1 (one char per byte, a
    built-in JVM expression, no UDF). On ASCII text the two units are
    identical; on multibyte, an edit costs its byte width (a CJK swap
    counts 3), which only makes the ``max_dist`` gate stricter — it can
    never fabricate a near-dup. ``unit="codepoint"`` keeps the
    Spark-native linguistic unit for callers who want it, documented as
    NOT replayable in ANSI SQL on non-ASCII text."""
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    b = df.select(
        F.col(id_col).alias("doc_id"),
        norm.alias("_t"),
        F.substring(norm, 1, prefix_len).alias("_blk"),
    ).filter(F.length(F.trim(F.col("_t"))) > 0)
    # Zero-content docs are excluded at the source (r15, rule 17 — every
    # candidate-generation path needs its own degenerate-content valve):
    # NULL/empty/whitespace-only texts all normalize into the '' / ' '
    # prefix blocks, and since their pairwise distance is 0 ≤ max_dist the
    # block join doesn't just COMPUTE the quadratic blank-pair set, it
    # EMITS it — millions of blank docs at corpus scale would output n²/2
    # degenerate "near-dup" pairs that exact dedup (l01) already collapses
    # for free. Blank docs have no text to edit-distance; dropping them
    # here mirrors the shingle/banding valves (rules 3/17).
    if max_block_df is not None:
        hot = (
            b.groupBy("_blk")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > max_block_df)
            .select("_blk")
        )
        b = b.join(F.broadcast(hot), "_blk", "left_anti")
    a, c = b.alias("a"), b.alias("b")
    if unit == "byte":
        # one ISO-8859-1 char per UTF-8 byte → Spark's per-char distance
        # becomes the per-byte distance DuckDB computes natively
        def _d(col):
            return F.decode(F.encode(col, "UTF-8"), "ISO-8859-1")
    elif unit == "codepoint":
        def _d(col):
            return col
    else:
        raise ValueError(f"unit must be 'byte' or 'codepoint', got {unit!r}")
    return (
        a.join(c, F.col("a._blk") == F.col("b._blk"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.levenshtein(_d(F.col("a._t")), _d(F.col("b._t")))
            .cast("long").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= max_dist)
    )


def _perm_hash(s: Column, j: int, hash_fn: str) -> Column:
    """Permutation-*j* hash of one shingle. ``md5`` is the engine-portable
    choice (hex strings order like the integers they encode, so array_min
    is the minhash — and DuckDB computes the identical value for the
    oracle); ``xxhash64`` is the production choice — a 64-bit JVM-native
    hash, no hex-string materialization, same plan shape, ~2× throughput."""
    if hash_fn == "md5":
        return F.md5(F.concat(s, F.lit(f"#{j}")))
    if hash_fn == "xxhash64":
        return F.xxhash64(s, F.lit(j))
    raise ValueError(f"hash_fn must be md5 or xxhash64, got {hash_fn!r}")


def minhash_signatures(
    doc_sh: DataFrame, n_hashes: int = 12, hash_fn: str = "md5"
) -> DataFrame:
    """MinHash signature per doc, computed **array-side with no shuffle**:
    permutation *j* hashes every shingle (see ``_perm_hash``) and
    ``array_min`` takes the minhash. Input is the (doc_id, shingles) array
    form; output (doc_id, sig array) ordered by permutation."""
    sig = F.array(
        *[
            F.array_min(
                F.transform(F.col("shingles"), lambda s, j=j: _perm_hash(s, j, hash_fn))
            )
            for j in range(n_hashes)
        ]
    )
    return doc_sh.select("doc_id", sig.alias("sig"))


def band_buckets(
    doc_sh: DataFrame, n_hashes: int = 12, rows_per_band: int = 4, hash_fn: str = "md5"
) -> DataFrame:
    """LSH band buckets computed *directly* from the shingle arrays, one
    expression tree where every per-permutation ``array_min`` appears
    exactly once (Catalyst collapses projections and would otherwise
    duplicate the full signature computation per band). No shuffle.
    With ``xxhash64`` the bucket key is a single multi-arg xxhash64 over
    the band's minhashes — no string concat in the hot path.

    ZERO-SHINGLE DOCS ARE EXCLUDED (r15, found by the sf10 corrupt soak):
    an empty shingle array minhashes to ``array_min([]) = NULL`` for every
    permutation, so every blank/NULL doc lands in the SAME constant bucket
    (``xxhash64(NULL..)`` / ``md5('')``) — the r13 blank-doc valve closed
    this for the shingle-index explode but left the banding path open, and
    at sf10 with a realistic 13% dirt ratio the resulting single bucket
    held 65k docs → ~4×10⁹ candidate pairs per band → map-side hash-agg
    OOM before verification could drop them. A doc with no shingles has no
    content to near-match and could never pass Jaccard verification
    anyway; excluding it here changes no final pair set (the oracles keep
    banding blanks and agree, because verification kills those pairs on
    both engines)."""
    doc_sh = doc_sh.filter(F.size("shingles") > 0)

    def _mh(j: int) -> Column:
        return F.array_min(
            F.transform(F.col("shingles"), lambda s: _perm_hash(s, j, hash_fn))
        )

    n_bands = n_hashes // rows_per_band

    def _bucket(b: int) -> Column:
        mhs = [_mh(b * rows_per_band + r) for r in range(rows_per_band)]
        if hash_fn == "xxhash64":
            return F.xxhash64(*mhs).cast("string")
        return F.md5(F.concat_ws("|", *mhs))

    bands = F.array(*[_bucket(b) for b in range(n_bands)])
    return doc_sh.select("doc_id", F.posexplode(bands).alias("band", "bucket"))


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_hashes: int = 12,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    hash_fn: str = "md5",
    max_tokens: int | None = None,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: candidates from LSH buckets,
    verified with exact Jaccard over the shingle index. Only candidate
    pairs pay the verification join — the linear-cost 100 TB path.
    ``hash_fn="xxhash64"`` is the production variant (same plan shape, JVM
    64-bit hashing); the final pair set is hash-independent as long as the
    true near-dup pairs band-collide, because candidates are re-verified
    with exact Jaccard either way.

    The shingle index and the bucket table are materialized via
    :func:`_materialize` (see its docstring for the checkpoint-vs-cache
    rationale): each feeds multiple plan branches, and recomputing the
    tokenize→shingle pipeline per branch dominates wall time otherwise;
    checkpointed blocks are reclaimed when the result DataFrame goes out
    of scope, so long multi-spec sessions don't accumulate pinned
    storage."""
    # Materialization strategy (hybrid — measured r09): only the EXPENSIVE
    # shared upstream (the shingle UDF) goes through _materialize (eager);
    # the derivations past it — explode, band hashing, the
    # candidate distinct — checkpoint LAZILY. A concurrent-stage race on a
    # lazy checkpoint here re-derives from the doc_sh cache, never re-runs
    # the tokenize→shingle pipeline, so the worst case is bounded cheap;
    # making all four eager cost ~0.4 s of dedicated-job overhead per call
    # at sf0.1 (4 jobs) for no additional protection.
    doc_sh = _materialize(doc_shingles(df, text_col, id_col, n, max_tokens=max_tokens))
    sh = doc_sh.select("doc_id", F.explode("shingles").alias("shingle"))
    buckets = band_buckets(doc_sh, n_hashes, rows_per_band, hash_fn).localCheckpoint(
        eager=False
    )
    a_b = buckets.select(F.col("doc_id").alias("id_a"), "band", "bucket")
    b_b = buckets.select(F.col("doc_id").alias("id_b"), "band", "bucket")
    cand = (
        a_b.join(b_b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Prune the shingle index to CANDIDATE DOCS before the verification
    # join (same discipline as incremental_dedup_pairs): the pair
    # semi-join alone is NOT enough — Catalyst can't push a composite-key
    # (id_a, id_b) semi-join below the shingle self-join, so without this
    # the plan first materializes every corpus pair sharing a shingle
    # (quadratic in per-shingle df over the WHOLE corpus; the r09 sf10
    # soak measured it as 15× wall for 10× data) and only then filters.
    # Pruning is per-doc, so candidate docs keep all their shingles and
    # both the intersections and the sizes below are unchanged — the
    # output is identical, the join input shrinks from corpus-sized to
    # candidate-sized.
    cand_ids = (
        cand.select(F.col("id_a").alias("doc_id"))
        .union(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    rel = sh.join(cand_ids, "doc_id", "left_semi").localCheckpoint(eager=False)
    sizes = rel.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = rel.select(F.col("doc_id").alias("id_a"), "shingle")
    b = rel.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .join(cand, ["id_a", "id_b"], "left_semi")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"doc_id": "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"doc_id": "id_b", "n_sh": "n_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --- SimHash -----------------------------------------------------------------

def simhash16(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """16-bit SimHash over distinct tokens: bit *p* is the majority vote of
    bit *p* of each token's hash (md5: top bit of hex digit *p*, oracle-
    portable; xxhash64: literal bit *p* of the 64-bit value, production).
    Computed without explode: per-position votes are element-wise array
    ops. The hash array is materialized once — 16 inline copies would each
    re-tokenize + re-hash (no CSE inside transform lambdas)."""
    tok = F.array_distinct(tokens(F.col(text_col)))
    if hash_fn == "md5":
        hashed = F.transform(tok, F.md5)
    elif hash_fn == "xxhash64":
        hashed = F.transform(tok, lambda t: F.xxhash64(t))
    else:
        raise ValueError(f"hash_fn must be md5 or xxhash64, got {hash_fn!r}")
    pre = ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"), hashed.alias("_h")
    )
    hashes = F.col("_h")

    def vote(h: Column, p: int) -> Column:
        if hash_fn == "md5":
            # +1 when hex digit p ∈ [8,f] (top bit set), else -1
            hit = F.substring(h, p + 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f")
        else:
            hit = F.shiftright(h, p).bitwiseAND(F.lit(1)) == 1
        return F.when(hit, 1).otherwise(-1)

    def bit_votes(p: int) -> Column:
        votes = F.transform(hashes, lambda h: vote(h, p))
        return F.aggregate(votes, F.lit(0), lambda acc, x: acc + x)

    sig = F.concat(
        *[F.when(bit_votes(p) >= 0, F.lit("1")).otherwise(F.lit("0")) for p in range(16)]
    )
    return pre.select("doc_id", sig.alias("simhash16"))


def simhash_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """Docs grouped by identical SimHash signature (hamming-0 buckets);
    near-dup groups surface as n_docs > 1."""
    return (
        simhash16(df, text_col, id_col, hash_fn)
        .groupBy("simhash16")
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_docs"))
    )


def neardup_components(pairs: DataFrame, max_iter: int = 32) -> DataFrame:
    """Near-duplicate pair closure → (doc_id, component) with component =
    min doc_id of the connected group — the step that turns any pairwise
    dedup output (``jaccard_pairs``, ``minhash_dedup_pairs``, embedding
    near-dups) into keep/drop groups: keep ``doc_id == component``, drop
    the rest.

    Iterative min-label propagation as a driver loop of joins: each round
    every node takes the min of its own label and its neighbors' labels;
    converges in graph-diameter rounds (near-dup components are shallow —
    dup clusters are cliques or short chains, so 2-4 rounds in practice;
    the loop is bounded by ``max_iter`` as a runaway guard). The
    convergence check is an aggregate (count of changed labels), never a
    data-sized collect. At extreme scale swap in the large-star/small-star
    alternation (O(log n) rounds on pathological chains); the per-round
    plan here — shuffle on node id, map-side-combined min — is the same
    building block."""
    # Materialize the INPUT once (eager by default): the undirected-edge
    # union below reads it twice, and ``pairs`` is often the whole Jaccard/
    # LSH pipeline (l17) — without materialization the union's two branches
    # each recompute it (lazy checkpointing the union instead doesn't help:
    # the checkpoint job itself evaluates both branches). The derivations
    # past the materialized input are one cheap pass each, so they stay
    # lazy — the first round's count materializes them as a side effect.
    pairs_m = _materialize(pairs.select("id_a", "id_b"))
    edges = pairs_m.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    edges = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=False)
    )
    changed = -1
    for _ in range(max_iter):  # diameter rounds in practice
        nbr_min = (
            edges.join(
                labels.withColumnsRenamed({"id": "v", "label": "_nl"}), "v"
            )
            .groupBy("u")
            .agg(F.min("_nl").alias("_nmin"))
            .withColumnRenamed("u", "id")
        )
        new = (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("_nmin"), F.col("label"))
                ).alias("label"),
            )
            # lazy: the changed-count below materializes it — one job/round
            .localCheckpoint(eager=False)
        )
        changed = (
            new.join(labels.withColumnRenamed("label", "_old"), "id")
            .filter(F.col("label") != F.col("_old"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    if changed != 0:
        # Silently-wrong labels are worse than a loud failure: a component
        # whose diameter exceeds max_iter would otherwise come back split.
        raise RuntimeError(
            f"neardup_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter or use "
            "neardup_components_star (O(log n) rounds on long chains)"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("component"))


def neardup_components_star(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """Connected components via large-star/small-star alternation — the
    extreme-scale swap documented in :func:`neardup_components`. Converges
    in O(log n) rounds regardless of component diameter (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public
    algorithm), versus diameter rounds for min-label propagation: a
    100-million-node pathological chain finishes in ~27 rounds instead of
    100 million.

    Each round is two passes over the edge set; every pass is one shuffle
    (groupBy node, min over neighbors, re-emit edges) with map-side
    combine. Edge count never grows: both operations replace a node's
    edges with edges to its minimum neighborhood node. Convergence check
    is an aggregate count, never a data-sized collect.

    - **large-star**: for each node ``u``, connect every *strictly larger*
      neighbor to ``m = min(N(u) ∪ {u})``.
    - **small-star**: connect every ``≤ u`` neighbor (and ``u``) to ``m``.

    Returns the same (doc_id, component) frame as
    :func:`neardup_components`, component = min doc id of the group."""

    # Both stars are "per-node min over the neighborhood, re-emit edges".
    # r17: the min is a WINDOW over partition-by-node instead of the old
    # groupBy + self-join — each star becomes ONE exchange + sort + window
    # pass over the edge set instead of two passes (a map-side-combined
    # groupBy exchange plus a join that either broadcasts the per-node min
    # table — a driver collect per round at bench scale — or SMJ-shuffles
    # the full edge set a second time at cluster scale). Measured on the
    # l18b chain set (interleaved A/B, /tmp transcript summarized in
    # OPTIMIZATION_r17.md): ~33% faster per convergence loop, outputs
    # identical. Scale note: a pathologically hot node (one star with 10⁹
    # spokes) lands its whole neighborhood in one window partition — a
    # single sorting task that spills but completes — whereas the join
    # shape could have AQE skew-split it; the old shape paid for that with
    # a second full-edge pass per star, every round, on every corpus. The
    # window's partition key is the node id, so the sort is a cheap
    # fixed-width radix sort, and small-star's two emissions come from one
    # window pass via a 2-element explode (a union of two projections
    # would re-run the window subtree per branch — no CSE across union).
    def _large_star(e: DataFrame) -> DataFrame:
        und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = F.least(F.col("u"), F.min("v").over(W.partitionBy("u")))
        return (
            und.withColumn("m", m)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # Orient edges high→low so N(u) here is the ≤-neighborhood.
        lo = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        lo2 = lo.withColumn("m", F.min("v").over(W.partitionBy("u")))
        # emit (v → m) per edge plus (u → m) per node in one pass; the
        # old shape emitted (u, m) once per node, this emits it once per
        # edge — the trailing distinct collapses both to the same SET,
        # which is what the signature/exceptAll convergence compares
        both = lo2.select(
            F.explode(
                F.array(
                    F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
                    F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
                )
            ).alias("e")
        ).select("e.u", "e.v")
        return (
            both.filter(F.col("u") != F.col("v"))
            .distinct()
            .select(F.least("u", "v").alias("v"), F.greatest("u", "v").alias("u"))
            .select("u", "v")
        )

    # One materialization of the INPUT pairs, not one per derivation: nodes
    # and edges both read the cached pair set, so an expensive upstream (the
    # Jaccard/LSH pipeline in l17/l18 use) is computed once, not twice.
    # Eager, measured (PROGRESS.md r10.1, sf0.1 chain set): in a FRESH
    # session skipping the checkpoint wins (none 2.67 < lazy 2.79 < eager
    # 2.85 — the dedicated materialization job is fixed overhead on a cheap
    # input), but in a session that has already run the dedup pipelines
    # the ranking FLIPS (eager 2.88 < lazy 2.99 < none 3.42).
    pairs_m = _materialize(pairs)
    nodes = (
        pairs_m.select(F.col("id_a").alias("id"))
        .union(pairs_m.select(F.col("id_b").alias("id")))
        .distinct()
    )
    edges = (
        pairs_m.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev_sig: tuple | None = None
    for _ in range(max_iter):
        # Lazy checkpoint: the signature aggregate below is the action that
        # materializes it, so each round is ONE job (compute + checkpoint
        # write + signature) instead of a checkpoint job followed by an
        # aggregate job — halves the driver round-trips of the iterative
        # loop (VERDICT r06 directive 4) while still truncating lineage.
        new = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        # Converged when the edge set is a fixed star forest: small-star of
        # a star forest re-emits exactly the same (child → root) edges.
        # Cheap pre-filter first — an order-insensitive (count, xxhash sum)
        # signature computed in ONE agg over the fresh checkpoint; a
        # signature change proves non-convergence without the exceptAll
        # shuffles (which move the full edge set). Star rounds often
        # preserve edge COUNT while still moving edges, so the hash term
        # is what keeps the exact set comparison to ~one invocation at
        # true convergence instead of one per count-stable round. A
        # signature collision only costs a wasted exceptAll — exactness
        # never rests on the hash.
        sig_row = new.agg(
            F.count("*").alias("c"),
            # decimal(38,0) sum: exact and order-insensitive at any edge
            # count (a raw long sum overflows under ANSI mode)
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        sig = (sig_row.c, sig_row.h)
        if sig == prev_sig:
            # one job for the exact set equality, not two: union the two
            # exceptAll directions and probe for a single surviving row
            delta = (
                new.exceptAll(edges)
                .union(edges.exceptAll(new))
                .limit(1)
                .count()
            )
        else:
            delta = 1
        prev_sig = sig
        edges = new
        if delta == 0:
            break
    else:
        raise RuntimeError(
            f"neardup_components_star did not converge in {max_iter} rounds"
        )
    roots = edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
    return (
        nodes.join(roots, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce("component", "id").alias("component"),
        )
    )


# --- incremental fuzzy-dedup index (crawl N vs crawls 1..N-1) -----------------

def write_dedup_index(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_hashes: int = 12,
    rows_per_band: int = 4,
    hash_fn: str = "md5",
) -> None:
    """Persist the fuzzy-dedup index of an already-admitted corpus: the
    LSH band buckets (candidate generation) plus the exploded shingle
    table (exact-Jaccard verification). With this on disk, each new crawl
    is deduplicated against ALL previous crawls at a cost proportional to
    the new batch — the old corpus is never re-shingled or re-hashed
    (see :func:`incremental_dedup_pairs`). Appending a crawl's own
    bands/shingles (mode="append") rolls the index forward."""
    doc_sh = doc_shingles(corpus, text_col, id_col, n).localCheckpoint(eager=False)
    band_buckets(doc_sh, n_hashes, rows_per_band, hash_fn).write.mode(
        "overwrite"
    ).parquet(f"{path}/bands")
    doc_sh.select("doc_id", F.explode("shingles").alias("shingle")).write.mode(
        "overwrite"
    ).parquet(f"{path}/shingles")


def incremental_dedup_pairs(
    spark,
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_hashes: int = 12,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    hash_fn: str = "md5",
) -> DataFrame:
    """Near-dup pairs INVOLVING the new batch — new↔old against the
    persisted index plus new↔new within the batch — with the exact same
    semantics as running :func:`minhash_dedup_pairs` over the union and
    keeping pairs with a new side (band buckets depend only on document
    text, so candidate generation is identical; the c06 oracle asserts
    this equivalence).

    Incremental cost shape: only the NEW batch is shingled and hashed;
    its bands probe the stored bucket table (equi-join on (band,
    bucket)); and before the verification join the stored shingle table
    is pruned to CANDIDATE DOCS ONLY via a semi-join — so the expensive
    shingle-intersection join touches new-batch shingles × candidate-doc
    shingles, never the historical corpus. This is the daily-crawl dedup
    loop: index once per admission, probe per batch."""
    idx_bands = spark.read.parquet(f"{path}/bands")
    idx_sh = spark.read.parquet(f"{path}/shingles")
    doc_sh = doc_shingles(new_docs, text_col, id_col, n).localCheckpoint(eager=False)
    new_bands = band_buckets(doc_sh, n_hashes, rows_per_band, hash_fn).localCheckpoint(
        eager=True
    )
    new_sh = doc_sh.select(
        "doc_id", F.explode("shingles").alias("shingle")
    ).localCheckpoint(eager=False)

    all_bands = idx_bands.unionByName(new_bands)
    nb = new_bands.select(F.col("doc_id").alias("id_n"), "band", "bucket")
    ab = all_bands.select(F.col("doc_id").alias("id_o"), "band", "bucket")
    cand = (
        nb.join(ab, ["band", "bucket"])
        .filter(F.col("id_n") != F.col("id_o"))
        .select("id_n", "id_o")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # prune the verification input to candidate docs before any big join
    cand_ids = (
        cand.select(F.col("id_n").alias("doc_id"))
        .union(cand.select(F.col("id_o").alias("doc_id")))
        .distinct()
    )
    rel_sh = idx_sh.unionByName(new_sh).join(cand_ids, "doc_id", "left_semi")
    sizes = rel_sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        new_sh.select(F.col("doc_id").alias("id_n"), "shingle")
        .join(rel_sh.select(F.col("doc_id").alias("id_o"), "shingle"), "shingle")
        .filter(F.col("id_n") != F.col("id_o"))
        .join(cand, ["id_n", "id_o"], "left_semi")
        .groupBy("id_n", "id_o")
        .agg(F.count("*").alias("n_inter"))
    )
    scored = (
        inter.join(sizes.withColumnsRenamed({"doc_id": "id_n", "n_sh": "n_a"}), "id_n")
        .join(sizes.withColumnsRenamed({"doc_id": "id_o", "n_sh": "n_b"}), "id_o")
        .select(
            F.least("id_n", "id_o").alias("id_a"),
            F.greatest("id_n", "id_o").alias("id_b"),
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # new-new pairs arrive in both directions with identical jaccard
    return scored.distinct()


# --- Bloom-prefiltered decontamination --------------------------------------

def _bloom_m_bits(n_b: int, k: int) -> int:
    """Filter width for ``n_b`` distinct benchmark shingles under ``k``
    hashes: smallest power of two ≥ 2·k·n_b (fill ≤ ~40%), floor 2^18."""
    return 1 << max(18, (2 * k * max(n_b, 1) - 1).bit_length())


def _bloom_bit(col: Column, seed: int, m_bits: int, salt: str = "bf") -> Column:
    """Bit position *seed* for one shingle: md5-derived 32-bit int mod m.
    md5 keeps the filter engine-portable (DuckDB computes the identical
    positions); swap for ``xxhash64(col, seed)`` in production."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{salt}{seed}:"), col)), 1, 8), 16, 10)
        .cast("long")
        % m_bits
    )


def decontaminate_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int | None = None,
    k: int = 3,
) -> DataFrame:
    """:func:`decontaminate` behind a *relational Bloom filter* — same
    answer, bounded broadcast.

    Plain decontamination broadcasts the benchmark's distinct shingle
    *strings*; when the "benchmark" is itself corpus-sized (screening crawl
    N against a multi-GB eval-suite union), that broadcast stops fitting.
    This variant broadcasts only the benchmark's Bloom **bitmap**, expressed
    relationally: the distinct set of set-bit positions (≤ ``m_bits`` longs
    ≈ 2 MB at the default 2^18, regardless of benchmark size). A corpus
    shingle is a candidate iff all ``k`` of its bit positions hit — k
    successive broadcast-hash joins, no shuffle, corpus scanned once. Only
    the surviving candidates (true hits + the Bloom's false-positive
    fraction) reach the exact verification join, which therefore shuffles a
    tiny fraction of the corpus against the benchmark set. Bloom filters
    have no false negatives and verification removes the false positives,
    so the output is *provably identical* to :func:`decontaminate` — the
    spec's oracle is the plain-decontamination SQL.

    Parity with the reference's screening semantics (same contract as
    :func:`decontaminate`); the prefilter shape is the classic runtime
    bloom-filter join pruning done by hand so it survives any benchmark
    size.

    ``m_bits=None`` (the default) sizes the filter from the benchmark's
    distinct-shingle count — smallest power of two ≥ ``2·k·n_b``, floor
    2^18 — keeping the fill factor under ~40% so the false-positive rate
    stays bounded for corpus-sized benchmarks (a fixed 2^18 saturates past
    a few hundred thousand shingles and the prefilter silently degenerates
    to a full corpus-vs-benchmark join, ADVICE r06). The broadcast stays
    bounded regardless: what ships is the ≤ ``k·n_b`` distinct set-bit
    positions, not the bitmap. Pass an explicit ``m_bits`` to pin the
    filter size (correctness never depends on it — verification removes
    all false positives).
    """
    c_sh = shingle_table(corpus, text_col, id_col, n)
    b_sh = (
        shingle_table(benchmark, text_col, id_col, n)
        .select("shingle")
        .distinct()
        .localCheckpoint(eager=False)  # shingling runs once, not k+1
        # times (the sizing count or the terminal action materializes it)
    )
    if m_bits is None:
        # one count over the checkpointed distinct set — bounded driver
        # traffic; keeps fill ≈ 1-e^(-k·n_b/m) ≤ ~0.4 so fp_rate ≈ fill^k
        m_bits = _bloom_m_bits(b_sh.count(), k)
    sizes = c_sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    cand = c_sh
    for i in range(k):
        bits_i = b_sh.select(_bloom_bit(F.col("shingle"), i, m_bits).alias(f"_b{i}")).distinct()
        cand = cand.withColumn(f"_b{i}", _bloom_bit(F.col("shingle"), i, m_bits)).join(
            F.broadcast(bits_i), f"_b{i}"
        )
    # Exact verification on candidates only: shuffle-hash, NOT broadcast —
    # the whole point is that the benchmark string set never broadcasts.
    hits = (
        cand.select(id_col, "shingle")
        .join(b_sh.hint("shuffle_hash"), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        sizes.join(hits, id_col, "left")
        .select(
            id_col,
            "n_sh",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            (F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_sh")).alias("contamination"),
            (F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_sh") >= F.lit(threshold)).alias(
                "contaminated"
            ),
        )
    )


# --- duplicated-substring (n-gram span) detection ---------------------------

def duplicated_ngram_spans(
    df: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-level duplicate detection at word-``n``-gram granularity —
    the scalable approximation of suffix-array training-data dedup (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models Better"):
    find every maximal token span whose ``n``-grams each occur in at least
    ``min_docs`` distinct documents, i.e. boilerplate/licence/navigation
    text repeated across the corpus, to be excised rather than dropping
    whole documents.

    Returns one row per maximal span: ``(doc_id, span_id, span_start,
    span_end, n_grams, span_tokens)`` with token positions 0-based
    inclusive.

    100 TB shape: positions+hashes explode to one row per token (linear);
    the duplicated-gram set comes from one map-side-combinable groupBy on
    the gram hash; the join back is an equi-join on that hash (AQE handles
    the skewed boilerplate grams); span assembly is a per-doc window —
    partitioned by doc, never global. No suffix array, no global sort, no
    driver state.
    """
    toks = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col), toks.alias("_toks")).filter(F.size("_toks") >= n)
    grams = base.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("_toks") - n),
                lambda i: F.md5(F.concat_ws(" ", F.slice("_toks", i + 1, n))),
            )
        ).alias("pos", "gram"),
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gram")
    )
    hits = grams.join(dup, "gram").select(id_col, F.col("pos").cast("long").alias("pos"))
    w = W.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.lag("pos").over(w).isNull() | (F.col("pos") > F.lag("pos").over(w) + n), 1
    ).otherwise(0)
    spans = hits.select(
        id_col, "pos", F.sum(brk).over(w.rowsBetween(W.unboundedPreceding, 0)).alias("span_id")
    )
    return (
        spans.groupBy(id_col, "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n - 1).alias("span_end"),
            F.count("*").alias("n_grams"),
        )
        .select(
            id_col,
            F.col("span_id").cast("long").alias("span_id"),
            "span_start",
            "span_end",
            "n_grams",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def keep_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    quality_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster-then-keep-best: close the near-duplicate pair set into
    components (:func:`neardup_components_star`) and elect one canonical
    document per cluster — the highest-``quality_col`` doc, smallest id on
    ties — instead of the naive keep-min-id. This is how production dedup
    actually drops rows: near-dup clusters keep their *best* member (by
    quality score), not an arbitrary one.

    Returns ``(doc_id, component, <quality_col>, is_canonical)`` covering
    every doc (singletons are their own canonical component).

    Scale: CC is the O(log n)-round star algorithm; the election is one
    per-component window (partitioned by component — never global), and
    the docs↔components join is an equi-join on doc_id.
    """
    comps = neardup_components_star(pairs)
    joined = docs.select(id_col, quality_col).join(
        comps.withColumnRenamed("doc_id", id_col), id_col, "left"
    )
    joined = joined.withColumn("component", F.coalesce("component", F.col(id_col)))
    w = W.partitionBy("component").orderBy(F.desc(quality_col), F.asc(id_col))
    return joined.select(
        id_col,
        "component",
        quality_col,
        (F.row_number().over(w) == 1).alias("is_canonical"),
    )


def excise_duplicated_spans(
    df: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-level dedup, end to end: find cross-document duplicated
    spans (:func:`duplicated_ngram_spans`) and CUT them out of each
    document, keeping the unique remainder — what Lee et al.'s
    suffix-array pipeline does to training text, at n-gram granularity.

    Returns ``(doc_id, cleaned_text, n_tokens, n_removed)`` for every
    NON-NULL-id input doc (docs with no duplicated spans pass through
    unchanged; a doc that is entirely boilerplate comes back as the
    empty string). NULL-id docs still CONTRIBUTE to span detection —
    their text is real — but emit no output row (Rule 1, r16
    NULL-primary-key sweep): the excision join is keyed by ``id_col``,
    where a NULL never matches, so such rows previously passed through
    UNCLEANED while the SQL twin's grouped reassembly scrambled them —
    a live cross-engine divergence on the dirty corpus.

    Scale shape: span detection is the linear pipeline documented on
    :func:`duplicated_ngram_spans`; the excision itself is ONE left join
    of docs against the per-doc span list followed by a pure array
    expression (token-index filter against the span intervals) — no
    second explode, no re-shuffle of the corpus, codegen end to end.
    """
    spans = duplicated_ngram_spans(df, n, min_docs, text_col, id_col)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks = F.split(F.col(text_col), " ")
    joined = (
        df.filter(F.col(id_col).isNotNull())
        .select(id_col, toks.alias("_toks"))
        .join(per_doc, id_col, "left")
    )
    sps = F.coalesce(F.col("_spans"), F.array().cast("array<struct<span_start:bigint,span_end:bigint>>"))
    indexed = F.transform(F.col("_toks"), lambda x, i: F.struct(x.alias("tok"), i.cast("long").alias("pos")))
    kept = F.filter(
        indexed,
        lambda s: ~F.exists(
            sps, lambda sp: (s["pos"] >= sp["span_start"]) & (s["pos"] <= sp["span_end"])
        ),
    )
    return joined.select(
        id_col,
        F.array_join(F.transform(kept, lambda s: s["tok"]), " ").alias("cleaned_text"),
        F.size("_toks").cast("long").alias("n_tokens"),
        (F.size("_toks") - F.size(kept)).cast("long").alias("n_removed"),
    )
