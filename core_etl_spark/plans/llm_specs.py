"""LLM-data-pipeline specs — the training-data operators the north star
adds on top of the reference surface: deduplication (exact, n-gram
Jaccard, MinHash+LSH, SimHash, embedding-cosine), similarity search
(brute-force top-k and LSH-bucketed ANN), and text analysis (stats,
language-ID, token counting, fingerprinting), over ``documents`` and
``embeddings``.

Oracle portability: every hash in these pipelines is md5-derived, all
ratios divide exact integers, and all dot products run on exact decimals —
so even MinHash signatures and ANN rankings are bit-identical in DuckDB.
Swap md5 for ``xxhash64`` in production for ~2× (same plan shapes).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..operators import dedup as D
from ..operators import similarity as S
from ..operators import sketches as SK
from ..operators import text as X
from .base import REGISTRY, register

# --- shared oracle fragments -------------------------------------------------

_TOKS = "string_split(text, ' ')"

#: shingle tokenization (r13, mirrors doc_shingles): only NON-EMPTY
#: fragments count as tokens, and a doc with zero real tokens (NULL/
#: empty/whitespace-only text) yields NO shingles — without the filter,
#: blank docs fabricate degenerate ''-shingles that pool into one giant
#: bogus near-dup cluster, and NULL docs hit greatest(NULL-2,1)=1.
_SH_TOKS = f"list_filter({_TOKS}, x -> x <> '')"

#: (doc_id, shingle) inverted index: distinct word 3-grams, matching
#: operators.dedup.doc_shingles (short docs yield one partial shingle —
#: concat_ws drops the out-of-range NULL tail here, the UDF joins what's
#: left; identical output).
_SHINGLE_CTE = f"""
toks AS (SELECT doc_id, {_SH_TOKS} AS t FROM documents),
sh AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
        generate_series(1, greatest(len(t) - 2, 1)),
        i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS shingle
    FROM toks WHERE len(t) > 0
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
"""


@register(
    "l01_exact_dedup",
    tables=("documents",),
    oracle="""
        SELECT md5(text) AS fp, CAST(min(doc_id) AS BIGINT) AS keeper,
               COUNT(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    tags=("llm", "dedup", "exact"),
)
def l01(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Exact dedup: hash-groupBy on the md5 fingerprint — one shuffle on
    the hash, the O(N) baseline every corpus pass starts with."""
    return D.exact_dup_groups(t["documents"])


@register(
    "l02_text_stats",
    tables=("documents",),
    oracle=f"""
        SELECT doc_id,
               len({_TOKS}) AS n_words,
               len(list_distinct({_TOKS})) AS n_distinct_words,
               (length(text) - (len({_TOKS}) - 1)) / len({_TOKS}) AS avg_word_len,
               len(list_filter({_TOKS},
                   w -> list_contains(['the','of','and','to','a'], w))) / len({_TOKS})
                   AS stopword_ratio,
               (len(list_distinct({_TOKS})) / len({_TOKS}))
                 * (1 - len(list_filter({_TOKS},
                       w -> list_contains(['the','of','and','to','a'], w))) / len({_TOKS}))
                   AS quality_score
        FROM documents
    """,
    tags=("llm", "text", "quality"),
)
def l02(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Quality scoring: length/diversity/stopword stats as element-wise
    array expressions — single scan, no shuffle, no UDF."""
    return X.text_stats(t["documents"]).select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        "avg_word_len",
        "stopword_ratio",
        "quality_score",
    )


@register(
    "l03_token_count",
    tables=("documents",),
    oracle=f"""
        SELECT doc_id,
               len({_TOKS}) AS n_ws_tokens,
               len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0))
                   AS n_bpe_tokens
        FROM documents
    """,
    tags=("llm", "text", "tokens"),
)
def l03(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex segmentation."""
    return X.token_counts(t["documents"]).select("doc_id", "n_ws_tokens", "n_bpe_tokens")


def _langid_oracle() -> str:
    hits = {
        lang: (
            f"len(list_filter({_TOKS}, w -> list_contains("
            f"[{', '.join(repr(w) for w in words)}], w)))"
        )
        for lang, words in X.LANG_STOPWORDS.items()
    }
    cols = ",\n               ".join(f"{h} AS hits_{lang}" for lang, h in hits.items())
    langs = list(X.LANG_STOPWORDS)  # precedence order
    cases = []
    for i in range(len(langs) - 1, 0, -1):
        earlier = ", ".join(f"hits_{la}" for la in langs[:i])
        fn = "greatest" if i > 1 else ""
        prev = f"greatest({earlier})" if i > 1 else earlier
        cases.append(f"WHEN hits_{langs[i]} > {prev} THEN '{langs[i]}'")
    cases.append(f"WHEN hits_{langs[0]} > 0 THEN '{langs[0]}'")
    case_sql = "\n                 ".join(cases)
    return f"""
        WITH scored AS (
            SELECT doc_id, lang,
               {cols}
            FROM documents
        )
        SELECT doc_id, lang, hits_en, hits_de, hits_fr, hits_es, hits_zh,
               CASE {case_sql}
                 ELSE 'und' END AS predicted_lang
        FROM scored
    """


@register(
    "l04_language_id",
    tables=("documents",),
    oracle=_langid_oracle(),
    tags=("llm", "text", "langid"),
)
def l04(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Language-ID heuristic: per-language stopword hit counts + argmax
    with fixed precedence. (The synthetic corpus is language-agnostic
    word salad, so this exercises the operator, not its accuracy.)"""
    return X.language_id(t["documents"]).select(
        "doc_id", "lang", "hits_en", "hits_de", "hits_fr", "hits_es", "hits_zh",
        "predicted_lang",
    )


@register(
    "l05_fingerprint",
    tables=("documents",),
    oracle="""
        WITH n AS (
            SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
            FROM documents
        )
        SELECT doc_id,
               md5(norm) AS fp_md5,
               CAST('0x' || substr(md5(norm), 1, 15) AS BIGINT) AS fp_int60,
               md5(substr(norm, 1, 64)) AS fp_prefix64
        FROM n
    """,
    tags=("llm", "text", "fingerprint"),
)
def l05(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Document fingerprinting: md5 + 60-bit integer + 64-char-prefix
    fingerprints of whitespace-normalized text."""
    return X.fingerprint(t["documents"]).select("doc_id", "fp_md5", "fp_int60", "fp_prefix64")


#: l06's stop-shingle valve: shingles in more than MAX_SHINGLE_DF docs are
#: dropped *before* the self-join (and before sizes), capping hot-key
#: fan-out at DF² per shingle. Mirrored exactly in the oracle below.
MAX_SHINGLE_DF = 64

#: l06v's max_tokens valve setting — below the corpus median so the
#: prefix cap genuinely changes the shingle sets the spec verifies.
DOC_CAP_TOKENS = 40

_SHINGLE_CTE_CAPPED = f"""
toks AS (SELECT doc_id, {_SH_TOKS} AS t FROM documents),
sh0 AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
        generate_series(1, greatest(len(t) - 2, 1)),
        i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS shingle
    FROM toks WHERE len(t) > 0
),
hot AS (
    SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > {MAX_SHINGLE_DF}
),
sh AS (SELECT * FROM sh0 ANTI JOIN hot USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
"""


@register(
    "l06_ngram_jaccard_dedup",
    tables=("documents",),
    oracle=f"""
        WITH {_SHINGLE_CTE_CAPPED},
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
            FROM sh a JOIN sh b USING (shingle)
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b, n_inter,
               n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    """,
    tags=("llm", "dedup", "jaccard"),
    headline=True,
)
def l06(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """n-gram Jaccard near-dup pairs via the shingle inverted index —
    candidate pairs share ≥1 shingle, scored exactly from distinct-shingle
    counts. The stop-shingle valve is ON (``max_shingle_df=64``) and the
    oracle mirrors the same document-frequency cap, so parity holds with
    the hot-key fan-out bounded."""
    return D.jaccard_pairs(t["documents"], threshold=0.5, max_shingle_df=MAX_SHINGLE_DF)


@register(
    "l06v_ngram_jaccard_doc_capped",
    tables=("documents",),
    # the max_tokens pathological-document valve as a FIRST-CLASS
    # oracle-backed spec (r14): shingle only each doc's first 40 real
    # tokens (the snapshot corpus's median is 56, so the cap genuinely
    # bites on over half the docs — this is not accidentally l06). The
    # oracle truncates the SAME post-filter token list: the UDF caps
    # AFTER dropping '' fragments, so the SQL slices list_filter's
    # output, and DuckDB's [1:40] on a shorter list returns it whole.
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, ({_SH_TOKS})[1:{DOC_CAP_TOKENS}] AS t FROM documents
        ),
        sh0 AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                generate_series(1, greatest(len(t) - 2, 1)),
                i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS shingle
            FROM toks WHERE len(t) > 0
        ),
        hot AS (
            SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > {MAX_SHINGLE_DF}
        ),
        sh AS (SELECT * FROM sh0 ANTI JOIN hot USING (shingle)),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
            FROM sh a JOIN sh b USING (shingle)
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b, n_inter,
               n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    """,
    tags=("llm", "dedup", "jaccard", "valve"),
)
def l06v(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """l06 with the max_tokens valve engaged — the operator's prefix
    shingling is driver-witnessed against a SQL replay that truncates the
    identical post-filter token list. At 100 TB the cap is what keeps one
    10^8-token log-spam row from becoming a multi-minute single-task
    straggler (measured in SCALE.md); this spec pins that the capped
    SEMANTICS are exactly 'shingle the prefix', not an engine quirk."""
    return D.jaccard_pairs(
        t["documents"], threshold=0.5, max_shingle_df=MAX_SHINGLE_DF,
        max_tokens=DOC_CAP_TOKENS,
    )


@register(
    "l06x_ngram_jaccard_xxhash",
    tables=("documents",),
    # DuckDB has no xxhash64, but it doesn't need one: absent a 64-bit
    # collision between two distinct shingles of the same corpus the
    # hashed-key pipeline's output — pair set, intersection counts,
    # jaccard values — is IDENTICAL to the string-key path, so l06's
    # oracle applies verbatim. Collision odds at snapshot scale are
    # ~(5e4)²/2⁶⁵ ≈ 7e-11 per run; equivalence is also unit-asserted in
    # tests/test_llm_ops.py. (Promoted from rows-only in r09.)
    oracle=f"""
        WITH {_SHINGLE_CTE_CAPPED},
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
            FROM sh a JOIN sh b USING (shingle)
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b, n_inter,
               n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    """,
    tags=("llm", "dedup", "jaccard", "xxhash"),
    headline=True,
)
def l06x(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """l06's production variant: the shingle self-join runs on xxhash64'd
    8-byte keys instead of ~18-byte strings — same pairs (collision odds in
    the docstring), ~2× less shuffle volume at 100 TB."""
    return D.jaccard_pairs(
        t["documents"],
        threshold=0.5,
        max_shingle_df=MAX_SHINGLE_DF,
        shingle_key="xxhash64",
    )


@register(
    "l17_neardup_components",
    tables=("documents",),
    oracle=f"""
        WITH RECURSIVE {_SHINGLE_CTE_CAPPED},
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
            FROM sh a JOIN sh b USING (shingle)
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        pairs AS (
            SELECT id_a, id_b FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
        ),
        edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION ALL SELECT id_b, id_a FROM pairs
        ),
        reach(id, r) AS (
            SELECT u, u FROM edges
            UNION
            SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v
        )
        SELECT id AS doc_id, min(r) AS component
        FROM reach GROUP BY id
    """,
    tags=("llm", "dedup", "components", "iterative"),
)
def l17(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Near-dup connected components over l06's verified pair set:
    (doc_id, component=min reachable doc_id) — keep one doc per
    component. Spark side is iterative min-label propagation (driver loop
    of joins, converges in diameter rounds); the oracle computes the same
    closure with a recursive CTE."""
    # no spec-level checkpoint: the CC functions materialize their input
    # pair set once internally (r07)
    pairs = D.jaccard_pairs(
        t["documents"], threshold=0.5, max_shingle_df=MAX_SHINGLE_DF
    ).select("id_a", "id_b")
    return D.neardup_components(pairs)


def _minhash_pair_ctes(
    n_hashes: int = 12, rows_per_band: int = 4, threshold: float = 0.5
) -> str:
    """CTE chain ending in ``mpairs(id_a, id_b, jaccard)`` — the verified
    MinHash+LSH near-dup pair set. Shared by the l07 oracle and the c04
    fuzzy-dedup composite (which closes the pairs into components)."""
    return f"""{_SHINGLE_CTE},
        mh AS (
            SELECT doc_id, j.j AS j, min(md5(shingle || '#' || j.j)) AS mh
            FROM sh CROSS JOIN (SELECT unnest(generate_series(0, {n_hashes - 1})) AS j) j
            GROUP BY doc_id, j.j
        ),
        bands AS (
            SELECT doc_id, CAST(floor(j / {rows_per_band}) AS INT) AS band,
                   md5(string_agg(mh, '|' ORDER BY j)) AS bucket
            FROM mh GROUP BY doc_id, CAST(floor(j / {rows_per_band}) AS INT)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b USING (band, bucket)
            WHERE a.doc_id < b.doc_id
        ),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
            FROM sh a JOIN sh b USING (shingle)
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        mpairs AS (
            SELECT i.id_a, i.id_b,
                   i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) AS jaccard
            FROM inter i
            JOIN cand USING (id_a, id_b)
            JOIN sizes sa ON sa.doc_id = i.id_a
            JOIN sizes sb ON sb.doc_id = i.id_b
            WHERE i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) >= {threshold}
        )"""


def _minhash_oracle(n_hashes: int = 12, rows_per_band: int = 4) -> str:
    return f"""
        WITH {_minhash_pair_ctes(n_hashes, rows_per_band)}
        SELECT id_a, id_b, jaccard FROM mpairs
    """


@register(
    "l07_minhash_lsh_dedup",
    tables=("documents",),
    oracle=_minhash_oracle(),
    tags=("llm", "dedup", "minhash", "lsh"),
    headline=True,
)
def l07(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """MinHash(12)+LSH(3 bands × 4 rows) near-dup pipeline: shingle →
    minhash → band-bucket join → exact-Jaccard verification of candidates
    only. Linear corpus cost — the 100 TB dedup path."""
    return D.minhash_dedup_pairs(t["documents"], n_hashes=12, rows_per_band=4, threshold=0.5)


@register(
    "l07x_minhash_lsh_xxhash",
    tables=("documents",),
    oracle=None,  # xxhash64 has no DuckDB twin — equivalence to l07's md5
    # pair set is asserted in tests/test_llm_ops.py instead
    tags=("llm", "dedup", "minhash", "lsh", "production"),
    headline=True,  # benched against l07 to measure the md5 parity tax
)
def l07x(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """The production MinHash+LSH variant: identical plan shape to l07 but
    every hash is JVM-native ``xxhash64`` (64-bit longs end to end — no hex
    strings, no concat in the hot path). The final pair set matches l07
    whenever true near-dups band-collide under both schemes, because
    candidates are re-verified with exact Jaccard either way.

    Self-validating output (VERDICT r15 directive 7): ``valid`` re-checks,
    from the emitted columns, that every pair is canonically ordered and
    its exact-Jaccard score clears the spec threshold. Honest scope (r16
    review): the score itself was computed by the pipeline's verification
    join, so this catches an mis-ordered or under-threshold row leaking
    through (a broken final filter / ordering convention), NOT a banding
    bug upstream of verification — THAT contract is pinned by
    tests/test_llm_ops.py's xxhash-equals-md5 pair-set equivalence, which
    recomputes both pipelines end to end. Row-local projection —
    bench-neutral (l07x is a headline query)."""
    threshold = 0.5
    out = D.minhash_dedup_pairs(
        t["documents"], n_hashes=12, rows_per_band=4,
        threshold=threshold, hash_fn="xxhash64",
    )
    return out.withColumn(
        "valid",
        (F.col("id_a") < F.col("id_b")) & (F.col("jaccard") >= threshold),
    )


def _simhash_oracle() -> str:
    bit_exprs = []
    for p in range(16):
        votes = (
            f"list_sum(list_transform(list_transform(list_distinct({_TOKS}), w -> md5(w)), "
            f"h -> CASE WHEN substr(h, {p + 1}, 1) IN "
            f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END))"
        )
        bit_exprs.append(f"CASE WHEN {votes} >= 0 THEN '1' ELSE '0' END")
    sig = " || ".join(bit_exprs)
    return f"""
        WITH sigs AS (SELECT doc_id, {sig} AS simhash16 FROM documents)
        SELECT simhash16, CAST(min(doc_id) AS BIGINT) AS keeper,
               count(*) AS n_docs
        FROM sigs GROUP BY simhash16
    """


@register(
    "l08_simhash_dedup",
    tables=("documents",),
    oracle=_simhash_oracle(),
    tags=("llm", "dedup", "simhash"),
)
def l08(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """SimHash(16-bit) buckets: per-bit majority vote over token md5s,
    grouped by signature (hamming-0 near-dup groups). Element-wise array
    math — single scan + one groupBy."""
    return D.simhash_buckets(t["documents"])


# --- similarity search -------------------------------------------------------

# TOTAL over the raw table domain (r14 numeric-extremes leg): DuckDB's
# optimizer pushes the `normsq > 0` filter — and with it this whole
# quantization expression — BELOW the validity-gate WHERE, so it runs on
# pre-gate rows too, and an unguarded NaN→DECIMAL cast crashed six
# similarity oracles even though the gate excludes those rows from the
# result. Same class as the r13 Spark pushed-fold finding, other engine.
# The CASE yields NULL for non-finite elements; gated-in rows are
# all-finite, so admitted values are unchanged.
_DEC_VEC = (
    "list_transform(embedding, x -> CASE WHEN isfinite(CAST(x AS DOUBLE)) "
    "THEN CAST(round(CAST(x AS DOUBLE), 3) AS DECIMAL(10,3)) END)"
)

# The validity gate mirrors operators/similarity.py::valid_vectors +
# with_norm (r13 adversarial-data audit): NULL/empty/wrong-dim vectors are
# excluded in `v`, zero-norm vectors in `n` — cosine is undefined for all
# of them, and on clean data every row passes so parity is unchanged.
# Element-NULL vectors are excluded too (ADVICE r13): DuckDB's list_sum
# SKIPS null elements while Spark's fold null-propagates, so they have no
# cross-engine-agreed similarity. Non-finite elements likewise (r14
# numeric-extremes leg): a NaN/±Inf coordinate has no rankable dot
# product, and DuckDB cannot even TRY_CAST NaN to the shared DECIMAL
# quantization grid (Invalid Input Error, not NULL) — the sweep caught
# six similarity oracles crashing on one planted NaN element. The
# predicate treats NULL-or-non-finite as one "bad element" test so the
# isfinite(NULL)→NULL three-valued trap cannot mask a NULL element.
_VALID_VEC_SQL = (
    "embedding IS NOT NULL AND len(embedding) = 64 "
    "AND NOT coalesce(list_contains(list_transform(embedding, "
    "x -> x IS NULL OR NOT isfinite(CAST(x AS DOUBLE))), true), false)"
)

_VEC_CTE = f"""
v AS (
    SELECT vec_id, {_DEC_VEC} AS dec
    FROM embeddings
    WHERE {_VALID_VEC_SQL}
),
n AS (
    SELECT * FROM (
        SELECT vec_id, dec,
               list_sum(list_transform(dec, x -> CAST(x * x AS DECIMAL(28,6)))) AS normsq
        FROM v
    ) WHERE normsq > 0
)
"""

_PAIR_DOT = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST(q.dec[i] * c.dec[i] AS DECIMAL(28,6))))"
)


@register(
    "l09_cosine_topk",
    tables=("embeddings",),
    oracle=f"""
        WITH {_VEC_CTE},
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   CAST({_PAIR_DOT} AS DOUBLE)
                     / sqrt(CAST(q.normsq AS DOUBLE) * CAST(c.normsq AS DOUBLE))
                     AS cosine_sim
            FROM n q JOIN n c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < 10
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine_sim
        FROM ranked WHERE rank <= 5
    """,
    tags=("llm", "similarity", "ann", "topk"),
    headline=True,
)
def l09(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors: broadcast queries ×
    corpus scan, exact-decimal dot products (bit-identical ranking), ranked
    window per query. The exactness baseline for ANN."""
    emb = t["embeddings"]
    out = S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                             dim=64)
    return out.withColumn("rank", F.col("rank").cast("int"))


def _planes_sql(n_planes: int = 8, dim: int = 64) -> list[str]:
    planes = []
    for p in range(n_planes):
        coeffs = [
            "1" if hashlib.md5(f"{p}_{d}".encode()).hexdigest()[0] >= "8" else "-1"
            for d in range(dim)
        ]
        planes.append("[" + ", ".join(coeffs) + "]")
    return planes


def _ann_oracle(n_planes: int = 6, dim: int = 64) -> str:
    bits = []
    for p, plane in enumerate(_planes_sql(n_planes, dim)):
        dot = (
            f"list_sum(list_transform(generate_series(1, {dim}), "
            f"i -> CAST(dec[i] * ({plane}[i]) AS DECIMAL(28,6))))"
        )
        bits.append(f"CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END")
    sig = " || ".join(bits)
    # hamming-1 multi-probe = join on hamming(q,c) <= 1 (the Spark side
    # explodes query probes to keep an equi-join; same candidate set)
    ham = " + ".join(
        f"(CASE WHEN substr(q.bucket, {p + 1}, 1) <> substr(c.bucket, {p + 1}, 1) "
        "THEN 1 ELSE 0 END)"
        for p in range(n_planes)
    )
    return f"""
        WITH {_VEC_CTE},
        sigs AS (SELECT vec_id, dec, normsq, {sig} AS bucket FROM n),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   CAST({_PAIR_DOT} AS DOUBLE)
                     / sqrt(CAST(q.normsq AS DOUBLE) * CAST(c.normsq AS DOUBLE))
                     AS cosine_sim
            FROM sigs q JOIN sigs c ON ({ham}) <= 1 AND c.vec_id <> q.vec_id
            WHERE q.vec_id < 50
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine_sim
        FROM ranked WHERE rank <= 5
    """


@register(
    "l10_ann_lsh_topk",
    tables=("embeddings",),
    oracle=_ann_oracle(),
    tags=("llm", "similarity", "ann", "lsh"),
)
def l10(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """LSH-bucketed ANN top-5 (50 queries): 6 random-hyperplane signatures
    bucket the corpus; each query scores only buckets within hamming-1 of
    its own (multi-probe, expanded on the query side so the candidate join
    stays an equi-join). Recall vs l09 measured in tests."""
    emb = t["embeddings"]
    out = S.lsh_ann_topk(emb, emb.filter(F.col("vec_id") < 50), k=5)
    return out.withColumn("rank", F.col("rank").cast("int"))


def _ivf_oracle(
    n_centroids: int = 16, nprobe: int = 3, n_queries: int = 30, dim: int = 64
) -> str:
    def dot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {dim}), "
            f"i -> CAST({a}[i] * {b}[i] AS DECIMAL(28,6))))"
        )

    return f"""
        WITH {_VEC_CTE},
        cents AS (
            SELECT vec_id AS cent_id, dec AS c_dec, normsq AS c_normsq
            FROM n WHERE vec_id < {n_centroids}
        ),
        assign AS (
            SELECT n.vec_id, n.dec, n.normsq, c.cent_id,
                   CAST({dot('n.dec', 'c.c_dec')} AS DOUBLE)
                     / sqrt(CAST(n.normsq AS DOUBLE) * CAST(c.c_normsq AS DOUBLE)) AS cos
            FROM n CROSS JOIN cents c
        ),
        cells AS (
            SELECT vec_id AS neighbor_id, dec, normsq, cent_id AS cell
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
                  FROM assign)
            WHERE rn = 1
        ),
        probes AS (
            SELECT vec_id AS query_id, dec AS q_dec, normsq AS q_normsq,
                   cent_id AS cell
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
                  FROM assign WHERE vec_id < {n_queries})
            WHERE rn <= {nprobe}
        ),
        scored AS (
            SELECT p.query_id, c.neighbor_id,
                   CAST({dot('p.q_dec', 'c.dec')} AS DOUBLE)
                     / sqrt(CAST(p.q_normsq AS DOUBLE) * CAST(c.normsq AS DOUBLE))
                     AS cosine_sim
            FROM cells c JOIN probes p ON c.cell = p.cell
            WHERE c.neighbor_id <> p.query_id
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine_sim
        FROM ranked WHERE rank <= 5
    """


@register(
    "l12_ann_ivf_topk",
    tables=("embeddings",),
    oracle=_ivf_oracle(),
    tags=("llm", "similarity", "ann", "ivf"),
    headline=True,  # r04 verdict: ANN surface was oracle-green but never benched
)
def l12(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """IVF ANN top-5 (30 queries, 16 cells, nprobe=3): corpus partitioned
    into Voronoi cells by nearest centroid, queries probe only their 3
    nearest cells — the data-adaptive counterpart to l10's oblivious
    hyperplanes (FAISS IVF-flat shape). Centroids are the first 16 vectors
    by id so the oracle replays cell assignment exactly; KMeans-trained
    centroids are a drop-in swap (same plan). Candidate join is a
    broadcast equi-join on the cell id — corpus side never expands."""
    emb = t["embeddings"]
    out = S.ivf_ann_topk(emb, emb.filter(F.col("vec_id") < 30), k=5, dim=64)
    return out.withColumn("rank", F.col("rank").cast("int"))


@register(
    "l12b_ann_ivf_kmeans",
    tables=("embeddings",),
    oracle=None,  # KMeans training is iterative — not SQL-expressible
    tags=("llm", "similarity", "ann", "ivf", "kmeans"),
)
def l12b(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """IVF ANN with KMeans-trained centroids — the production variant of
    l12 (data-adaptive Voronoi cells via pyspark.ml KMeans, fixed seed).
    Same downstream plan as l12: broadcast assignment, probe expansion,
    equi-join on cell. Rows-only check (training is iterative, no SQL
    twin); tests/test_llm_ops.py asserts its recall ≥ the first-K variant
    on unbiased queries.

    Self-validating output (VERDICT r15 directive 7): ``valid`` pins the
    top-k contract per row — ranks are the dense sequence 1..k per query
    with cosine non-increasing along it, the neighbor is never the query
    itself, and the score is a lawful cosine (|cos| ≤ 1 + ε). Recall
    can't be a per-row flag (IVF trades it by design, nprobe 3/16); the
    recall bound lives in tests/test_llm_ops.py. One window over the
    ≤ 150-row output — negligible."""
    emb = t["embeddings"]
    cents = S.kmeans_centroids(emb, n_centroids=16, seed=7)
    out = S.ivf_ann_topk(
        emb, emb.filter(F.col("vec_id") < 30), k=5, nprobe=3,
        centroids=cents, dim=64,
    ).withColumn("rank", F.col("rank").cast("int"))
    w = W.partitionBy("query_id").orderBy("rank")
    prev_cos = F.lag("cosine_sim").over(w)
    prev_rank = F.lag("rank").over(w)
    return out.withColumn(
        "valid",
        (F.col("neighbor_id") != F.col("query_id"))
        & (F.abs(F.col("cosine_sim")) <= 1.0 + 1e-9)
        & F.coalesce(F.col("rank") == prev_rank + 1, F.col("rank") == 1)
        & F.coalesce(prev_cos >= F.col("cosine_sim"), F.lit(True)),
    )


def _neardup_oracle(n_planes: int = 4, dim: int = 64, threshold: float = 0.4) -> str:
    bits = []
    for p, plane in enumerate(_planes_sql(n_planes, dim)):
        dot = (
            f"list_sum(list_transform(generate_series(1, {dim}), "
            f"i -> CAST(dec[i] * ({plane}[i]) AS DECIMAL(28,6))))"
        )
        bits.append(f"CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END")
    sig = " || ".join(bits)
    ham = " + ".join(
        f"(CASE WHEN substr(a.bucket, {p + 1}, 1) <> substr(b.bucket, {p + 1}, 1) "
        "THEN 1 ELSE 0 END)"
        for p in range(n_planes)
    )
    return f"""
        WITH {_VEC_CTE},
        sigs AS (SELECT vec_id, dec, normsq, {sig} AS bucket FROM n),
        pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   CAST(list_sum(list_transform(generate_series(1, {dim}),
                        i -> CAST(a.dec[i] * b.dec[i] AS DECIMAL(28,6)))) AS DOUBLE)
                     / sqrt(CAST(a.normsq AS DOUBLE) * CAST(b.normsq AS DOUBLE))
                     AS cosine_sim
            FROM sigs a JOIN sigs b ON a.vec_id < b.vec_id AND ({ham}) <= 1
        )
        SELECT id_a, id_b, cosine_sim FROM pairs WHERE cosine_sim >= {threshold}
    """


@register(
    "l11_embedding_neardup",
    tables=("embeddings",),
    oracle=_neardup_oracle(),
    tags=("llm", "dedup", "embedding"),
)
def l11(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the semantic dedup variant,
    hyperplane-LSH bucketed (4 planes, hamming-1 multiprobe) so the
    candidate join is an equi-join on the bucket key, never a cartesian
    product; the oracle mirrors the bucket predicate as hamming(a,b) <= 1.
    Threshold 0.4 is calibrated to the synthetic corpus (uniform vectors:
    max pairwise cosine ≈ 0.51) so the result set is non-trivial."""
    return S.embedding_near_dups(t["embeddings"], threshold=0.4)


@register(
    "l13_repetition_stats",
    tables=("documents",),
    oracle=f"""
        WITH toks AS (SELECT doc_id, {_SH_TOKS} AS t FROM documents),
        g AS (
            SELECT doc_id, t,
                   CASE WHEN len(t) > 0 THEN
                       list_transform(generate_series(1, greatest(len(t) - 4, 1)),
                                      i -> array_to_string(list_slice(t, i, i + 4), ' '))
                   ELSE [] END AS grams
            FROM toks
        )
        SELECT doc_id,
               CAST(len(grams) AS BIGINT) AS n_ngrams,
               CASE WHEN len(grams) > 0
                    THEN 1 - len(list_distinct(grams)) / len(grams)
               END AS dup_ngram_ratio,
               CASE WHEN len(t) > 0
                    THEN list_max(list_transform(list_distinct(t),
                             w -> len(list_filter(t, x -> x = w)))) / len(t)
               END AS top_token_ratio
        FROM g
    """,
    tags=("llm", "text", "repetition"),
)
def l13(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Repetition/boilerplate prefilter (C4/Gopher-style): duplicate
    5-gram fraction + most-common-token frequency, as pure array
    expressions — one corpus pass, no shuffle."""
    return X.repetition_stats(t["documents"]).select(
        "doc_id", "n_ngrams", "dup_ngram_ratio", "top_token_ratio"
    )


#: The corpus carries no real PII, so the spec synthesizes a contact tail
#: per document (deterministically, from doc_id) and scrubs it — the
#: redaction work is real, the oracle mirrors the same construction.
_PII_TAIL_SPARK = (
    lambda F, c: F.concat(
        c,
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad(F.col("doc_id").cast("string"), 7, "0"),
    )
)


@register(
    "l14_pii_scrub",
    tables=("documents",),
    oracle=f"""
        WITH e AS (
            SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com or +1-555-'
                        || lpad(CAST(doc_id AS VARCHAR), 7, '0') AS text2
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text2, '{X.PII_EMAIL}')) AS BIGINT)
                   AS n_emails,
               CAST(len(regexp_extract_all(text2, '{X.PII_PHONE}')) AS BIGINT)
                   AS n_phones,
               regexp_replace(regexp_replace(text2, '{X.PII_EMAIL}', '<EMAIL>', 'g'),
                              '{X.PII_PHONE}', '<PHONE>', 'g') AS scrubbed
        FROM e
    """,
    tags=("llm", "text", "pii"),
)
def l14(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """PII redaction: count + mask emails/phones with engine-portable
    regexes; single projection pass, no shuffle."""
    docs = t["documents"].withColumn(
        "text2", _PII_TAIL_SPARK(F, F.col("text"))
    )
    return X.pii_scrub(docs, "text2").select(
        "doc_id", "n_emails", "n_phones", "scrubbed"
    )


@register(
    "l15_stratified_sample",
    tables=("documents",),
    oracle="""
        SELECT doc_id, lang, source
        FROM documents
        WHERE substr(md5('mix1:' || CAST(doc_id AS VARCHAR)), 1, 8) <
              CASE lang WHEN 'en' THEN '80000000' WHEN 'de' THEN 'g'
                        WHEN 'fr' THEN '40000000' WHEN 'es' THEN '40000000'
                        WHEN 'zh' THEN 'g' ELSE '19999999' END
    """,
    tags=("llm", "sampling", "mixing"),
)
def l15(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Deterministic stratified sampling for corpus mixing: md5 hash-gate
    per language (upsample low-resource langs, downsample en) — pure
    filter, no shuffle, reproducible across engines/retries; the oracle
    replays the exact selection."""
    from ..operators.sampling import deterministic_stratified_sample

    rates = {"en": 0.5, "de": 1.0, "fr": 0.25, "es": 0.25, "zh": 1.0}
    return deterministic_stratified_sample(
        t["documents"], rates, strata_col="lang", default_rate=0.1, salt="mix1"
    ).select("doc_id", "lang", "source")


@register(
    "l16_vocab_topk",
    tables=("documents",),
    oracle="""
        SELECT token, CAST(n AS BIGINT) AS n, CAST(rank AS BIGINT) AS rank
        FROM (
            SELECT token, count(*) AS n,
                   row_number() OVER (ORDER BY count(*) DESC, token) AS rank
            FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
            GROUP BY token
        ) WHERE rank <= 50
    """,
    tags=("llm", "vocab", "topk"),
)
def l16(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Corpus vocabulary top-50: map-side-combined token counts, then a
    TakeOrderedAndProject top-k (distributed heaps, never a
    single-partition vocabulary sort)."""
    return X.vocab_topk(t["documents"], k=50)


@register(
    "l23_boilerplate_chunks",
    tables=("documents",),
    oracle="""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
                   FROM documents
                   WHERE doc_id IS NOT NULL),  -- Rule 1 (r16): id-keyed output
        p AS (SELECT doc_id, words,
                     unnest(generate_series(
                         0, CAST(ceil(len(words) / 3.0) AS BIGINT) - 1)) AS pos
              FROM w),
        c AS (SELECT doc_id, pos,
                     array_to_string(words[(pos*3+1):(pos*3+3)], ' ') AS chunk
              FROM p),
        dfreq AS (SELECT chunk, count(DISTINCT doc_id) AS dc
                  FROM c GROUP BY chunk),
        m AS (SELECT c.doc_id, c.pos, c.chunk, (dc > 2) AS hot
              FROM c JOIN dfreq USING (chunk))
        SELECT doc_id,
               coalesce(string_agg(chunk, ' ' ORDER BY pos)
                        FILTER (NOT hot), '') AS clean_text,
               CAST(count(*) FILTER (NOT hot) AS BIGINT) AS n_kept,
               CAST(count(*) FILTER (hot) AS BIGINT) AS n_dropped
        FROM m GROUP BY doc_id
    """,
    tags=("llm", "dedup", "boilerplate", "chunks"),
)
def l23(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Sub-document boilerplate removal (RefinedWeb's repeated-paragraph
    pass, word-chunk granularity): 3-word chunks appearing in more than
    2 documents are excised from every document; text reassembled in
    order. One explode + one doc-frequency agg + one join + one
    reassembly groupBy."""
    return X.remove_boilerplate_chunks(
        t["documents"], chunk_words=3, max_df=2
    )


@register(
    "l24_vocab_coverage",
    tables=("documents",),
    oracle="""
        WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                     FROM documents),
        vocab AS (
            SELECT token FROM tok GROUP BY token
            ORDER BY count(*) DESC, token LIMIT 30
        ),
        m AS (SELECT doc_id, (v.token IS NOT NULL) AS inv
              FROM tok LEFT JOIN vocab v USING (token))
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(*) FILTER (NOT inv) AS BIGINT) AS n_oov,
               count(*) FILTER (NOT inv) / count(*) AS oov_rate
        FROM m GROUP BY doc_id
    """,
    tags=("llm", "quality", "vocab", "oov"),
)
def l24(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Tokenizer-fit scoring: per-document OOV rate against the corpus's
    top-30 vocabulary (deterministic count-desc/token-asc top-k,
    broadcast back). oov_rate is one exact long/long IEEE divide —
    bit-identical across engines."""
    return X.vocab_coverage(t["documents"], vocab_size=30)


@register(
    "l25_intradoc_chunk_dedup",
    tables=("documents",),
    oracle="""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
                   FROM documents
                   WHERE doc_id IS NOT NULL),  -- Rule 1 (r16): id-keyed output
        p AS (SELECT doc_id, words,
                     unnest(generate_series(
                         0, CAST(ceil(len(words) / 2.0) AS BIGINT) - 1)) AS pos
              FROM w),
        c AS (SELECT doc_id, pos,
                     array_to_string(words[(pos*2+1):(pos*2+2)], ' ') AS chunk
              FROM p),
        r AS (SELECT *, row_number() OVER (
                  PARTITION BY doc_id, chunk ORDER BY pos) AS rn
              FROM c),
        agg AS (
            SELECT doc_id,
                   coalesce(string_agg(chunk, ' ' ORDER BY pos)
                            FILTER (rn = 1), '') AS clean_text,
                   CAST(count(*) FILTER (rn > 1) AS BIGINT) AS n_dropped
            FROM r GROUP BY doc_id
        )
        -- left join back onto w so a NULL-text doc keeps its row with
        -- NULL outputs, matching Spark's null propagation — the p CTE's
        -- generate_series(0, NULL) silently dropped it (r13 audit)
        SELECT w.doc_id, a.clean_text, a.n_dropped
        FROM w LEFT JOIN agg a USING (doc_id)
    """,
    tags=("llm", "dedup", "repetition", "intradoc"),
)
def l25(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Within-document repetition scrub: repeated 2-word chunks collapse
    to their first occurrence, in place. Zero-shuffle pure array
    expression (the oracle needs a window; Spark doesn't)."""
    return X.dedup_chunks_within_doc(t["documents"], chunk_words=2)


@register(
    "l18_neardup_components_star",
    tables=("documents",),
    oracle=f"""
        WITH RECURSIVE {_SHINGLE_CTE_CAPPED},
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
            FROM sh a JOIN sh b USING (shingle)
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        pairs AS (
            SELECT id_a, id_b FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
        ),
        edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION ALL SELECT id_b, id_a FROM pairs
        ),
        reach(id, r) AS (
            SELECT u, u FROM edges
            UNION
            SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v
        )
        SELECT id AS doc_id, min(r) AS component
        FROM reach GROUP BY id
    """,
    tags=("llm", "dedup", "components", "iterative", "star"),
)
def l18(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Same closure as l17 but via large-star/small-star alternation
    (Kiveris et al. SoCC'14) — O(log n) rounds independent of component
    diameter, the variant that survives pathological long chains at
    extreme scale. Identical oracle to l17: both algorithms must agree."""
    pairs = D.jaccard_pairs(
        t["documents"], threshold=0.5, max_shingle_df=MAX_SHINGLE_DF
    ).select("id_a", "id_b")
    return D.neardup_components_star(pairs)


@register(
    "l18b_star_cc_chains",
    tables=("documents",),
    oracle="""
        WITH RECURSIVE e AS (
            SELECT a.doc_id AS u, b.doc_id AS v
            FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
            WHERE a.doc_id % 16 <> 15
        ),
        edges AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        reach(id, r) AS (
            SELECT u, u FROM edges
            UNION
            SELECT e2.u, reach.r FROM edges e2 JOIN reach ON reach.id = e2.v
        )
        SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
    """,
    tags=("llm", "dedup", "components", "iterative", "star"),
    headline=True,  # VERDICT r05 #6: the dedup-closure path (the most
    # iterative code in the repo) had no bench row — a regression there
    # was invisible
)
def l18b(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Star-CC closure cost in isolation: a deterministic synthetic edge
    set (doc_id → doc_id+1 chains within groups of 16) replaces Jaccard
    candidate generation, so this row tracks the iterative
    large-star/small-star convergence loop itself — pair generation is
    already benched by l06/l07. Chain edges force multi-round
    convergence (diameter 16 → ≤ ~5 rounds). Input materialization is
    eager: the r10 fresh-session and bench-session A/B pair (PROGRESS.md
    r10.1) found the modes FLIP with session state — fresh: none
    2.67 < lazy 2.79 < eager 2.85; after the l06-l12 pipelines have run
    (the driver-bench condition): eager 2.88 < lazy 2.99 < none 3.42 —
    so the r09 +29% driver regression was session noise plus host
    variance, not the eager materialization job."""
    docs = t["documents"].select("doc_id")
    a, b = docs.alias("a"), docs.alias("b")
    pairs = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .filter(F.col("a.doc_id") % 16 != 15)
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    return D.neardup_components_star(pairs)


#: l19's benchmark split: every 17th doc plays the eval suite; the rest is
#: the training corpus being screened.
_BENCH_PRED = "doc_id % 17 = 0"


@register(
    "l19_decontamination",
    tables=("documents",),
    oracle=f"""
        WITH toks AS (SELECT doc_id, {_SH_TOKS} AS t FROM documents),
        sh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                generate_series(1, greatest(len(t) - 2, 1)),
                i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS shingle
            FROM toks WHERE len(t) > 0
        ),
        bench AS (SELECT DISTINCT shingle FROM sh WHERE {_BENCH_PRED}),
        corp AS (SELECT * FROM sh WHERE NOT ({_BENCH_PRED})),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM corp GROUP BY doc_id),
        hits AS (
            SELECT c.doc_id, count(*) AS n_hit
            FROM corp c JOIN bench USING (shingle) GROUP BY c.doc_id
        )
        SELECT s.doc_id, s.n_sh, COALESCE(h.n_hit, 0) AS n_hit,
               COALESCE(h.n_hit, 0) / s.n_sh AS contamination,
               COALESCE(h.n_hit, 0) / s.n_sh >= 0.2 AS contaminated
        FROM sizes s LEFT JOIN hits h USING (doc_id)
    """,
    tags=("llm", "decontamination", "broadcast"),
)
def l19(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Benchmark decontamination: flag training docs whose word-3-gram
    overlap with the (broadcast) eval-set shingle table exceeds 20% —
    the keep-test-data-out-of-train pass every LLM corpus needs. The
    benchmark side is always tiny, so the join is shuffle-free on the
    corpus side."""
    docs = t["documents"]
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    return D.decontaminate(corpus, bench, threshold=0.2)


@register(
    "l44_overlap_sketch",
    tables=("documents",),
    oracle=f"""
        WITH {_SHINGLE_CTE},
        tagged AS (
            SELECT CASE WHEN {_BENCH_PRED} THEN 'eval' ELSE 'train' END AS split,
                   shingle
            FROM sh
            WHERE shingle IS NOT NULL
        ),
        buckets AS (
            SELECT split, {SK.hll_buckets_sql("shingle")} FROM tagged
        ),
        regs0 AS (
            SELECT split, bucket, MAX(rho) AS rho FROM buckets
            GROUP BY split, bucket
        ),
        regs AS (
            SELECT * FROM regs0
            UNION ALL
            SELECT 'union' AS split, bucket, MAX(rho) AS rho FROM regs0
            GROUP BY bucket
        ),
        {SK.hll_tail_sql(group_cols=("split",), estimate_col="est_shingles")}
    """,
    tags=("llm", "decontamination", "sketch", "portable", "overlap"),
)
def l44(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Corpus-overlap sketch: train/eval word-3-gram set sizes and their
    union estimated from ONE shingle pass via the portable HLL
    (operators/sketches.py) — intersection and eval-containment follow by
    inclusion–exclusion, so the contamination *measurement* (how much
    eval text leaked into train?) needs no shingle join at all, unlike
    l19's per-doc decontamination *filter*. The union row is a
    register-level max-merge, never a second scan; at 100 TB this is
    arithmetic over three 4096-cell tables where the exact answer is a
    full shuffle of every shingle. Fully replayable → value-hash
    oracle (test_sketches pins the inclusion–exclusion estimate within
    5% of the exact intersection)."""
    sh = D.shingle_table(t["documents"])
    tagged = sh.select(
        F.when(F.col("doc_id") % 17 == 0, "eval").otherwise("train").alias("split"),
        "shingle",
    )
    return SK.hll_split_overlap(
        tagged, "shingle", "split", estimate_col="est_shingles"
    )


def _split_oracle() -> str:
    from ..operators.sampling import rate_threshold

    t90 = rate_threshold(0.9)
    t95 = rate_threshold(0.9 + 0.05)
    return f"""
        SELECT doc_id, lang,
               CASE
                 WHEN substring(md5('split1:' || CAST(doc_id AS VARCHAR)), 1, 8)
                      < '{t90}' THEN 'train'
                 WHEN substring(md5('split1:' || CAST(doc_id AS VARCHAR)), 1, 8)
                      < '{t95}' THEN 'val'
                 ELSE 'test'
               END AS split
        FROM documents
        WHERE doc_id IS NOT NULL
    """


@register(
    "l21_hash_split",
    tables=("documents",),
    oracle=_split_oracle(),
    tags=("llm", "split", "deterministic"),
)
def l21(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Deterministic train/val/test split (90/5/5) by md5 hash gate — the
    reproducible, growth-stable alternative to randomSplit: a doc's split
    never changes as the corpus grows, so later crawls can't leak val
    docs into train. Narrow projection, no shuffle, no RNG state."""
    from ..operators.sampling import deterministic_split

    return deterministic_split(
        t["documents"], {"train": 0.9, "val": 0.05, "test": 0.05}
    ).select("doc_id", "lang", "split")


@register(
    "l45_weighted_sample",
    tables=("documents",),
    oracle="""
        WITH keyed AS (
            SELECT doc_id, lang, n_chars,
                   ln((CAST('0x' || substr(md5('wsample1:' ||
                         CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
                      / 4294967296.0)
                   / CAST(n_chars AS DOUBLE) AS wkey
            -- mirror the operator's validity gate (r15): NULL keys have
            -- no identity to hash, NaN weights outrank everything in
            -- Spark and poison the sample
            FROM documents
            WHERE doc_id IS NOT NULL AND n_chars > 0
              AND NOT isnan(CAST(n_chars AS DOUBLE))
        )
        SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        FROM keyed ORDER BY wkey DESC, doc_id LIMIT 100
    """,
    tags=("llm", "sampling", "weighted", "deterministic"),
)
def l45(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis–
    Spirakis rank keys, operators/sampling.py::weighted_sample) — spend a
    100-doc budget with inclusion probability ∝ document length. Same
    determinism contract as l15/l21 (md5-gated, engine-replayable); the
    top-k is per-partition heads + merge, never a full sort. The rank
    key stays internal — the oracle compares the selected SET."""
    from ..operators.sampling import weighted_sample

    return weighted_sample(t["documents"], "n_chars", k=100).select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
    )


@register(
    "l22_editdist_dedup",
    tables=("documents",),
    oracle=r"""
        WITH n AS (
            SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t
            FROM documents
        ),
        -- zero-content docs excluded like the Spark side (r15 rule 17):
        -- blanks pool into the ''/' ' blocks and emit quadratic 0-distance
        -- pairs on a dirty corpus
        b AS (SELECT doc_id, t, substring(t, 1, 16) AS blk FROM n
              WHERE length(trim(t)) > 0)
        SELECT x.doc_id AS id_a, y.doc_id AS id_b,
               CAST(levenshtein(x.t, y.t) AS BIGINT) AS edit_dist
        FROM b x JOIN b y USING (blk)
        WHERE x.doc_id < y.doc_id AND levenshtein(x.t, y.t) <= 20
    """,
    tags=("llm", "dedup", "editdist", "blocking"),
)
def l22(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Edit-distance near-dup pairs with prefix blocking: Levenshtein ≤ 20
    among docs sharing a 16-char normalized prefix — the record-linkage
    blocking discipline that keeps the quadratic distance off all-pairs."""
    return D.editdist_pairs(t["documents"], max_dist=20, prefix_len=16)


@register(
    "l20_sequence_packing",
    tables=("documents",),
    oracle="""
        WITH t AS (
            SELECT lang, doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
            -- Rule 1 (r16): the packed position is defined by the id
            -- ORDER; a NULL id has no place in it (and Spark sorts NULLS
            -- FIRST where DuckDB sorts NULLS LAST — every offset after
            -- the NULL row shifted, a live dirty-sweep divergence)
            WHERE doc_id IS NOT NULL
        ),
        c AS (
            SELECT *, COALESCE(SUM(n_tokens) OVER (
                PARTITION BY lang ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS cum_before
            FROM t
        )
        -- DuckDB's windowed SUM(BIGINT) yields HUGEINT; without these casts
        -- the //-derived columns arrive in pandas as float64 (5.0) while
        -- Spark emits int64 (5) and the driver's value hash diverges even
        -- though every value is identical (r5 l20 red cell).
        SELECT lang, doc_id, n_tokens,
               CAST(cum_before // 512 AS BIGINT) AS chunk_id,
               CAST(cum_before % 512 AS BIGINT) AS chunk_offset,
               CAST((cum_before + n_tokens - 1) // 512 - cum_before // 512 + 1
                   AS BIGINT) AS spans_chunks
        FROM c
    """,
    tags=("llm", "packing", "window"),
)
def l20(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Sequence packing: concatenate-and-chunk documents into 512-token
    context windows per language shard — each doc gets the (chunk_id,
    offset) where it starts and how many windows it spans. Window
    cumsum per group; parallelism = shards, the layout training jobs
    consume anyway."""
    from ..operators.packing import pack_sequences

    return pack_sequences(t["documents"], ctx_len=512, group_col="lang")


@register(
    "l19x_decontamination_shuffle",
    tables=("documents",),
    # Same answer as l19 — only the physical join strategy differs — so the
    # spec reuses l19's oracle verbatim and earns a full hash row.
    oracle=REGISTRY["l19_decontamination"].oracle,
    tags=("llm", "decontamination", "shuffle", "scale"),
)
def l19x(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """l19's corpus-vs-corpus scale path: when the "benchmark" side is
    itself too big to broadcast (screening crawl N against all earlier
    crawls), the shingle join runs as a shuffle hash join instead —
    both sides hash-partitioned on the shingle key, Catalyst's runtime
    bloom-filter injection pruning the probe side. Identical semantics
    (shares l19's oracle); tests/test_plans.py asserts the broadcast is
    really gone from this plan and present in l19's."""
    docs = t["documents"]
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    return D.decontaminate(
        corpus, bench, threshold=0.2, broadcast_benchmark=False
    )


@register(
    "l26_training_shuffle",
    tables=("documents",),
    oracle="""
        WITH h AS (
            SELECT doc_id,
                   substring(md5('ep0:' || CAST(doc_id AS VARCHAR)), 1, 8) AS hx
            FROM documents
            WHERE doc_id IS NOT NULL
        ),
        s AS (
            SELECT doc_id, hx,
                   CAST(CAST('0x' || hx AS BIGINT) % 8 AS INT) AS shard
            FROM h
        )
        SELECT doc_id, shard,
               CAST(row_number() OVER (
                   PARTITION BY shard ORDER BY hx, doc_id) AS BIGINT) AS pos
        FROM s
    """,
    tags=("llm", "shuffle", "sharding", "deterministic"),
)
def l26(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Deterministic epoch shuffle + shard assignment: every doc lands in
    one of 8 output shards in a reproducible pseudorandom order (salt =
    epoch seed) — the write layout a sharded training data-loader reads.
    One hash-partition exchange + in-partition sort, the same layout the
    sharded writer needs anyway."""
    from ..operators.sampling import shuffle_shards

    return shuffle_shards(t["documents"], n_shards=8, salt="ep0").select(
        "doc_id", "shard", "pos"
    )


def _qc_oracle() -> str:
    from ..operators.text import QC_WEIGHTS_16

    w = ", ".join(str(x) for x in QC_WEIGHTS_16)
    wexpr = (
        f"[{w}][(CAST('0x' || substr(md5('qc1#' || w), 1, 1) AS INT) % 16) + 1]"
    )
    return f"""
        WITH t AS (
            SELECT doc_id, {_TOKS} AS toks FROM documents
        ),
        s AS (
            SELECT doc_id,
                   CAST(list_sum(list_transform(toks, w -> {wexpr}))
                        AS BIGINT) AS score_sum,
                   CAST(len(toks) AS BIGINT) AS n_tokens
            FROM t
        )
        SELECT doc_id, score_sum, n_tokens,
               score_sum / n_tokens AS score,
               score_sum / n_tokens >= 0.0 AS keep
        FROM s
    """


@register(
    "l27_quality_classifier",
    tables=("documents",),
    oracle=_qc_oracle(),
    tags=("llm", "quality", "classifier", "hashing-trick"),
)
def l27(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """fastText/CCNet-style quality gate: a linear model over hashed
    bag-of-words features (16 buckets, integer weights), scored per doc
    as a zero-shuffle higher-order array expression — the cheap
    classifier pass every web corpus goes through before training."""
    from ..operators.text import hashed_linear_classifier

    return hashed_linear_classifier(t["documents"], threshold=0.0)


def _pq_oracle(m: int = 4, ksub: int = 16, dsub: int = 16, n_q: int = 10, k: int = 5) -> str:
    def sub_d(j: int) -> str:
        o = j * dsub
        return (
            f"list_sum(list_transform(generate_series(1, {dsub}), "
            f"i -> CAST((d.dec[{o} + i] - c.dec[{o} + i]) * "
            f"(d.dec[{o} + i] - c.dec[{o} + i]) AS DECIMAL(28,6))))"
        )

    dcols = ",\n                   ".join(f"{sub_d(j)} AS d{j}" for j in range(m))
    rcols = ",\n                   ".join(
        f"row_number() OVER (PARTITION BY vec_id ORDER BY d{j}, code) AS r{j}"
        for j in range(m)
    )
    ecols = ",\n                   ".join(
        f"min(CASE WHEN r{j} = 1 THEN code END) AS code{j}" for j in range(m)
    )
    qjoins = "\n            ".join(
        f"JOIN dists q{j} ON q{j}.code = e.code{j}"
        + (f" AND q{j}.vec_id < {n_q}" if j == 0 else " AND q{0}.vec_id = q{1}.vec_id".format(0, j))
        for j in range(m)
    )
    adc = " + ".join(f"q{j}.d{j}" for j in range(m))
    return f"""
        WITH v AS (SELECT vec_id, {_DEC_VEC} AS dec FROM embeddings
                   WHERE {_VALID_VEC_SQL}),
        cb AS (SELECT CAST(vec_id AS INT) AS code, dec FROM v WHERE vec_id < {ksub}),
        dists AS (
            SELECT d.vec_id, c.code,
                   {dcols}
            FROM v d CROSS JOIN cb c
        ),
        rk AS (
            SELECT vec_id, code,
                   {rcols}
            FROM dists
        ),
        enc AS (
            SELECT vec_id,
                   {ecols}
            FROM rk GROUP BY vec_id
        ),
        scored AS (
            SELECT q0.vec_id AS query_id, e.vec_id AS neighbor_id,
                   CAST({adc} AS DOUBLE) AS adc_dist
            FROM enc e
            {qjoins}
            WHERE e.vec_id <> q0.vec_id
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adc_dist
        FROM ranked WHERE rank <= {k}
    """


@register(
    "l28_pq_adc_topk",
    tables=("embeddings",),
    oracle=_pq_oracle(),
    tags=("llm", "similarity", "ann", "pq", "quantization"),
)
def l28(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Product-quantization ANN (the FAISS IVF-PQ storage half): vectors
    compress to m=4 codes (16-word sub-codebooks), queries score code
    words via a per-query lookup table (ADC) — raw floats untouched at
    query time. First-ksub codebooks keep it deterministic; exact-decimal
    distances make codes and ranking engine-portable."""
    emb = t["embeddings"]
    return S.pq_adc_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, dim=64)


def _ivfpq_oracle(
    m: int = 4,
    ksub: int = 16,
    dsub: int = 16,
    n_centroids: int = 16,
    nprobe: int = 3,
    n_q: int = 10,
    k: int = 5,
    dim: int = 64,
) -> str:
    def sub_d(j: int) -> str:
        o = j * dsub
        return (
            f"list_sum(list_transform(generate_series(1, {dsub}), "
            f"i -> CAST((d.dec[{o} + i] - c.dec[{o} + i]) * "
            f"(d.dec[{o} + i] - c.dec[{o} + i]) AS DECIMAL(28,6))))"
        )

    dot = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        "i -> CAST(n.dec[i] * ct.c_dec[i] AS DECIMAL(28,6))))"
    )
    dcols = ",\n                   ".join(f"{sub_d(j)} AS d{j}" for j in range(m))
    rcols = ",\n                   ".join(
        f"row_number() OVER (PARTITION BY vec_id ORDER BY d{j}, code) AS r{j}"
        for j in range(m)
    )
    ecols = ",\n                   ".join(
        f"min(CASE WHEN r{j} = 1 THEN code END) AS code{j}" for j in range(m)
    )
    qjoins = "\n            ".join(
        f"JOIN dists q{j} ON q{j}.vec_id = p.query_id AND q{j}.code = e.code{j}"
        for j in range(m)
    )
    adc = " + ".join(f"q{j}.d{j}" for j in range(m))
    return f"""
        WITH {_VEC_CTE},
        cb AS (SELECT CAST(vec_id AS INT) AS code, dec FROM v WHERE vec_id < {ksub}),
        dists AS (
            SELECT d.vec_id, c.code,
                   {dcols}
            FROM v d CROSS JOIN cb c
        ),
        rk AS (
            SELECT vec_id, code,
                   {rcols}
            FROM dists
        ),
        enc AS (
            SELECT vec_id,
                   {ecols}
            FROM rk GROUP BY vec_id
        ),
        cents AS (
            SELECT vec_id AS cent_id, dec AS c_dec, normsq AS c_normsq
            FROM n WHERE vec_id < {n_centroids}
        ),
        assign AS (
            SELECT n.vec_id, ct.cent_id,
                   CAST({dot} AS DOUBLE)
                     / sqrt(CAST(n.normsq AS DOUBLE) * CAST(ct.c_normsq AS DOUBLE)) AS cos
            FROM n CROSS JOIN cents ct
        ),
        cells AS (
            SELECT vec_id AS neighbor_id, cent_id AS cell
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
                  FROM assign)
            WHERE rn = 1
        ),
        probes AS (
            SELECT vec_id AS query_id, cent_id AS cell
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
                  FROM assign WHERE vec_id < {n_q})
            WHERE rn <= {nprobe}
        ),
        scored AS (
            SELECT p.query_id, e.vec_id AS neighbor_id,
                   CAST({adc} AS DOUBLE) AS adc_dist
            FROM enc e
            JOIN cells cl ON cl.neighbor_id = e.vec_id
            JOIN probes p ON p.cell = cl.cell
            {qjoins}
            WHERE e.vec_id <> p.query_id
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adc_dist
        FROM ranked WHERE rank <= {k}
    """


@register(
    "l29_ivfpq_topk",
    tables=("embeddings",),
    oracle=_ivfpq_oracle(),
    tags=("llm", "similarity", "ann", "ivf", "pq"),
)
def l29(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Full FAISS-style IVF-PQ top-5: IVF cells prune WHERE each query
    looks (nprobe=3 of 16 Voronoi cells), PQ shrinks WHAT is read there
    (candidates scored by ADC lookups over m=4 codes — the inverted lists
    carry 2 bytes of codes per vector, never raw floats). First-K
    centroids AND codebooks keep the whole index oracle-replayable."""
    emb = t["embeddings"]
    return S.ivfpq_adc_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                            dim=64)


@register(
    "l30_gopher_quality",
    tables=("documents",),
    oracle=f"""
        WITH t AS (
            SELECT doc_id, text, {_TOKS} AS tk, len({_TOKS}) AS n
            FROM documents
        ),
        s AS (
            SELECT doc_id, n,
                   (length(text) - (n - 1)) / n AS mean_wl,
                   len(list_filter(tk, w -> regexp_matches(w, '[a-z]', 'i'))) AS n_alpha,
                   len(list_filter(tk, w -> list_contains(
                       ['the','of','and','to','a'], w))) AS stop_hits
            FROM t
        )
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_words,
               mean_wl AS mean_word_len,
               n_alpha / n AS alpha_ratio,
               CAST(stop_hits AS BIGINT) AS stopword_hits,
               n >= 10 AND n <= 100000 AS pass_word_count,
               mean_wl >= 3.0 AND mean_wl <= 10.0 AS pass_word_len,
               n_alpha / n >= 0.8 AS pass_alpha,
               stop_hits >= 2 AS pass_stopwords,
               (n >= 10 AND n <= 100000) AND (mean_wl >= 3.0 AND mean_wl <= 10.0)
                 AND (n_alpha / n >= 0.8) AND (stop_hits >= 2) AS pass_gopher
        FROM s
    """,
    tags=("llm", "quality", "gopher", "rules"),
)
def l30(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Gopher-rule quality battery (published Rae et al. 2021 recipe):
    word-count bounds, mean-word-length bounds, alphabetic-word ratio,
    stopword evidence — per-rule flags plus the conjunction, zero-shuffle
    array expressions fused into the scan."""
    return X.gopher_quality(t["documents"])


@register(
    "l31_doc_chunking",
    tables=("documents",),
    oracle="""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        c AS (
            SELECT doc_id, tk, len(tk) AS n,
                   CASE WHEN len(tk) <= 32 THEN 1
                        ELSE CAST((len(tk) - 32 + 24 - 1) // 24 AS INT) + 1
                   END AS n_chunks
            FROM t
        ),
        e AS (
            SELECT doc_id, tk,
                   unnest(generate_series(0, n_chunks - 1)) AS i
            FROM c
        )
        SELECT doc_id,
               CAST(i AS INT) AS chunk_idx,
               CAST(i * 24 AS BIGINT) AS start_token,
               CAST(len(tk[i*24 + 1 : i*24 + 32]) AS BIGINT) AS n_chunk_tokens,
               array_to_string(tk[i*24 + 1 : i*24 + 32], ' ') AS chunk_text
        FROM e
    """,
    tags=("llm", "chunking", "rag", "windows"),
)
def l31(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Sliding-window document chunking (32-token windows, stride 24 —
    8-token overlap): the RAG-index / long-context-eval splitter,
    complementary to l20's cross-document packing. Pure per-row
    sequence + slice + posexplode — no shuffle anywhere."""
    from ..operators.packing import chunk_documents

    return chunk_documents(t["documents"], chunk_len=32, stride=24)


@register(
    "l32_tfidf_keywords",
    tables=("documents",),
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        tf AS (
            SELECT doc_id, token, count(*) AS tf
            FROM tok GROUP BY doc_id, token
        ),
        dl AS (SELECT doc_id, sum(tf) AS n_tok FROM tf GROUP BY doc_id),
        dfr AS (SELECT token, count(*) AS df_docs FROM tf GROUP BY token),
        n AS (SELECT count(*) AS n_docs FROM documents),
        s AS (
            SELECT tf.doc_id, tf.token,
                   CAST(tf.tf * n.n_docs AS DOUBLE)
                     / CAST(dl.n_tok * dfr.df_docs AS DOUBLE) AS score
            FROM tf JOIN dl USING (doc_id)
                    JOIN dfr USING (token)
                    CROSS JOIN n
        ),
        r AS (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, token) AS rank
            FROM s
        )
        SELECT doc_id, token, CAST(rank AS INT) AS rank, score
        FROM r WHERE rank <= 3
    """,
    tags=("llm", "text", "tfidf", "keywords"),
)
def l32(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Per-doc top-3 keywords by tf-idf (linear exact-rational idf, so
    the ranking replays bit-for-bit in the oracle; log-idf is a
    one-expression production swap). One explode shuffle, two
    partial+final aggs, vocabulary-sized df join, per-doc top-k."""
    return X.tfidf_top_terms(t["documents"], k=3)


def _span_oracle(mask_rate: float = 0.15, salt: str = "sc1") -> str:
    from ..operators.sampling import rate_threshold

    thr = rate_threshold(mask_rate)
    gate = (
        f"substring(md5('{salt}:' || CAST(doc_id AS VARCHAR) || ':' || i), 1, 8)"
        f" < '{thr}'"
    )
    return f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        m AS (
            SELECT doc_id, tk,
                   list_transform(generate_series(1, len(tk)),
                                  i -> {gate}) AS fl
            FROM t
        )
        SELECT doc_id,
               CAST(len(tk) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(fl, x -> x)) AS BIGINT) AS n_masked,
               array_to_string(list_transform(generate_series(1, len(tk)),
                   i -> CASE WHEN fl[i] THEN '<mask>' ELSE tk[i] END), ' ')
                   AS input_text,
               -- array_to_string([]) is NULL in DuckDB but '' in Spark's
               -- array_join: coalesce the zero-masked case — but ONLY for
               -- real docs. A NULL text null-propagates on both engines
               -- (r13 adversarial-data audit: the unconditional coalesce
               -- fabricated '' where Spark correctly says NULL).
               CASE WHEN tk IS NOT NULL THEN
                   COALESCE(array_to_string(list_filter(list_transform(
                       generate_series(1, len(tk)),
                       i -> CASE WHEN fl[i] THEN tk[i] ELSE NULL END),
                       x -> x IS NOT NULL), ' '), '')
               END AS target_text
        FROM m
    """


@register(
    "l33_span_corruption",
    tables=("documents",),
    oracle=_span_oracle(),
    tags=("llm", "denoising", "masking", "datagen"),
)
def l33(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """T5-style span-corruption pairs: 15% of token positions masked by
    the deterministic (salt, doc, position) md5 gate; input keeps
    sentinels in place, target extracts the masked tokens in order.
    Zero-shuffle array expressions; a new salt re-rolls the epoch."""
    from ..operators.packing import span_corruption

    return span_corruption(t["documents"], mask_rate=0.15)


#: l34's eval-suite split (distinct from l19's % 17 so the two
#: decontamination rows witness different screenings).
_BLOOM_BENCH_PRED = "doc_id % 13 = 0"


@register(
    "l34_bloom_decontamination",
    tables=("documents",),
    oracle=f"""
        WITH toks AS (SELECT doc_id, {_SH_TOKS} AS t FROM documents),
        sh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                generate_series(1, greatest(len(t) - 2, 1)),
                i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS shingle
            FROM toks WHERE len(t) > 0
        ),
        bench AS (SELECT DISTINCT shingle FROM sh WHERE {_BLOOM_BENCH_PRED}),
        corp AS (SELECT * FROM sh WHERE NOT ({_BLOOM_BENCH_PRED})),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM corp GROUP BY doc_id),
        hits AS (
            SELECT c.doc_id, count(*) AS n_hit
            FROM corp c JOIN bench USING (shingle) GROUP BY c.doc_id
        )
        SELECT s.doc_id, s.n_sh, COALESCE(h.n_hit, 0) AS n_hit,
               COALESCE(h.n_hit, 0) / s.n_sh AS contamination,
               COALESCE(h.n_hit, 0) / s.n_sh >= 0.2 AS contaminated
        FROM sizes s LEFT JOIN hits h USING (doc_id)
    """,
    tags=("llm", "decontamination", "bloom", "runtime-filter"),
)
def l34(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """l19's decontamination behind a *relational Bloom filter*: the
    benchmark side broadcasts only its set-bit positions (≤ 2 MB at 2^18
    bits, whatever the benchmark size), candidates survive k
    broadcast-hash bit joins, and exact verification shuffles just the
    candidate sliver. Bloom filters have no false negatives and the
    verification join removes false positives, so the oracle is the
    PLAIN decontamination SQL — a green hash row proves the prefilter
    loses nothing."""
    docs = t["documents"]
    bench = docs.filter(F.col("doc_id") % 13 == 0)
    corpus = docs.filter(F.col("doc_id") % 13 != 0)
    return D.decontaminate_bloom(corpus, bench, threshold=0.2)


#: l35's training-mix recipe over the language strata (weights are parts,
#: not fractions — "4 parts en : 2 de : 2 fr : 1 es : 1 zh").
_MIX_TARGETS = {"en": 4, "de": 2, "fr": 2, "es": 1, "zh": 1}


def _mixture_oracle() -> str:
    values = ", ".join(f"('{s}', {w})" for s, w in _MIX_TARGETS.items())
    return f"""
        WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        t(lang, w) AS (VALUES {values}),
        j AS (SELECT c.lang, c.n, t.w FROM c JOIN t USING (lang)),
        m AS (
            SELECT n AS n_m, w AS w_m FROM j j1
            WHERE NOT EXISTS (
                SELECT 1 FROM j j2 WHERE j2.n * j1.w < j1.n * j2.w
            )
            ORDER BY j1.lang LIMIT 1
        ),
        thr AS (
            SELECT j.lang,
                   least(CAST(4294967296 AS HUGEINT),
                         (CAST(4294967296 AS HUGEINT) * j.w * m.n_m)
                         // (m.w_m * j.n)) AS t_int
            FROM j, m
        )
        SELECT d.doc_id, d.lang, d.source
        FROM documents d JOIN thr ON thr.lang = d.lang
        WHERE CAST('0x' || substr(md5('mix3:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
                   AS BIGINT) < t_int
    """


@register(
    "l35_mixture_rebalance",
    tables=("documents",),
    oracle=_mixture_oracle(),
    tags=("llm", "sampling", "mixture", "deterministic"),
)
def l35(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Training-mix rebalancing: downsample each language stratum so the
    admitted corpus hits the 4:2:2:1:1 recipe exactly in expectation,
    keeping the binding stratum in full — thresholds are exact-integer
    (floor(2^32·w_s·n_m/(w_m·n_s)) vs the 32-bit md5 prefix), so DuckDB
    replays the selection bit-for-bit. One stratum-count agg (driver dict
    bounded by #strata) + one narrow filter pass; the corpus never
    shuffles."""
    from ..operators.sampling import mixture_rebalance

    kept, _ = mixture_rebalance(t["documents"], _MIX_TARGETS)
    return kept.select("doc_id", "lang", "source")


@register(
    "l36_duplicated_spans",
    tables=("documents",),
    oracle="""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        p AS (
            SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS i
            FROM t WHERE len(toks) >= 8
        ),
        g AS (
            SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                   md5(array_to_string(toks[i:i+7], ' ')) AS gram
            FROM p
        ),
        d AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        h AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)),
        b AS (
            SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                             OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
                        THEN 1 ELSE 0 END AS brk
            FROM h
        ),
        sp AS (
            SELECT doc_id, pos,
                   CAST(sum(brk) OVER (PARTITION BY doc_id ORDER BY pos)
                        AS BIGINT) AS span_id
            FROM b
        )
        SELECT doc_id, span_id, min(pos) AS span_start,
               max(pos) + 7 AS span_end,
               count(*) AS n_grams,
               max(pos) + 7 - min(pos) + 1 AS span_tokens
        FROM sp GROUP BY doc_id, span_id
    """,
    tags=("llm", "dedup", "substring", "spans"),
)
def l36(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Substring-level duplicate detection (the scalable stand-in for
    suffix-array dedup, Lee et al. 2022): maximal token spans whose word
    8-grams each appear in ≥ 2 distinct docs — the boilerplate to excise
    rather than dropping whole documents. Linear explode → one
    map-combinable gram agg → equi-join back → per-doc window assembly;
    no suffix array, no global sort."""
    return D.duplicated_ngram_spans(t["documents"], n=8, min_docs=2)


def _pagerank_oracle(iters: int = 5, scale: int = 1_000_000, dn: int = 85, dd: int = 100) -> str:
    base = scale - scale * dn // dd
    parts = [
        f"""
        nodes AS (SELECT doc_id AS id FROM documents),
        e0 AS (
            SELECT id AS src, id + 1 AS dst FROM nodes WHERE id % 16 <> 15
            UNION ALL
            SELECT id, id - id % 16 FROM nodes WHERE id % 16 <> 0
        ),
        e AS (SELECT src, dst FROM e0 JOIN nodes n ON n.id = e0.dst),
        deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        ed AS (SELECT e.src, e.dst, deg.deg FROM e JOIN deg USING (src)),
        r0 AS (SELECT id, CAST({scale} AS BIGINT) AS pr FROM nodes)"""
    ]
    for it in range(1, iters + 1):
        parts.append(
            f""",
        s{it} AS (
            SELECT ed.dst AS id, sum(r.pr // ed.deg) AS c
            FROM ed JOIN r{it - 1} r ON r.id = ed.src GROUP BY ed.dst
        ),
        r{it} AS (
            SELECT n.id, CAST({base} + ({dn} * COALESCE(s.c, 0)) // {dd} AS BIGINT) AS pr
            FROM nodes n LEFT JOIN s{it} s USING (id)
        )"""
        )
    return "WITH " + "".join(parts) + f"\n        SELECT id, pr FROM r{iters}"


@register(
    "l38_pagerank",
    tables=("documents",),
    oracle=_pagerank_oracle(),
    tags=("llm", "graph", "pagerank", "iterative"),
)
def l38(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Fixed-point PageRank (5 iterations, scaled-integer ranks) over a
    deterministic link graph derived from doc ids (intra-group chains +
    links back to the group head — the l18b discipline: the spec tracks
    the ITERATIVE loop, not edge generation). Exact-integer damping makes
    every iteration bit-identical across engines and partition orders;
    the oracle replays it as 5 chained CTEs. Per iteration: one equi-join
    edge⋈rank + one map-combinable groupBy(dst) — the Pregel-on-relations
    shape, nothing on the driver."""
    from ..operators.graph import pagerank

    docs = t["documents"].select(F.col("doc_id").alias("id"))
    e0 = (
        docs.filter(F.col("id") % 16 != 15)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
        .union(
            docs.filter(F.col("id") % 16 != 0).select(
                F.col("id").alias("src"), (F.col("id") - F.col("id") % 16).alias("dst")
            )
        )
    )
    edges = e0.join(docs.select(F.col("id").alias("dst")), "dst", "left_semi")
    return pagerank(docs, edges, iterations=5).select("id", F.col("rank").alias("pr"))


@register(
    "l37_temperature_sampling",
    tables=("documents",),
    oracle="""
        -- NULL strata are excluded from the counts too (the ADVICE r06
        -- rule, mirrored from temperature_sample in r13): a NULL-lang
        -- group can never be admitted (the USING join drops it), and
        -- letting it set n_min would silently over-thin every real
        -- stratum.
        WITH c AS (SELECT lang, count(*) AS n FROM documents
                   WHERE lang IS NOT NULL GROUP BY lang),
        m AS (SELECT min(n) AS n_m FROM c),
        thr AS (
            SELECT c.lang,
                   CAST(floor(4294967296 * sqrt(CAST(m.n_m AS DOUBLE) / c.n))
                        AS BIGINT) AS t_int
            FROM c, m
        )
        SELECT d.doc_id, d.lang, d.source
        FROM documents d JOIN thr USING (lang)
        WHERE CAST('0x' || substr(md5('temp1:' || CAST(doc_id AS VARCHAR)), 1, 8)
                   AS BIGINT) < t_int
    """,
    tags=("llm", "sampling", "temperature", "deterministic"),
)
def l37(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Temperature flattening at alpha=0.5: stratum *s* keeps
    sqrt(n_min/n_s) of its docs, so admitted shares go as sqrt(n_s) —
    the standard anti-dominance sampling for multilingual mixes. The
    smallest stratum survives whole; thresholds are floor(2^32·sqrt(·))
    — IEEE-exact in both engines, so DuckDB replays the identical doc
    selection."""
    from ..operators.sampling import temperature_sample

    kept, _ = temperature_sample(t["documents"], alpha=0.5)
    return kept.select("doc_id", "lang", "source")


@register(
    "l39_token_rarity",
    tables=("documents",),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
        ),
        cf AS (SELECT tok, count(*) AS cf FROM toks GROUP BY tok)
        SELECT t.doc_id, count(*) AS n_tokens,
               CAST(sum(cf.cf) AS BIGINT) AS sum_cf,
               CAST(sum(cf.cf) AS BIGINT) / count(*) AS mean_cf
        FROM toks t JOIN cf USING (tok)
        GROUP BY t.doc_id
    """,
    tags=("llm", "quality", "rarity", "lm"),
)
def l39(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Corpus-frequency rarity score (the cheap perplexity proxy): mean
    corpus term frequency of each doc's tokens — exact integer sums, one
    division at the end, so the score replays identically in DuckDB.
    Rare-token-heavy docs are the OCR-noise/wrong-language candidates;
    all-common-token docs are boilerplate."""
    return X.token_rarity(t["documents"])


@register(
    "l40_bigram_lm",
    tables=("documents",),
    oracle=f"""
        WITH t AS (SELECT {_TOKS} AS toks FROM documents
                   WHERE len(string_split(text, ' ')) >= 2),
        pairs AS (
            SELECT toks[i] AS w1, toks[i + 1] AS w2
            FROM t, unnest(generate_series(1, len(toks) - 1)) AS s(i)
        ),
        c_bg AS (SELECT w1, w2, count(*) AS c_bigram FROM pairs GROUP BY w1, w2),
        c_head AS (SELECT w1, count(*) AS c_head FROM pairs GROUP BY w1)
        SELECT b.w1, b.w2, b.c_bigram, h.c_head,
               b.c_bigram / h.c_head AS p
        FROM c_bg b JOIN c_head h USING (w1)
        WHERE b.c_bigram >= 2
    """,
    tags=("llm", "lm", "ngram", "counting"),
)
def l40(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Bigram LM counting table (KenLM-style, unsmoothed): adjacent-pair
    counts + P(w2|w1) as an exact c_bigram/c_head ratio. One positional
    explode, two map-combinable aggs, one vocab-sized equi-join — the
    n-gram-LM build pass at corpus scale."""
    return X.bigram_lm(t["documents"], min_count=2)


def _bpe_oracle(n_merges: int = 6) -> str:
    parts = [
        f"""
        w0 AS MATERIALIZED (SELECT unnest({_TOKS}) AS w FROM documents),
        v0 AS MATERIALIZED (
            SELECT w, count(*) AS cnt,
                   '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS state
            FROM w0 GROUP BY w
        )"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f""",
        s{i} AS MATERIALIZED (SELECT cnt, string_split(trim(state), '  ') AS s FROM v{i - 1}),
        p{i} AS MATERIALIZED (
            SELECT s[j] AS w1, s[j + 1] AS w2, CAST(sum(cnt) AS BIGINT) AS total
            FROM s{i}, unnest(generate_series(1, len(s) - 1)) AS u(j)
            GROUP BY s[j], s[j + 1]
        ),
        t{i} AS MATERIALIZED (SELECT w1, w2, total FROM p{i} ORDER BY total DESC, w1, w2 LIMIT 1),
        v{i} AS MATERIALIZED (
            SELECT w, cnt,
                   replace(state,
                           ' ' || (SELECT w1 FROM t{i}) || '  ' || (SELECT w2 FROM t{i}) || ' ',
                           ' ' || (SELECT w1 FROM t{i}) || (SELECT w2 FROM t{i}) || ' ') AS state
            FROM v{i - 1}
        )"""
        )
    unions = "\n        UNION ALL ".join(
        f"SELECT {i} AS merge_idx, w1, w2, total AS pair_count FROM t{i}"
        for i in range(1, n_merges + 1)
    )
    return "WITH " + "".join(parts) + f"\n        {unions}"


@register(
    "l41_bpe_merges",
    tables=("documents",),
    oracle=_bpe_oracle(),
    tags=("llm", "tokenizer", "bpe", "iterative"),
)
def l41(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """BPE tokenizer training (6 merges) over the corpus — the corpus
    collapses once into a word-frequency vocab, then every round is one
    pair-count aggregate + a 1-row argmax collect + a literal replace
    merge. Lexicographic tie-breaks and byte-identical replace semantics
    (verified Spark == DuckDB) make the whole merge table
    oracle-replayable as chained CTEs."""
    return X.bpe_merges(t["documents"], n_merges=6)


def _bpe_vocab_oracle(n_merges: int = 6) -> str:
    base = _bpe_oracle(n_merges)
    # same materialized CTE chain; swap the final merge-table select for
    # the post-merge symbol vocabulary of v{n}
    head = base[: base.rindex("SELECT 1 AS merge_idx")]
    return head + f"""SELECT sym, CAST(sum(cnt) AS BIGINT) AS n
        FROM (
            SELECT cnt, unnest(string_split(trim(state), '  ')) AS sym
            FROM v{n_merges}
        ) GROUP BY sym"""


@register(
    "l41b_bpe_vocab",
    tables=("documents",),
    oracle=_bpe_vocab_oracle(),
    tags=("llm", "tokenizer", "bpe", "vocab"),
)
def l41b(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """The trained tokenizer's output side: apply the 6 learned BPE
    merges and return the symbol vocabulary with corpus frequencies —
    the segmentation every downstream token-budget/packing stage would
    consume. Shares l41's chain; the oracle swaps the final select onto
    the same materialized CTE cascade."""
    return X.bpe_symbol_vocab(t["documents"], n_merges=6)


@register(
    "l41c_bpe_batched",
    tables=("events",),
    oracle=None,  # the per-round greedy disjoint selection is a
    # driver-side loop DuckDB can't replay in pure SQL; batch=1 parity
    # with the sequential (oracle-backed l41) trainer plus batched-mode
    # determinism and disjointness invariants are asserted in
    # tests/test_llm_ops.py
    tags=("llm", "tokenizer", "bpe", "iterative", "batched"),
)
def l41c(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Large-vocabulary BPE training with BATCHED merges (VERDICT r08
    directive 3): per round, count pairs once, collect a deep ranked
    prefix, greedily take up to ``batch`` symbol-disjoint pairs, apply
    them as one chained-replace pass — O(n_merges/batch) sequential
    jobs instead of O(n_merges). Trained on the md5-hex corpus (the
    synthetic documents table has 31 distinct words and exhausts BPE at
    89 merges; md5(event_id) gives an sf-scaled distinct-word corpus).
    The 5k-merge/49-round scale run is recorded by
    scripts/bpe_scale_bench.py in PROGRESS.md r09.

    Self-validating output (VERDICT r15 directive 7): ``valid`` audits
    the batched-selection invariants from the OUTPUT alone, through
    window expressions independent of the driver-side selection code —
    within each selection round, counts are non-increasing in rank
    order, and no merge shares a symbol with (or has a symbol equal to
    the concatenation of) any higher-ranked merge of its round. A bug in
    ``_bpe_select_disjoint`` would flip the flag. One window over the
    256-row merge table — negligible."""
    corpus = t["events"].select(
        F.md5(F.col("event_id").cast("string")).alias("text")
    )
    m = X.bpe_merges(corpus, n_merges=256, batch=64)
    w = W.partitionBy("round").orderBy("merge_idx")
    earlier = F.coalesce(
        F.flatten(
            F.collect_list(
                F.array("w1", "w2", F.concat("w1", "w2"))
            ).over(w.rowsBetween(W.unboundedPreceding, -1))
        ),
        F.array().cast("array<string>"),
    )
    prev_cnt = F.lag("pair_count").over(w)
    return m.withColumn(
        "valid",
        (F.col("pair_count") > 0)
        & ~F.array_contains(earlier, F.col("w1"))
        & ~F.array_contains(earlier, F.col("w2"))
        & F.coalesce(prev_cnt >= F.col("pair_count"), F.lit(True)),
    )


@register(
    "l42_hashed_embedding",
    tables=("documents",),
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        b AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5('he1:' || tok), 1, 8) AS BIGINT) % 64 AS b
            FROM toks
        ),
        c AS (SELECT doc_id, b, count(*) AS c FROM b GROUP BY doc_id, b),
        m AS (
            SELECT doc_id, map(list(b ORDER BY b), list(c ORDER BY b)) AS mm
            FROM c GROUP BY doc_id
        )
        SELECT doc_id,
               array_to_string(
                   list_transform(generate_series(0, 63),
                                  i -> CAST(COALESCE(mm[i][1], 0) AS BIGINT)),
                   ',') AS vec,
               CAST(len(map_keys(mm)) AS INT) AS n_nonzero
        FROM m
    """,
    tags=("llm", "embedding", "hashing-trick", "retrieval"),
)
def l42(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Model-free document embeddings by the feature-hashing trick
    (64-bucket token-count histogram, md5-deterministic) — the bridge
    from raw text into the similarity stack: the output array is a
    drop-in ``embedding`` column for brute-force/LSH/IVF top-k (wired in
    tests), giving text retrieval with no model in the loop. Spec
    serializes the vector to an int string (driver canonicalizer cannot
    hash list cells — m01 lesson)."""
    emb = X.hashed_embedding(t["documents"], dim=64)
    return emb.select(
        "doc_id",
        F.array_join(
            F.transform("embedding", lambda x: x.cast("long").cast("string")), ","
        ).alias("vec"),
        F.size(F.filter("embedding", lambda x: x != 0)).alias("n_nonzero"),
    )


def _bpe_tokcount_oracle(n_merges: int = 6) -> str:
    base = _bpe_oracle(n_merges)
    head = base[: base.rindex("SELECT 1 AS merge_idx")]
    return head + f"""SELECT t.doc_id, count(*) AS n_words,
               CAST(sum(len(string_split(trim(v.state), '  '))) AS BIGINT)
                   AS n_bpe_tokens
        FROM (SELECT doc_id, unnest({_TOKS}) AS w FROM documents) t
        JOIN v{n_merges} v USING (w)
        GROUP BY t.doc_id"""


@register(
    "l43_bpe_token_count",
    tables=("documents",),
    oracle=_bpe_tokcount_oracle(),
    tags=("llm", "tokenizer", "bpe", "budget"),
)
def l43(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """Token budgeting under the TRAINED tokenizer: per-doc piece counts
    from the 6-merge BPE segmentation (whitespace counts undercount rare
    words). Vocab-sized segmentation map broadcast onto one corpus pass;
    oracle extends l41's materialized CTE chain with the corpus join."""
    return X.bpe_token_counts(t["documents"], n_merges=6)
