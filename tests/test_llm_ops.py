"""Behavioral tests for the LLM-data operators: do they actually find the
near-duplicates / neighbors they claim to, on fixtures with known answers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from core_etl_spark.operators import dedup as D
from core_etl_spark.operators import similarity as S
from core_etl_spark.operators import text as X


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("today", "tomorrow")),  # near dup of 0
        (3, "completely different content about spark query engines and parquet files"),
        (4, "another unrelated document mentioning embeddings and vector search at scale"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_one(docs):
    out = D.exact_dedup(docs)
    assert out.count() == 4  # 0/1 collapse
    kept = {r.doc_id for r in out.collect()}
    assert 0 in kept and 1 not in kept


def test_exact_dup_groups(docs):
    groups = {r.keeper: r.n_copies for r in D.exact_dup_groups(docs).collect()}
    assert groups[0] == 2 and groups[2] == 1


def test_jaccard_finds_near_dup(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in D.jaccard_pairs(docs, threshold=0.4).collect()}
    assert pairs[(0, 1)] == 1.0  # exact dup
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.5  # near dup
    assert (0, 3) not in pairs and (3, 4) not in pairs


def test_minhash_lsh_finds_near_dup(docs):
    pairs = {(r.id_a, r.id_b) for r in D.minhash_dedup_pairs(docs, threshold=0.4).collect()}
    assert (0, 1) in pairs and (0, 2) in pairs
    assert (3, 4) not in pairs


def test_minhash_xxhash_matches_md5_pairs(docs):
    """The production xxhash64 variant must find the same verified pair set
    as the md5 (oracle-parity) variant on a corpus whose near-dups band-
    collide under both schemes — exact-Jaccard verification makes the final
    set hash-independent."""
    md5_pairs = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in D.minhash_dedup_pairs(docs, threshold=0.4, hash_fn="md5").collect()
    }
    xx_pairs = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in D.minhash_dedup_pairs(docs, threshold=0.4, hash_fn="xxhash64").collect()
    }
    assert md5_pairs == xx_pairs and md5_pairs


def test_simhash_xxhash_groups_exact_dups(docs):
    """Signatures differ between hash functions, but exact duplicates must
    share a bucket under either, and both runs are deterministic."""
    for fn in ("md5", "xxhash64"):
        sigs = {r.doc_id: r.simhash16 for r in D.simhash16(docs, hash_fn=fn).collect()}
        assert sigs[0] == sigs[1]  # exact dup pair
        assert len(sigs[0]) == 16 and set(sigs[0]) <= {"0", "1"}
        again = {r.doc_id: r.simhash16 for r in D.simhash16(docs, hash_fn=fn).collect()}
        assert sigs == again


def test_simhash_buckets_exact_dups(docs):
    sig = {r.doc_id: r.simhash16 for r in D.simhash16(docs).collect()}
    assert sig[0] == sig[1]  # identical text → identical signature
    assert sig[0] != sig[3]
    assert set(sig[0]) <= {"0", "1"} and len(sig[0]) == 16


def test_text_stats_values(docs):
    r = X.text_stats(docs).filter(F.col("doc_id") == 3).collect()[0]
    assert r.n_words == 10 and r.n_distinct_words == 10
    assert r.stopword_ratio == 0.1  # "and"
    assert abs(r.quality_score - 0.9) < 1e-12
    assert r.avg_word_len == 6.3


def test_langid_picks_stopword_language(spark):
    df = spark.createDataFrame(
        [(0, "the cat sat on the mat with a dog and a hat"),
         (1, "der hund und die katze ist das haus und der baum"),
         (2, "xyzzy qwerty plugh")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.predicted_lang for r in X.language_id(df).collect()}
    assert out[0] == "en" and out[1] == "de" and out[2] == "und"


def test_ann_recall_vs_brute_force(spark, sf_dir):
    from core_etl_spark.io import load_tables

    emb = load_tables(spark, sf_dir, ("embeddings",), register=False)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20)
    exact = D  # noqa: F841 (keep import grouping honest)
    bf = S.brute_force_topk(emb, queries, k=5).collect()
    ann = S.lsh_ann_topk(emb, queries, k=5).collect()
    bf_set = {(r.query_id, r.neighbor_id) for r in bf}
    ann_set = {(r.query_id, r.neighbor_id) for r in ann}
    # Recall floor for 6-plane hamming-1 multi-probe on uniform random
    # vectors (neighbors are only mildly concentrated, so this is the
    # hard case for hyperplane LSH).
    assert ann_set  # buckets are non-empty
    recall = len(bf_set & ann_set) / len(bf_set)
    assert recall >= 0.15, f"ANN recall collapsed: {recall}"
    # every ANN hit with rank 1 must be the true cosine ranking within its bucket
    for r in ann:
        assert -1.0001 <= r.cosine_sim <= 1.0001


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    from core_etl_spark.io import load_tables

    emb = load_tables(spark, sf_dir, ("embeddings",), register=False)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20)
    bf = S.brute_force_topk(emb, queries, k=5).collect()
    ivf = S.ivf_ann_topk(emb, queries, k=5, n_centroids=16, nprobe=3).collect()
    bf_set = {(r.query_id, r.neighbor_id) for r in bf}
    ivf_set = {(r.query_id, r.neighbor_id) for r in ivf}
    assert ivf_set
    # nprobe/n_centroids = 3/16 of the corpus scanned; on uniform vectors
    # expected recall ≈ that fraction — floor well below to stay robust.
    recall = len(bf_set & ivf_set) / len(bf_set)
    assert recall >= 0.08, f"IVF recall collapsed: {recall}"
    # every result row ranks within [1, k] and carries a sane cosine
    for r in ivf:
        assert 1 <= r.rank <= 5
        assert -1.0001 <= r.cosine_sim <= 1.0001


def test_ivf_cells_partition_the_corpus(spark, sf_dir):
    """Every corpus vector lands in exactly one cell, and every cell id is a
    centroid id — the inverted lists are a partition of the corpus."""
    from core_etl_spark.io import load_tables

    emb = load_tables(spark, sf_dir, ("embeddings",), register=False)["embeddings"]
    n = S.with_norm(emb).select(
        F.col("vec_id").alias("id"),
        F.col("_dec").alias("dec"),
        F.col("_normsq").alias("normsq"),
    )
    cents = n.filter(F.col("id") < 8).select(
        F.col("id").alias("cent_id"),
        F.col("dec").alias("c_dec"),
        F.col("normsq").alias("c_normsq"),
    )
    assigned = S.ivf_assign_cells(n, cents)
    total = emb.count()
    assert assigned.count() == total
    assert assigned.select("id").distinct().count() == total
    cells = {r.cell for r in assigned.select("cell").distinct().collect()}
    assert cells <= set(range(8))


def test_fingerprint_stability(docs):
    out1 = {r.doc_id: r.fp_int60 for r in X.fingerprint(docs).collect()}
    out2 = {r.doc_id: r.fp_int60 for r in X.fingerprint(docs).collect()}
    assert out1 == out2
    assert out1[0] == out1[1] != out1[3]


def test_ivf_kmeans_centroids_recall(spark, sf_dir):
    """KMeans-trained centroids (the production swap) must not lose recall
    vs the deterministic first-K-by-id centroid table, on the same probe
    budget — data-adaptive Voronoi cells should cover at least as well."""
    from core_etl_spark.io import load_tables

    emb = load_tables(spark, sf_dir, ("embeddings",), register=False)["embeddings"]
    # queries disjoint from the first-K centroid ids: a query that IS a
    # centroid probes its own perfectly-aligned cell (recall inflated to
    # ~0.84 on this fixture) — that's self-query bias, not centroid quality
    queries = emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 60))
    bf_set = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(emb, queries, k=5).collect()
    }

    def recall(centroids):
        got = {
            (r.query_id, r.neighbor_id)
            for r in S.ivf_ann_topk(
                emb, queries, k=5, n_centroids=16, nprobe=3, centroids=centroids
            ).collect()
        }
        return len(bf_set & got) / len(bf_set)

    km = S.kmeans_centroids(emb, n_centroids=16, seed=7)
    r_km, r_first = recall(km), recall(None)
    assert r_km >= r_first, f"kmeans recall {r_km} < first-K recall {r_first}"


def test_repetition_stats_known_values(spark):
    from core_etl_spark.operators import text as TX

    df = spark.createDataFrame(
        [(0, "a b a b a b a b"), (1, "w x y z q r s t")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in TX.repetition_stats(df).collect()}
    # doc 0: 4 5-grams, only 2 distinct ("a b a b a" / "b a b a b")
    assert out[0].n_ngrams == 4 and abs(out[0].dup_ngram_ratio - 0.5) < 1e-12
    assert abs(out[0].top_token_ratio - 0.5) < 1e-12
    # doc 1: all tokens and grams unique
    assert out[1].dup_ngram_ratio == 0.0
    assert abs(out[1].top_token_ratio - 0.125) < 1e-12


def test_pii_scrub_masks_and_counts(spark):
    from core_etl_spark.operators import text as TX

    df = spark.createDataFrame(
        [(0, "mail a.b+c@x-corp.io and b@c.com call +1-555-0012345 now")],
        "doc_id long, text string",
    )
    r = TX.pii_scrub(df).collect()[0]
    assert r.n_emails == 2 and r.n_phones == 1
    assert "@" not in r.scrubbed and "555" not in r.scrubbed
    assert r.scrubbed.count("<EMAIL>") == 2 and r.scrubbed.count("<PHONE>") == 1


def test_stratified_sample_is_deterministic_and_nested(spark, sf_dir):
    from core_etl_spark.io import load_tables
    from core_etl_spark.operators.sampling import deterministic_stratified_sample

    docs = load_tables(spark, sf_dir, ("documents",), register=False)["documents"]
    small = deterministic_stratified_sample(docs, {"en": 0.1}, default_rate=0.0)
    big = deterministic_stratified_sample(docs, {"en": 0.6}, default_rate=0.0)
    s1 = {r.doc_id for r in small.collect()}
    s2 = {r.doc_id for r in small.collect()}
    b = {r.doc_id for r in big.collect()}
    assert s1 == s2, "sampling not deterministic across runs"
    assert s1 <= b, "lower rate must select a subset of a higher rate (same salt)"
    n_en = docs.filter(F.col("lang") == "en").count()
    assert 0 < len(b) < n_en
    # rate 1.0 keeps every row of the stratum ("g" threshold, no top gap)
    full = deterministic_stratified_sample(docs, {"en": 1.0}, default_rate=0.0)
    assert full.count() == n_en


def test_weighted_sample_deterministic_biased_and_bounded(spark, sf_dir):
    from core_etl_spark.io import load_tables
    from core_etl_spark.operators.sampling import weighted_sample

    docs = load_tables(spark, sf_dir, ("documents",), register=False)["documents"]
    s1 = {r.doc_id for r in weighted_sample(docs, "n_chars", k=20).collect()}
    s2 = {r.doc_id for r in weighted_sample(docs, "n_chars", k=20).collect()}
    assert s1 == s2 and len(s1) == 20
    # a different salt is a different (still deterministic) draw
    s3 = {r.doc_id for r in
          weighted_sample(docs, "n_chars", k=20, salt="other").collect()}
    assert s3 != s1
    # inclusion probability rises with weight: a giant-weight row is
    # effectively certain to be drawn (its u^(1/w) -> 1).
    boosted = docs.withColumn(
        "w", F.when(F.col("doc_id") == 7, F.lit(10_000_000)).otherwise(F.lit(1))
    )
    assert 7 in {r.doc_id for r in weighted_sample(boosted, "w", k=5).collect()}
    # zero/negative weights are excluded from the draw entirely
    zeroed = docs.withColumn(
        "w", F.when(F.col("doc_id") < 5, F.lit(0)).otherwise(F.lit(1))
    )
    got = {r.doc_id for r in
           weighted_sample(zeroed, "w", k=docs.count()).collect()}
    assert got.isdisjoint({0, 1, 2, 3, 4})


def test_weighted_sample_plan_is_topk_not_full_sort(spark, sf_dir):
    from core_etl_spark.io import load_tables
    from core_etl_spark.operators.sampling import weighted_sample

    docs = load_tables(spark, sf_dir, ("documents",), register=False)["documents"]
    plan = (
        weighted_sample(docs, "n_chars", k=100)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan, "weighted top-k fell back to a global sort"


def test_jaccard_xxhash_matches_string_pairs(spark, sf_dir):
    """The hashed-shingle-key production path must produce the identical
    scored pair set as the string-key path (no 64-bit collisions on the
    fixture corpus, and none plausible at its size)."""
    from core_etl_spark.io import load_tables

    docs = load_tables(spark, sf_dir, ("documents",), register=False)["documents"]
    str_pairs = {
        (r.id_a, r.id_b, r.n_inter, round(r.jaccard, 12))
        for r in D.jaccard_pairs(docs, threshold=0.5, max_shingle_df=64).collect()
    }
    xx_pairs = {
        (r.id_a, r.id_b, r.n_inter, round(r.jaccard, 12))
        for r in D.jaccard_pairs(
            docs, threshold=0.5, max_shingle_df=64, shingle_key="xxhash64"
        ).collect()
    }
    assert str_pairs == xx_pairs and str_pairs


def test_neardup_components_chain_and_clique(spark):
    """Label propagation must close chains (multi-round) and cliques
    (single round), leaving separate groups separate."""
    pairs = spark.createDataFrame(
        # chain 0-1-2-3-4 (diameter 4), clique {10,11,12}, pair {20,21}
        [(0, 1), (1, 2), (2, 3), (3, 4),
         (10, 11), (10, 12), (11, 12),
         (20, 21)],
        "id_a long, id_b long",
    )
    out = {r.doc_id: r.component for r in D.neardup_components(pairs).collect()}
    assert out == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def _cc_oracle(edge_list):
    """Driver-side union-find oracle for component labels (min id)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_neardup_components_adversarial_depth(spark):
    """A shuffled long-path component (diameter ~30) — the adversarial
    shape for label propagation, which needs diameter rounds. Asserts
    convergence within the guard and exact labels vs a union-find oracle;
    random extra components make sure separate groups stay separate."""
    import random

    rng = random.Random(17)
    nodes = list(range(100, 131))  # path of 31 nodes, diameter 30
    rng.shuffle(nodes)
    edge_list = list(zip(nodes, nodes[1:]))
    # A few disjoint random blobs of 2-5 nodes each.
    nxt = 1000
    for _ in range(6):
        size = rng.randint(2, 5)
        blob = list(range(nxt, nxt + size))
        nxt += size + rng.randint(1, 3)
        for i in range(1, size):
            edge_list.append((blob[i], blob[rng.randrange(i)]))
    rng.shuffle(edge_list)
    expect = _cc_oracle(edge_list)
    pairs = spark.createDataFrame(edge_list, "id_a long, id_b long")
    out = {r.doc_id: r.component for r in D.neardup_components(pairs).collect()}
    assert out == expect


def test_neardup_components_raises_when_unconverged(spark):
    """The runaway guard must fail loudly, not return split components."""
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.neardup_components(pairs, max_iter=2)


def test_neardup_components_star_matches_propagation(spark):
    """large-star/small-star must produce identical labels to min-label
    propagation on every shape: long path, clique, pair, singletons-free
    random graph — and in far fewer rounds on the path."""
    import random

    rng = random.Random(23)
    edge_list = [(i, i + 1) for i in range(40)]  # path, diameter 40
    edge_list += [(a, b) for a in range(100, 105) for b in range(a + 1, 105)]
    edge_list.append((200, 201))
    for _ in range(20):  # random component
        edge_list.append((rng.randint(300, 330), rng.randint(300, 330)))
    edge_list = [(a, b) for a, b in edge_list if a != b]
    expect = _cc_oracle(edge_list)
    pairs = spark.createDataFrame(edge_list, "id_a long, id_b long")
    # max_iter=12 ≪ diameter 40: would fail if rounds scaled with diameter.
    out = {
        r.doc_id: r.component
        for r in D.neardup_components_star(pairs, max_iter=12).collect()
    }
    assert out == expect


def test_approx_sketches_within_tolerance(spark, sf_dir):
    """g21b's sketches must land within their advertised error of the
    exact aggregates (HLL++ rsd=1% -> allow 3%; percentile_approx with
    accuracy 10k is near-exact at fixture size -> allow 1% relative)."""
    from core_etl_spark.io import load_tables
    from core_etl_spark.plans import all_specs

    load_tables(spark, sf_dir)
    li = load_tables(spark, sf_dir, ("lineitem",), register=False)["lineitem"]
    approx = {
        r.l_returnflag: r
        for r in all_specs()["g21b_approx_sketches"].builder(spark, sf_dir).collect()
    }
    exact = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("parts"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, e in exact.items():
        a = approx[flag]
        assert abs(a.approx_parts - e.parts) <= max(3, 0.03 * e.parts)
        assert abs(a.p50_approx - e.p50) <= 0.01 * e.p50
        assert abs(a.p95_approx - e.p95) <= 0.01 * e.p95


def test_decontaminate_flags_overlapping_docs(spark):
    """A corpus doc sharing 3-grams with the benchmark must be flagged at
    the threshold; clean docs must come back with zero hits."""
    bench = spark.createDataFrame(
        [(1000, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains 'quick brown fox' + 'brown fox jumps' -> heavy overlap
            (1, "a quick brown fox jumps right now"),
            (2, "completely unrelated text with no shared phrases at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in D.decontaminate(corpus, bench, threshold=0.2).collect()}
    assert set(out) == {1, 2}
    # doc 1: 5 shingles ('a quick brown','quick brown fox','brown fox jumps',
    # 'fox jumps right','jumps right now'), 2 of them in the benchmark
    assert out[1].n_sh == 5 and out[1].n_hit == 2
    assert abs(out[1].contamination - 0.4) < 1e-12 and out[1].contaminated
    assert out[2].n_hit == 0 and not out[2].contaminated


def test_pack_sequences_invariants(spark):
    """Packing must tile each group's token stream exactly: offsets stay
    inside the window, consecutive docs abut (offset = prev offset +
    prev tokens, mod ctx), and spans_chunks counts boundary crossings."""
    from core_etl_spark.operators.packing import pack_sequences

    rows = [(f"g{g}", i, "w " * (7 * (i % 5) + 1)) for g in (1, 2) for i in range(20)]
    df = spark.createDataFrame(
        [(g, i, t.strip()) for g, i, t in rows], "lang string, doc_id long, text string"
    )
    out = pack_sequences(df, ctx_len=16, group_col="lang").collect()
    assert len(out) == 40
    by_group: dict[str, list] = {}
    for r in sorted(out, key=lambda r: (r.lang, r.doc_id)):
        by_group.setdefault(r.lang, []).append(r)
    for rs in by_group.values():
        cum = 0
        for r in rs:
            assert 0 <= r.chunk_offset < 16
            assert r.chunk_id == cum // 16 and r.chunk_offset == cum % 16
            last = cum + r.n_tokens - 1
            assert r.spans_chunks == last // 16 - cum // 16 + 1
            cum += r.n_tokens


def test_deterministic_split_partitions_and_stays_stable(spark, sf_dir):
    """Every doc lands in exactly one split, proportions are near the
    weights, and growing the corpus never migrates an existing doc."""
    from core_etl_spark.io import load_tables
    from core_etl_spark.operators.sampling import deterministic_split

    docs = load_tables(spark, sf_dir, ("documents",), register=False)["documents"]
    w = {"train": 0.9, "val": 0.05, "test": 0.05}
    full = {r.doc_id: r.split for r in deterministic_split(docs, w).collect()}
    n = len(full)
    assert set(full.values()) <= {"train", "val", "test"}
    counts = {s: sum(1 for v in full.values() if v == s) for s in w}
    assert abs(counts["train"] / n - 0.9) < 0.06
    # growth stability: the same docs in a half-corpus get the same split
    half = {
        r.doc_id: r.split
        for r in deterministic_split(docs.limit(n // 2), w).collect()
    }
    assert all(full[d] == s for d, s in half.items())


def test_deterministic_split_rejects_bad_weights(spark, sf_dir):
    """Invalid weights must fail loudly: a negative weight or a head sum
    over 1 saturates an intermediate hash threshold at 'g' and the later
    splits would silently receive zero rows (ADVICE r05)."""
    import pytest as _pytest

    from core_etl_spark.io import load_tables
    from core_etl_spark.operators.sampling import deterministic_split

    docs = load_tables(spark, sf_dir, ("documents",), register=False)["documents"]
    with _pytest.raises(ValueError, match="negative"):
        deterministic_split(docs, {"train": -0.1, "val": 0.5})
    with _pytest.raises(ValueError, match="> 1"):
        deterministic_split(docs, {"a": 0.8, "b": 0.7, "c": 0.1})
    with _pytest.raises(ValueError, match="at least one"):
        deterministic_split(docs, {})
    # weights summing to exactly 1 (and a remainder-absorbing tail) stay legal
    deterministic_split(docs, {"train": 0.9, "val": 0.05, "test": 0.05})
    deterministic_split(docs, {"train": 1.0, "rest": 0.0})


def test_samplers_exclude_null_keys_and_reject_bad_args(spark):
    """Rule 1 across the sampling module (r16 review): a NULL key has no
    deterministic hash, so NULL-key rows must be EXCLUDED — previously
    deterministic_split piled 100% of NULL-id rows into the LAST split
    (the all-whens-false branch) and shuffle_shards gave them shard NULL
    with a partition-dependent pos. Plus the loud-failure edges: a None
    stratum in rates is silently inert (equality join never matches
    NULL), and a negative k has no meaning."""
    import pytest as _pytest

    from core_etl_spark.operators.sampling import (
        deterministic_split,
        deterministic_stratified_sample,
        shuffle_shards,
        weighted_sample,
    )

    df = spark.createDataFrame(
        [(1, "en", 10.0), (2, "fr", 5.0), (None, "en", 7.0), (3, None, 1.0)],
        "doc_id int, lang string, w double",
    )
    # split: NULL-key row dropped, no NULL split values anywhere
    out = deterministic_split(df, {"train": 0.5, "test": 0.5}).collect()
    assert {r.doc_id for r in out} == {1, 2, 3}
    assert all(r.split in ("train", "test") for r in out)
    # shards: NULL-key row dropped, positions still dense per shard
    sh = shuffle_shards(df, n_shards=2, salt="ep0").collect()
    assert {r.doc_id for r in sh} == {1, 2, 3}
    assert all(r.shard in (0, 1) and r.pos >= 1 for r in sh)
    # a None stratum key would be silently inert — reject loudly
    with _pytest.raises(ValueError, match="None stratum"):
        deterministic_stratified_sample(df, {None: 0.5}, strata_col="lang")
    # negative k is meaningless
    with _pytest.raises(ValueError, match="k must be >= 0"):
        weighted_sample(df, "w", k=-1)
    # k=0 stays legal and empty
    assert weighted_sample(df, "w", k=0).count() == 0


def test_id_keyed_operators_exclude_null_ids(spark):
    """Rule 1 across the id-keyed corpus operators (r16 NULL-primary-key
    sweep): a NULL doc_id has no identity — exact_dedup's keeper window
    put it FIRST (Spark NULLS FIRST) where every SQL twin's min(id)
    dropped it; pack_sequences shifted every subsequent offset;
    the chunk reassemblers merged distinct id-less docs into one group;
    excise passed them through uncleaned. All now exclude NULL-id rows
    (excise still counts their text toward span detection)."""
    from core_etl_spark.operators.dedup import (
        exact_dedup,
        excise_duplicated_spans,
    )
    from core_etl_spark.operators.packing import pack_sequences
    from core_etl_spark.operators.text import (
        dedup_chunks_within_doc,
        remove_boilerplate_chunks,
    )

    df = spark.createDataFrame(
        [
            (1, "en", "a b c d"),
            (2, "en", "a b c d"),
            (None, "en", "a b c d"),
            (None, "en", "x y z w"),
            (3, "fr", "p q r s"),
        ],
        "doc_id int, lang string, text string",
    )
    # exact_dedup: the NULL-id copy must not WIN the fingerprint group
    kept = exact_dedup(df).select("doc_id").collect()
    assert {r.doc_id for r in kept} == {1, 3}
    # pack_sequences: offsets computed over non-NULL ids only
    packed = pack_sequences(df, ctx_len=4, group_col="lang").collect()
    assert {r.doc_id for r in packed} == {1, 2, 3}
    # chunk reassemblers: no merged NULL group in the output
    for out in (
        remove_boilerplate_chunks(df, chunk_words=2, max_df=10),
        dedup_chunks_within_doc(df, chunk_words=2),
        excise_duplicated_spans(df, n=2, min_docs=5),
    ):
        ids = {r.doc_id for r in out.select("doc_id").collect()}
        assert None not in ids and ids == {1, 2, 3}


def test_editdist_pairs_blocking_and_distance(spark):
    """Pairs within the edit budget AND sharing the prefix block are
    found; near-identical texts with different prefixes are (by design)
    not compared — the blocking trade documented on the operator."""
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy cat"),   # dist 3
            (2, "the quick brown fox leaps over a sleepy dog"),   # same block
            (3, "a totally different prefix but same suffix dog"),  # other block
        ],
        "doc_id long, text string",
    )
    out = {(r.id_a, r.id_b): r.edit_dist for r in
           D.editdist_pairs(docs, max_dist=15, prefix_len=16).collect()}
    assert out[(0, 1)] == 3
    assert (0, 2) in out and out[(0, 2)] <= 15
    assert all(3 not in pair for pair in out)  # blocked out by prefix


def test_editdist_block_valve_drops_hot_blocks(spark):
    """max_block_df must exclude oversized prefix blocks wholesale (the
    boilerplate-skew valve) while leaving small blocks untouched."""
    rows = [(i, "boilerplate header repeated everywhere " + str(i)) for i in range(6)]
    rows += [(100, "the quick brown fox jumps over the lazy dog"),
             (101, "the quick brown fox jumps over the lazy cat")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {(r.id_a, r.id_b) for r in
              D.editdist_pairs(docs, max_dist=40, prefix_len=16,
                               max_block_df=4).collect()}
    assert capped == {(100, 101)}  # hot block excluded, small block kept
    uncapped = {(r.id_a, r.id_b) for r in
                D.editdist_pairs(docs, max_dist=40, prefix_len=16).collect()}
    assert (0, 1) in uncapped and (100, 101) in uncapped


def test_ivf_persisted_index_matches_and_prunes(spark, sf_dir, tmp_path):
    """The persisted IVF index must return exactly the in-memory IVF
    result, and a small query set's probe must reach the parquet scan as
    a partition filter covering fewer than all cells — the probe reads
    nprobe-worth of directories, not the corpus."""
    import re

    from core_etl_spark.io import load_tables

    emb = load_tables(spark, sf_dir, ("embeddings",), register=False)["embeddings"]
    path = str(tmp_path / "ivf")
    S.write_ivf_index(emb, path, n_centroids=16)
    queries = emb.filter(F.col("vec_id") < 3)
    out = S.ivf_index_topk(spark, path, queries, k=5, nprobe=3)
    mem = S.ivf_ann_topk(emb, queries, k=5, n_centroids=16, nprobe=3)
    got = {(r.query_id, r.neighbor_id, r.rank) for r in out.collect()}
    want = {(r.query_id, r.neighbor_id, r.rank) for r in mem.collect()}
    assert got == want and got
    plan = out._jdf.queryExecution().executedPlan().toString()
    pf = next(x for x in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan) if x)
    m = re.search(r"IN(?:SET)?\s*\(?([\d,\s]+)\)?", pf)
    assert m, f"no cell IN-list in partition filter: {pf}"
    n_cells = len(re.findall(r"\d+", m.group(1)))
    assert n_cells <= 9, f"3 queries x nprobe 3 must prune to <=9 cells, saw {pf}"


def test_remove_boilerplate_chunks_hand_case(spark):
    """A chunk shared by 3 docs (max_df=2) is excised from each; unique
    chunks survive in order; an all-boilerplate doc returns empty text."""
    from core_etl_spark.operators.text import remove_boilerplate_chunks

    boiler = "copyright acme corp"
    rows = [
        (1, f"{boiler} alpha beta gamma"),
        (2, f"{boiler} delta epsilon zeta"),
        (3, f"{boiler} eta theta iota"),
        (4, boiler),  # nothing but the hot chunk
        (5, "kappa lambda mu nu xi omicron"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_kept, r.n_dropped)
        for r in remove_boilerplate_chunks(df, chunk_words=3, max_df=2).collect()
    }
    assert got[1] == ("alpha beta gamma", 1, 1)
    assert got[2] == ("delta epsilon zeta", 1, 1)
    assert got[3] == ("eta theta iota", 1, 1)
    assert got[4] == ("", 0, 1)  # present, not silently dropped
    assert got[5] == ("kappa lambda mu nu xi omicron", 2, 0)


def test_remove_boilerplate_chunks_partial_tail_and_order(spark):
    """Trailing partial chunks are preserved, and reassembly keeps the
    original chunk order."""
    from core_etl_spark.operators.text import remove_boilerplate_chunks

    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "z z z")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.clean_text
           for r in remove_boilerplate_chunks(df, chunk_words=3, max_df=2)
           .collect()}
    assert got[1] == "a b c d e f g h"  # 3+3+2 words, nothing hot
    assert got[2] == "z z z"


def test_vocab_coverage_hand_case(spark):
    """OOV rate against a size-2 vocabulary: counts and the exact divide."""
    from core_etl_spark.operators.text import vocab_coverage

    # corpus counts: the=4, cat=3, sat=2, mat=1 -> vocab(2) = {the, cat}
    rows = [
        (1, "the cat sat"),
        (2, "the cat sat the mat"),
        (3, "the cat"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_oov, r.oov_rate)
        for r in vocab_coverage(df, vocab_size=2).collect()
    }
    assert got[1] == (3, 1, 1 / 3)
    assert got[2] == (5, 2, 2 / 5)
    assert got[3] == (2, 0, 0.0)


def test_dedup_chunks_within_doc_hand_case(spark):
    """Repeated chunks collapse to their first occurrence in place; a
    repeat appearing later in the doc is dropped wherever it recurs."""
    from core_etl_spark.operators.text import dedup_chunks_within_doc

    rows = [
        (1, "a b a b c"),        # chunks [a b][a b][c] -> "a b c"
        (2, "x y z w"),          # no repeats
        (3, "p q r s p q p q"),  # [p q][r s][p q][p q] -> "p q r s"
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.clean_text, r.n_dropped)
           for r in dedup_chunks_within_doc(df, chunk_words=2).collect()}
    assert got[1] == ("a b c", 1)
    assert got[2] == ("x y z w", 0)
    assert got[3] == ("p q r s", 2)


def test_dedup_chunks_within_doc_is_shuffle_free(spark):
    """The operator must stay a narrow projection: no Exchange in the
    physical plan (its 100 TB contract)."""
    from core_etl_spark.operators.text import dedup_chunks_within_doc

    df = spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
    plan = dedup_chunks_within_doc(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_hashed_classifier_hand_case(spark):
    """Score must equal the hand-computed mean bucket weight (term
    frequency included), and the keep gate must apply the threshold."""
    import hashlib

    from core_etl_spark.operators.text import QC_WEIGHTS_16, hashed_linear_classifier

    text = "alpha beta alpha gamma"
    df = spark.createDataFrame([(7, text)], "doc_id long, text string")
    out = hashed_linear_classifier(df).collect()[0]

    def w(tok: str) -> int:
        nib = int(hashlib.md5(f"qc1#{tok}".encode()).hexdigest()[0], 16)
        return QC_WEIGHTS_16[nib % 16]

    toks = text.split(" ")
    expected = sum(w(t) for t in toks)
    assert out.score_sum == expected
    assert out.n_tokens == 4
    assert abs(out.score - expected / 4) < 1e-12
    assert out.keep == (expected / 4 >= 0.0)


def test_shuffle_shards_layout_and_determinism(spark, sf_dir):
    """Shards must partition the corpus with contiguous 1..n positions per
    shard, replay identically across runs and partitionings, and
    reshuffle under a different salt (epoch)."""
    from core_etl_spark.io import load_tables
    from core_etl_spark.operators.sampling import shuffle_shards

    docs = load_tables(spark, sf_dir, ("documents",), register=False)["documents"]
    out = shuffle_shards(docs, n_shards=4, salt="ep0").select(
        "doc_id", "shard", "pos"
    )
    rows = out.collect()
    n = docs.count()
    assert len(rows) == n
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        assert 0 <= r.shard < 4
        by_shard.setdefault(r.shard, []).append(r.pos)
    # every shard's positions are exactly 1..len (dense rank, no gaps)
    for ps in by_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    # deterministic under repartitioning
    again = {
        (r.doc_id): (r.shard, r.pos)
        for r in shuffle_shards(docs.repartition(13), n_shards=4, salt="ep0")
        .select("doc_id", "shard", "pos")
        .collect()
    }
    assert all(again[r.doc_id] == (r.shard, r.pos) for r in rows)
    # a different epoch salt actually reshuffles
    ep1 = {
        r.doc_id: (r.shard, r.pos)
        for r in shuffle_shards(docs, n_shards=4, salt="ep1")
        .select("doc_id", "shard", "pos")
        .collect()
    }
    assert any(ep1[r.doc_id] != (r.shard, r.pos) for r in rows)


def test_decontaminate_shuffle_matches_broadcast(spark, sf_dir):
    """broadcast_benchmark=False changes only the physical join — the
    flagged set and every count must be identical."""
    from core_etl_spark.io import load_tables

    docs = load_tables(spark, sf_dir, ("documents",), register=False)["documents"]
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    a = D.decontaminate(corpus, bench, threshold=0.2)
    b = D.decontaminate(corpus, bench, threshold=0.2, broadcast_benchmark=False)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_fuzzy_dedup_composite_keeps_one_per_component(spark):
    """c04 semantics on a hand-built corpus: each near-dup cluster
    collapses to its min doc_id; singletons and exact-unique docs all
    survive."""
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    other = (
        "spark executes declarative plans with catalyst and tungsten over "
        "columnar parquet data at cluster scale every day"
    )
    rows = [
        (0, base),
        (1, base),  # exact dup of 0 -> same cluster
        (2, base.replace("today", "tomorrow")),  # near dup of 0
        (3, other),
        (4, other.replace("day", "night")),  # near dup of 3
        (5, "a tiny singleton document with entirely distinct words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = (
        D.minhash_dedup_pairs(docs, n_hashes=12, rows_per_band=4, threshold=0.5)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    comp = D.neardup_components_star(pairs)
    losers = comp.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    survivors = {
        r.doc_id
        for r in docs.join(losers, "doc_id", "left_anti").select("doc_id").collect()
    }
    assert survivors == {0, 3, 5}


def _pq_base_corpus(spark, extra=()):
    """16 maximally-separated base vectors (candidate codebook words) plus
    optional extra rows; 64-dim, values chosen to survive 3-dp rounding
    and keep every norm nonzero (vec i is all (i+1)s)."""
    rows = [(i, [float(i + 1)] * 64) for i in range(16)] + list(extra)
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pq_encode_centroids_get_own_code(spark):
    """With first-16 codebooks, each codebook vector must encode to its own
    index in every subvector (distance 0 beats every other word)."""
    corpus = _pq_base_corpus(spark)
    cb = S.pq_codebooks_first_k(corpus)
    out = {r.id: r.codes for r in S.pq_encode(corpus, cb).collect()}
    for i in range(16):
        assert out[i] == [i, i, i, i]


def test_pq_encode_is_shuffle_free(spark):
    """Encoding is a constant-folded projection — zero Exchange; at 100 TB
    it fuses into the corpus scan."""
    corpus = _pq_base_corpus(spark)
    cb = S.pq_codebooks_first_k(corpus)
    plan = S.pq_encode(corpus, cb)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pq_encode_pandas_matches_literal_encoder(spark):
    """The production-dim encoder (Arrow-batched numpy argmin) must emit
    the same codes as the literal-expression pq_encode on a config where
    float64 vs exact-decimal distances cannot disagree (integral coords,
    distinct distances) — including the first-min tie-break on the
    codebook vectors themselves."""
    extra = [(100 + i, [float(3 * i + 2)] * 64) for i in range(20)]
    corpus = _pq_base_corpus(spark, extra)
    cb = S.pq_codebooks_first_k(corpus)
    lit = {r.id: list(r.codes) for r in S.pq_encode(corpus, cb).collect()}
    pdp = {r.id: list(r.codes) for r in S.pq_encode_pandas(corpus, cb).collect()}
    assert lit == pdp
    # and the numpy path is shuffle-free too (mapInPandas over the scan)
    plan = (
        S.pq_encode_pandas(corpus, cb)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_pq_encode_pandas_production_layout_smoke(spark):
    """m=96 / ksub=256 at dim-768 — the layout the literal encoder cannot
    plan (r10: >7 min of py4j expression building alone). The pandas
    encoder runs it in seconds; codebook vectors still get their own
    codes."""
    import numpy as np
    rng = np.random.RandomState(5)
    rows = [
        (i, [round(float(x), 3) for x in rng.uniform(-1, 1, 768)])
        for i in range(300)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = S.pq_codebooks_first_k(corpus, m=96, ksub=256)
    out = {r.id: list(r.codes) for r in S.pq_encode_pandas(corpus, cb).collect()}
    assert len(out) == 300 and all(len(c) == 96 for c in out.values())
    for i in range(0, 256, 51):
        assert out[i] == [i] * 96  # own sub-codebook word at distance 0


def test_pq_encode_auto_selects_by_layout(spark):
    """VERDICT r10 stretch 10: pin WHICH encoder each codebook layout gets,
    so a refactor can't silently route a production layout onto the
    literal-tree path that stops being plannable (or the oracle config
    onto the float path). Selection is structural — the literal encoder
    is a pure projection (no PythonUDF node), the pandas one is a
    mapInPandas plan."""
    corpus = _pq_base_corpus(spark, [])
    small = S.pq_codebooks_first_k(corpus, m=4, ksub=16)  # 4*16*16 = 1024
    plan_small = (
        S.pq_encode_auto(corpus, small)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" not in plan_small, "l28 config must use the literal tree"

    # production-shaped layout crossing the literal budget: m=96/ksub=256
    # at dim-768 is 96*256*8 = 196k literals — never constructed, only
    # dispatched, so this stays fast.
    import numpy as np

    rng = np.random.RandomState(7)
    rows = [
        (i, [round(float(x), 3) for x in rng.uniform(-1, 1, 768)])
        for i in range(260)
    ]
    big_corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    big = S.pq_codebooks_first_k(big_corpus, m=96, ksub=256)
    assert 96 * 256 * 8 > S._PQ_LITERAL_BUDGET
    plan_big = (
        S.pq_encode_auto(big_corpus, big)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in plan_big, "production layout must use the pandas encoder"


def test_pq_adc_retrieves_planted_cluster(spark):
    """Near-copies of codebook word 3 must encode to code 3 everywhere and
    come back first (with word 3 itself) for a query inside the cluster."""
    extra = [(100, [4.004] * 64), (101, [4.008] * 64)]
    corpus = _pq_base_corpus(spark, extra)
    out = S.pq_adc_topk(corpus, corpus.filter(F.col("vec_id") == 100), k=3)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert [r.query_id for r in rows] == [100, 100, 100]
    # docs 3 and 101 share query 100's codes -> identical (minimal) ADC
    # distance, tie-broken by id; the third hit is strictly farther
    assert [r.neighbor_id for r in rows[:2]] == [3, 101]
    assert rows[0].adc_dist == rows[1].adc_dist
    assert rows[2].adc_dist > rows[0].adc_dist


def test_pq_kmeans_codebooks_train_and_encode(spark, sf_dir):
    """The KMeans trainer must return m × ksub × dim/m codebooks that the
    shared encoder consumes; every code lands in [0, ksub)."""
    from core_etl_spark.io import load_tables

    emb = load_tables(spark, sf_dir, ("embeddings",), register=False)["embeddings"]
    cb = S.pq_codebooks_kmeans(emb, m=4, ksub=8)
    assert len(cb) == 4 and all(len(b) == 8 for b in cb)
    assert all(len(w) == 16 for b in cb for w in b)
    codes = S.pq_encode(emb, cb).collect()
    assert len(codes) == emb.count()
    assert all(0 <= c < 8 for r in codes for c in r.codes)


def test_ivfpq_retrieves_planted_cluster(spark):
    """Composed IVF-PQ: the query probes its own Voronoi cell, where the
    planted near-copies live, and ADC ranks them (with the codebook word
    itself) ahead of everything else.

    Bases here must be direction-diverse (one hot 4-dim block each, 0.1
    floor elsewhere): IVF cells are cosine Voronoi regions, so the
    constant-vector fixture above (all vectors parallel) would collapse
    every cell onto fp-noise ties."""

    def block_vec(block: int, hi: float) -> list:
        return [hi if d // 4 == block else 0.1 for d in range(64)]

    rows = [(i, block_vec(i, 2.0)) for i in range(16)] + [
        (100, block_vec(3, 2.004)),
        (101, block_vec(3, 2.008)),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.ivfpq_adc_topk(
        corpus, corpus.filter(F.col("vec_id") == 100), k=3, nprobe=3
    )
    rows_out = sorted(out.collect(), key=lambda r: r.rank)
    assert len(rows_out) == 3
    # word 3 and copy 101 share the query's cell AND its codes -> minimal
    # (tied) ADC distance, id tie-break; the third hit is a probed
    # neighbor cell's lone member, strictly farther
    assert [r.neighbor_id for r in rows_out[:2]] == [3, 101]
    assert rows_out[2].adc_dist > rows_out[0].adc_dist


def test_ivfpq_persisted_index_matches_and_prunes(spark, sf_dir, tmp_path):
    """The persisted compressed index must return exactly the in-memory
    IVF-PQ result (codebooks round-trip losslessly through their decimal
    strings), and probes must reach the lists scan as a partition filter
    over fewer than all cells."""
    import re

    from core_etl_spark.io import load_tables

    emb = load_tables(spark, sf_dir, ("embeddings",), register=False)["embeddings"]
    path = str(tmp_path / "ivfpq")
    S.write_ivfpq_index(emb, path, n_centroids=16)
    queries = emb.filter(F.col("vec_id") < 3)
    out = S.ivfpq_index_topk(spark, path, queries, k=5, nprobe=3)
    mem = S.ivfpq_adc_topk(emb, queries, k=5, n_centroids=16, nprobe=3)
    got = {(r.query_id, r.neighbor_id, r.rank, r.adc_dist) for r in out.collect()}
    want = {(r.query_id, r.neighbor_id, r.rank, r.adc_dist) for r in mem.collect()}
    assert got == want and got
    plan = out._jdf.queryExecution().executedPlan().toString()
    pf = next(x for x in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan) if x)
    m = re.search(r"IN(?:SET)?\s*\(?([\d,\s]+)\)?", pf)
    assert m, f"no cell IN-list in partition filter: {pf}"
    n_cells = len(re.findall(r"\d+", m.group(1)))
    assert n_cells <= 9, f"3 queries x nprobe 3 must prune to <=9 cells, saw {pf}"


def test_gopher_quality_rules_hand_case(spark):
    """Each rule must fire for the right reason: a good doc passes all
    four; a 4-word doc fails the count rule; a stopword-free doc fails
    only stopword evidence."""
    good = "the quick brown foxes jumped over their lazy dogs and the barn owls watched"
    rows = [
        (0, good),
        (1, "too short for the corpus"),  # 5 words < 10
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in X.gopher_quality(df).collect()}
    assert out[0].pass_gopher
    assert not out[1].pass_word_count and not out[1].pass_gopher
    assert out[2].pass_word_count and out[2].pass_alpha
    assert not out[2].pass_stopwords and not out[2].pass_gopher


def test_chunk_documents_tiling(spark):
    """Windows must start every `stride` tokens, cover every token at
    least once, and let only the final window run short."""
    from core_etl_spark.operators.packing import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, text), (2, "a b c")], "doc_id long, text string"
    )
    rows = sorted(
        chunk_documents(df, chunk_len=4, stride=3).collect(),
        key=lambda r: (r.doc_id, r.chunk_idx),
    )
    d1 = [r for r in rows if r.doc_id == 1]
    assert [(r.chunk_idx, r.start_token, r.n_chunk_tokens) for r in d1] == [
        (0, 0, 4), (1, 3, 4), (2, 6, 4),
    ]
    assert d1[0].chunk_text == "w0 w1 w2 w3"
    assert d1[2].chunk_text == "w6 w7 w8 w9"
    # coverage: every token index appears in at least one window
    covered = set()
    for r in d1:
        covered |= set(range(r.start_token, r.start_token + r.n_chunk_tokens))
    assert covered == set(range(10))
    # short doc: single (possibly short) window
    d2 = [r for r in rows if r.doc_id == 2]
    assert [(r.chunk_idx, r.start_token, r.n_chunk_tokens) for r in d2] == [(0, 0, 3)]
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_len=4, stride=0)


def test_tfidf_top_terms_hand_case(spark):
    """A term unique to one doc must outscore corpus-wide terms; scores
    must equal the exact tf/len × N/df rational."""
    rows = [
        (0, "alpha alpha shared"),
        (1, "beta shared shared"),
        (2, "gamma shared alpha"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.doc_id, r.rank): (r.token, r.score)
        for r in X.tfidf_top_terms(df, k=2).collect()
    }
    # doc 0: alpha tf=2/3, df(alpha)=2, N=3 -> 2/3 * 3/2 = 1.0
    #        shared tf=1/3, df=3 -> 1/3 * 1 = 1/3
    assert out[(0, 1)] == ("alpha", 1.0)
    assert out[(0, 2)][0] == "shared" and abs(out[(0, 2)][1] - 1 / 3) < 1e-15
    # doc 1: beta tf=1/3, df=1 -> 1/3 * 3 = 1.0 beats shared (2/3 * 1)
    assert out[(1, 1)] == ("beta", 1.0)
    assert out[(1, 2)][0] == "shared" and abs(out[(1, 2)][1] - 2 / 3) < 1e-15
    # doc 2: gamma (1/3 * 3) = 1.0 first; alpha (1/3 * 3/2) = 0.5 second
    assert out[(2, 1)] == ("gamma", 1.0)
    assert out[(2, 2)] == ("alpha", 0.5)


def test_incremental_dedup_matches_full_recompute(spark, tmp_path):
    """Index the old corpus once, probe with a new batch: pairs touching
    the new batch must equal the full-union recompute restricted to
    new-side pairs — and old↔old pairs must never be emitted (that work
    is exactly what the index avoids redoing)."""
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    other = (
        "spark executes declarative plans with catalyst and tungsten over "
        "columnar parquet data at cluster scale every day"
    )
    old_rows = [(0, base), (1, base), (2, other)]          # 0/1 are old dups
    new_rows = [
        (10, base.replace("today", "tomorrow")),           # near-dup of old 0/1
        (11, other),                                       # exact dup of old 2
        (12, other),                                       # exact dup of 11 (new-new)
        (13, "a totally fresh singleton document with distinct words only"),
    ]
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    path = str(tmp_path / "idx")
    D.write_dedup_index(old, path)
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.incremental_dedup_pairs(spark, new, path, threshold=0.5).collect()
    }
    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.minhash_dedup_pairs(
            old.union(new), threshold=0.5
        ).collect()
        if r.id_a >= 10 or r.id_b >= 10  # pairs touching the new batch
    }
    assert got == full and got
    assert (2, 11) in got and got[(2, 11)] == 1.0   # new↔old exact dup
    assert (11, 12) in got and got[(11, 12)] == 1.0  # new↔new pair, once
    assert all(a >= 10 or b >= 10 for a, b in got)   # never old↔old
    assert not any(13 in p for p in got)             # singleton stays clean


def test_span_corruption_invariants(spark):
    """Masking must be deterministic, reconstructible (sentinel positions
    in the input line up with target tokens in order), and re-rolled by a
    new salt."""
    from core_etl_spark.operators.packing import span_corruption

    text = " ".join(f"tok{i}" for i in range(40))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = span_corruption(df, mask_rate=0.3).collect()[0]
    inp, tgt = r.input_text.split(" "), (r.target_text.split(" ") if r.target_text else [])
    orig = text.split(" ")
    assert len(inp) == len(orig) == r.n_tokens
    assert r.n_masked == inp.count("<mask>") == len(tgt)
    # splicing the target back into the sentinel slots reconstructs the doc
    it = iter(tgt)
    rebuilt = [next(it) if w == "<mask>" else w for w in inp]
    assert rebuilt == orig
    # unmasked positions are untouched
    assert all(a == b for a, b in zip(inp, orig) if a != "<mask>")
    # determinism + epoch re-roll
    again = span_corruption(df, mask_rate=0.3).collect()[0]
    assert (again.input_text, again.target_text) == (r.input_text, r.target_text)
    other = span_corruption(df, mask_rate=0.3, salt="sc2").collect()[0]
    assert other.input_text != r.input_text


# --- Bloom-prefiltered decontamination ---------------------------------------

def test_bloom_decontamination_matches_exact(spark, sf_dir):
    """The Bloom prefilter must be lossless: identical output to plain
    decontamination on the same corpus/benchmark split (no false
    negatives by construction; verification removes false positives)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 13 == 0)
    corpus = docs.filter(F.col("doc_id") % 13 != 0)
    plain = {
        r.doc_id: (r.n_sh, r.n_hit, r.contaminated)
        for r in D.decontaminate(corpus, bench, threshold=0.2).collect()
    }
    bloom = {
        r.doc_id: (r.n_sh, r.n_hit, r.contaminated)
        for r in D.decontaminate_bloom(corpus, bench, threshold=0.2).collect()
    }
    assert bloom == plain


def test_bloom_m_bits_scales_with_benchmark():
    """ADVICE r06: a fixed 2^18 filter saturates for corpus-sized
    benchmarks; the default now sizes from the benchmark's distinct
    shingle count, keeping fill ≤ ~40% (m ≥ 2·k·n_b, power of two,
    floor 2^18)."""
    assert D._bloom_m_bits(0, 3) == 1 << 18
    assert D._bloom_m_bits(1000, 3) == 1 << 18          # floor holds
    n_big = 1_000_000
    m = D._bloom_m_bits(n_big, 3)
    assert m >= 2 * 3 * n_big
    assert m & (m - 1) == 0                             # power of two
    assert D._bloom_m_bits(n_big, 3) > D._bloom_m_bits(10_000, 3)


def test_bloom_bit_positions_deterministic_and_bounded(spark):
    df = spark.createDataFrame([("alpha beta gamma",)], "s string")
    m = 1 << 10
    vals = df.select(
        *[D._bloom_bit(F.col("s"), i, m).alias(f"b{i}") for i in range(3)]
    ).first()
    assert all(0 <= vals[i] < m for i in range(3))
    # same input → same positions on re-evaluation
    assert vals == df.select(
        *[D._bloom_bit(F.col("s"), i, m).alias(f"b{i}") for i in range(3)]
    ).first()


# --- duplicated n-gram spans -------------------------------------------------

def test_duplicated_spans_hand_case(spark):
    boiler = "this license text is repeated across many documents verbatim always"  # 10 words
    rows = [
        (0, f"{boiler} unique tail zero alpha beta gamma delta epsilon"),
        (1, f"different head one two three four five six {boiler}"),
        (2, "no shared content here at all nine ten eleven twelve thirteen fourteen"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.duplicated_ngram_spans(df, n=8, min_docs=2)
    spans = {r.doc_id: (r.span_start, r.span_end, r.span_tokens) for r in out.collect()}
    # boiler is 10 words → 8-grams at offsets 0..2 within it; doc 0 carries
    # it at positions 0..9, doc 1 at positions 8..17. One maximal span each.
    assert spans[0] == (0, 9, 10)
    assert spans[1] == (8, 17, 10)
    assert 2 not in spans
    assert out.count() == 2


def test_duplicated_spans_merges_overlaps_not_gaps(spark):
    a = "one two three four five six seven eight"        # 8 words, shared
    b = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words, shared
    rows = [
        (0, f"{a} G1 G2 G3 G4 G5 G6 G7 G8 G9 {b}"),  # gap of 10 uniques
        (1, f"{a} X1 X2 X3 X4 X5 X6 X7 X8 X9 {b}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.duplicated_ngram_spans(df, n=8, min_docs=2).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    # two separate spans per doc (the gap exceeds n, so no merge):
    # a at tokens 0-7, nine uniques at 8-16, b at 17-24
    assert sorted(per_doc[0]) == [(0, 7), (17, 24)]
    assert sorted(per_doc[1]) == [(0, 7), (17, 24)]


# --- canonical-per-cluster ---------------------------------------------------

def test_keep_canonical_elects_best_quality(spark):
    docs = spark.createDataFrame(
        [(1, 50), (2, 90), (3, 70), (9, 33)], "doc_id long, n_chars long"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = {r.doc_id: (r.component, r.is_canonical) for r in
           D.keep_canonical(docs, pairs).collect()}
    # cluster {1,2,3}: component=min id=1; canonical = doc 2 (n_chars 90)
    assert out[1] == (1, False)
    assert out[2] == (1, True)
    assert out[3] == (1, False)
    # singleton: own component, canonical
    assert out[9] == (9, True)


def test_keep_canonical_tiebreak_min_id(spark):
    docs = spark.createDataFrame(
        [(5, 40), (6, 40)], "doc_id long, n_chars long"
    )
    pairs = spark.createDataFrame([(5, 6)], "id_a long, id_b long")
    out = {r.doc_id: r.is_canonical for r in D.keep_canonical(docs, pairs).collect()}
    assert out[5] is True and out[6] is False


# --- integer PageRank --------------------------------------------------------

def test_pagerank_hand_computed(spark):
    """3-node graph: 0→1, 1→2, 2→0 (a cycle) plus 0→2. Replay the exact
    integer recurrence in Python and require bit-equality."""
    from core_etl_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (0, 2)], "src long, dst long"
    )
    got = {r.id: r.rank for r in pagerank(nodes, edges, iterations=4).collect()}

    deg = {0: 2, 1: 1, 2: 1}
    incoming = {0: [2], 1: [0], 2: [1, 0]}
    r = {0: 1_000_000, 1: 1_000_000, 2: 1_000_000}
    for _ in range(4):
        r = {
            n: 150_000 + (85 * sum(r[s] // deg[s] for s in incoming[n])) // 100
            for n in r
        }
    assert got == r


def test_pagerank_no_inlinks_settles_at_base(spark):
    from core_etl_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(0,), (1,)], "id long")
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    got = {r.id: r.rank for r in pagerank(nodes, edges, iterations=3).collect()}
    assert got[0] == 150_000  # no in-edges → base after iteration 1


# --- Z-order layout ----------------------------------------------------------

def test_zorder_value_interleaves_bits(spark):
    from core_etl_spark.operators.layout import zorder_value

    df = spark.createDataFrame([(3, 1), (0, 0), (65535, 0)], "x long, y long")
    got = [
        r.z
        for r in df.select(
            zorder_value(F.col("x"), F.col("y")).alias("z")
        ).collect()
    ]
    # x=3 (bits 0,1), y=1 (bit 0 → position 1): 1 + 2 + 4 = 7
    assert got[0] == 7
    assert got[1] == 0
    # x=0xffff → even bit positions 0,2,..,30 set
    assert got[2] == sum(1 << (2 * i) for i in range(16))


def test_cluster_by_zorder_orders_files_by_z(spark):
    from core_etl_spark.operators.layout import cluster_by_zorder, zorder_value

    rows = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(rows, "a long, b long")
    out = cluster_by_zorder(df, "a", "b", bits=4, num_partitions=4)
    # each partition owns a contiguous z-range: max(z) of partition i
    # < min(z) of partition i+1
    withz = out.withColumn("z", zorder_value(F.col("a"), F.col("b"), 4)).withColumn(
        "p", F.spark_partition_id()
    )
    stats = (
        withz.groupBy("p").agg(F.min("z").alias("lo"), F.max("z").alias("hi"))
        .orderBy("p")
        .collect()
    )
    nonempty = [s for s in stats if s.lo is not None]
    assert len(nonempty) >= 2
    for prev, nxt in zip(nonempty, nonempty[1:]):
        assert prev.hi < nxt.lo
    assert out.count() == 256


def test_cluster_by_zorder_negative_keys(spark):
    """ADVICE r06: Spark's % keeps the dividend's sign, so negative keys
    fed sign-extended garbage into the interleave. pmod maps them into
    [0, 2^bits): -1 % 16 == 15 under pmod, and the resulting z-values
    stay within the 2*bits-bit range."""
    from core_etl_spark.operators.layout import cluster_by_zorder, zorder_value

    rows = [(x, y) for x in range(-8, 8) for y in range(-8, 8)]
    df = spark.createDataFrame(rows, "a long, b long")
    out = cluster_by_zorder(df, "a", "b", bits=4, num_partitions=2)
    withz = out.withColumn(
        "z",
        zorder_value(
            F.pmod(F.col("a"), F.lit(16)), F.pmod(F.col("b"), F.lit(16)), 4
        ),
    )
    zs = [r.z for r in withz.select("z").collect()]
    assert all(0 <= z < 256 for z in zs)
    # spot-check: (-1, -1) → (15, 15) → all 8 low interleaved bits set
    one = withz.filter((F.col("a") == -1) & (F.col("b") == -1)).collect()
    assert one[0].z == 255
    assert out.count() == 256


# --- mixture rebalance -------------------------------------------------------

def test_mixture_rebalance_hits_targets(spark, sf_dir):
    from core_etl_spark.operators.sampling import mixture_rebalance

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    targets = {"en": 4, "de": 2, "fr": 2, "es": 1, "zh": 1}
    kept, thresholds = mixture_rebalance(docs, targets)
    counts = {r.lang: r["count"] for r in docs.groupBy("lang").count().collect()}
    got = {r.lang: r["count"] for r in kept.groupBy("lang").count().collect()}
    # binding stratum (min n/w) is kept in full
    from fractions import Fraction

    binding = min(targets, key=lambda s: Fraction(counts[s], targets[s]))
    assert got[binding] == counts[binding]
    assert thresholds[binding] == 16**8
    # every kept stratum ≤ its corpus count and > 0
    for s in targets:
        assert 0 < got.get(s, 0) <= counts[s]
    # determinism: second run selects the identical doc set
    kept2, _ = mixture_rebalance(docs, targets)
    assert kept.select("doc_id").exceptAll(kept2.select("doc_id")).count() == 0
    assert kept2.count() == kept.count()


def test_mixture_rebalance_validation(spark):
    from core_etl_spark.operators.sampling import mixture_rebalance

    df = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
    with pytest.raises(ValueError, match="positive int"):
        mixture_rebalance(df, {"en": 0})
    with pytest.raises(ValueError, match="at least one"):
        mixture_rebalance(df, {})
    with pytest.raises(ValueError, match="absent"):
        mixture_rebalance(df, {"en": 1, "xx": 1})


def test_excise_spans_hand_case(spark):
    boiler = "this license text is repeated across many documents verbatim always"
    rows = [
        (0, f"{boiler} keep these unique five words here"),
        (1, f"prefix words one two three four five six {boiler}"),
        (2, "short doc under gram width"),  # 5 tokens < n → untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.cleaned_text, r.n_tokens, r.n_removed)
           for r in D.excise_duplicated_spans(df, n=8, min_docs=2).collect()}
    assert out[0] == ("keep these unique five words here", 16, 10)
    assert out[1] == ("prefix words one two three four five six", 18, 10)
    assert out[2] == ("short doc under gram width", 5, 0)


def test_temperature_sample_flattens(spark):
    from core_etl_spark.operators.sampling import temperature_sample

    rows = [(i, "en" if i < 400 else "zh") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept, thr = temperature_sample(df, alpha=0.5)
    counts = {r.lang: r["count"] for r in kept.groupBy("lang").count().collect()}
    # zh (n=100, the min) keeps everything; en thinned to ~sqrt(100/400)=0.5
    assert counts["zh"] == 100
    assert thr["zh"] == 16**8
    assert 120 <= counts["en"] <= 280  # ~200 expected, generous band
    # deterministic across runs
    kept2, _ = temperature_sample(df, alpha=0.5)
    assert kept2.exceptAll(kept).count() == 0 and kept2.count() == kept.count()


def test_temperature_sample_ignores_null_stratum(spark):
    """ADVICE r06: NULL-stratum rows can never be admitted, so they must
    not participate in the counts either — a tiny NULL stratum setting
    n_min would over-thin every real stratum."""
    from core_etl_spark.operators.sampling import temperature_sample

    rows = [(i, "en" if i < 400 else "zh") for i in range(500)]
    rows += [(1000 + i, None) for i in range(5)]  # tiny NULL stratum
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept, thr = temperature_sample(df, alpha=0.5)
    assert None not in thr
    # zh is still the binding minimum (100, not the 5 NULLs): kept in full
    assert thr["zh"] == 16**8
    counts = {r.lang: r["count"] for r in kept.groupBy("lang").count().collect()}
    assert counts.get("zh") == 100
    assert None not in counts
    # all-NULL strata → empty admission, not a crash
    allnull = spark.createDataFrame(
        [(1, None), (2, None)], "doc_id long, lang string"
    )
    kept_n, thr_n = temperature_sample(allnull)
    assert thr_n == {} and kept_n.count() == 0


def test_threshold_dispatch_is_broadcast_join_not_case(spark):
    """VERDICT r06 directive 6: 1,000 strata must dispatch via a
    broadcast join on a thresholds frame, not a 1,000-branch chained
    CASE in the plan."""
    from core_etl_spark.operators.sampling import mixture_rebalance, temperature_sample

    n = 1000
    rows = [(i, f"s{i % n}") for i in range(4 * n)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    targets = {f"s{i}": 1 for i in range(n)}
    kept, thr = mixture_rebalance(df, targets)
    assert len(thr) == n
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan
    assert plan.count("CASE WHEN") < 10  # no per-stratum branch chain
    assert kept.count() == 4 * n  # equal weights + equal counts → all kept
    kept_t, thr_t = temperature_sample(df, alpha=0.5)
    plan_t = kept_t._jdf.queryExecution().executedPlan().toString()
    assert plan_t.count("CASE WHEN") < 10
    assert kept_t.count() == 4 * n  # uniform strata → every rate is 1.0
    # stratified sampler: same dispatch form, plus default-rate fallback
    from core_etl_spark.operators.sampling import deterministic_stratified_sample

    kept_s = deterministic_stratified_sample(
        df, {f"s{i}": 1.0 for i in range(n)}, default_rate=0.0
    )
    plan_s = kept_s._jdf.queryExecution().executedPlan().toString()
    assert plan_s.count("CASE WHEN") < 10
    assert kept_s.count() == 4 * n  # all listed at rate 1.0
    # unlisted strata fall to default_rate, NULL included
    mixed = spark.createDataFrame(
        [(1, "listed"), (2, "unlisted"), (3, None)], "doc_id long, lang string"
    )
    got = deterministic_stratified_sample(
        mixed, {"listed": 1.0}, default_rate=0.0
    ).collect()
    assert [r.doc_id for r in got] == [1]


def test_token_rarity_hand_case(spark):
    rows = [(1, "a a b"), (2, "a c")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.sum_cf, r.mean_cf)
           for r in X.token_rarity(df).collect()}
    # corpus counts: a=3, b=1, c=1
    assert got[1] == (3, 3 + 3 + 1, (3 + 3 + 1) / 3)
    assert got[2] == (2, 3 + 1, 2.0)


def test_bigram_lm_hand_case(spark):
    rows = [(1, "the cat sat"), (2, "the cat ran"), (3, "a cat sat")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.w1, r.w2): (r.c_bigram, r.c_head, r.p)
           for r in X.bigram_lm(df, min_count=2).collect()}
    # "the cat" x2, "cat sat" x2 survive min_count; heads: the=2, cat=3
    assert got == {
        ("the", "cat"): (2, 2, 1.0),
        ("cat", "sat"): (2, 3, 2 / 3),
    }


def _bpe_reference(words: dict[str, int], n_merges: int):
    """Pure-Python replay of the trainer's exact semantics: two-space
    symbol separators + str.replace (verified byte-identical with
    Spark/DuckDB replace; the " w1  w2 " pattern leaves the outer half
    of each boundary, so leftmost non-overlapping replace == canonical
    left-to-right greedy BPE), count-desc + lexicographic argmax."""
    state = {w: "  " + "".join(ch + "  " for ch in w) for w in words}
    merges = []
    for i in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for w, st in state.items():
            syms = st.strip().split("  ")
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + words[w]
        if not pairs:
            break
        (w1, w2), total = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((i + 1, w1, w2, total))
        state = {
            w: st.replace(f" {w1}  {w2} ", f" {w1}{w2} ") for w, st in state.items()
        }
    return merges, state


def test_bpe_merges_match_python_reference(spark):
    corpus = ["low low low lower lowest", "new newer newest low", "wide wider new"]
    rows = [(i, t) for i, t in enumerate(corpus)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    words: dict[str, int] = {}
    for t in corpus:
        for w in t.split(" "):
            words[w] = words.get(w, 0) + 1
    expected, _ = _bpe_reference(words, 5)
    got = [
        (r.merge_idx, r.w1, r.w2, r.pair_count)
        for r in X.bpe_merges(df, n_merges=5).orderBy("merge_idx").collect()
    ]
    assert got == expected


def test_bpe_symbol_vocab_consistent(spark):
    df = spark.createDataFrame([(0, "aa ab aa")], "doc_id long, text string")
    merges = [
        (r.merge_idx, r.w1, r.w2, r.pair_count)
        for r in X.bpe_merges(df, n_merges=2).collect()
    ]
    # aa x2 + ab x1: pair (a,a) count 2 wins round 1; (a,b) count 1 round 2
    assert merges == [(1, "a", "a", 2), (2, "a", "b", 1)]
    vocab = {r.sym: r.n for r in X.bpe_symbol_vocab(df, n_merges=2).collect()}
    # states: 'aa' -> '  aa  ' (x2), 'ab' -> '  ab  ' (x1)
    assert vocab == {"aa": 2, "ab": 1}


def test_bpe_repeated_run_merges_canonically(spark):
    """ADVICE r06 (medium): the old single-space replace consumed the
    shared boundary space, so a repeated-symbol run merged only
    alternately ('a a a a' -> 'aa a a'). Canonical left-to-right greedy
    (Sennrich) merges every non-overlapping occurrence in one round:
    'aaaa' segments to [aa, aa], and the round-2 top pair is therefore
    (aa, aa), not (aa, a)."""
    df = spark.createDataFrame([(0, "aaaa aaaa")], "doc_id long, text string")
    merges, vocab = X.bpe_merges(df, n_merges=2, return_vocab=True)
    got = [(r.merge_idx, r.w1, r.w2, r.pair_count) for r in merges.orderBy("merge_idx").collect()]
    # round 1: pairs (a,a) x3 per word x2 words = 6; both non-overlapping
    # occurrences merge -> state [aa, aa]; round 2: (aa, aa) count 2.
    assert got == [(1, "a", "a", 6), (2, "aa", "aa", 2)]
    states = {r.w: r.state for r in vocab.collect()}
    assert states["aaaa"] == "  aaaa  "
    # five-symbol run: canonical greedy leaves the trailing odd symbol
    df5 = spark.createDataFrame([(0, "aaaaa")], "doc_id long, text string")
    _, v5 = X.bpe_merges(df5, n_merges=1, return_vocab=True)
    assert v5.collect()[0].state == "  aa  aa  a  "


def test_bpe_reference_is_canonical_greedy():
    """_bpe_reference must itself implement canonical greedy: replay a
    left-to-right symbol scan and compare on repeated-run words."""

    def canonical(words, n_merges):
        state = {w: [ch for ch in w] for w in words}
        merges = []
        for i in range(n_merges):
            pairs: dict[tuple[str, str], int] = {}
            for w, syms in state.items():
                for a, b in zip(syms, syms[1:]):
                    pairs[(a, b)] = pairs.get((a, b), 0) + words[w]
            if not pairs:
                break
            (w1, w2), total = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((i + 1, w1, w2, total))
            new_state = {}
            for w, syms in state.items():
                out: list[str] = []
                j = 0
                while j < len(syms):
                    if j + 1 < len(syms) and syms[j] == w1 and syms[j + 1] == w2:
                        out.append(w1 + w2)
                        j += 2
                    else:
                        out.append(syms[j])
                        j += 1
                new_state[w] = out
            state = new_state
        return merges, {w: s for w, s in state.items()}

    words = {"aaaa": 3, "aaaaa": 2, "abab": 2, "banana": 1, "low": 4}
    exp_merges, exp_state = canonical(words, 6)
    got_merges, got_state = _bpe_reference(words, 6)
    assert got_merges == exp_merges
    assert {w: st.strip().split("  ") for w, st in got_state.items()} == exp_state


def test_bpe_n_merges_guard(spark):
    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n_merges"):
        X.bpe_merges(df, n_merges=1001)


def _bpe_batched_reference(words: dict[str, int], n_merges: int, batch: int):
    """Pure-Python replay of the BATCHED trainer's exact semantics:
    per round, rank pairs (count desc, lexicographic), scan the
    64·k+16 prefix, greedily take up to k pairs that are symbol-disjoint
    AND concat-excluded (no symbol equal to an earlier selection's
    concatenation), apply their replaces in rank order."""
    state = {w: "  " + "".join(ch + "  " for ch in w) for w in words}
    merges = []
    while len(merges) < n_merges:
        k = min(batch, n_merges - len(merges))
        pairs: dict[tuple[str, str], int] = {}
        for w, st in state.items():
            syms = st.strip().split("  ")
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + words[w]
        if not pairs:
            break
        ranked = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        ranked = ranked[: min(64 * k + 16, 65552)]
        sel: list[tuple[str, str, int]] = []
        used: set[str] = set()
        for (a, b), c in ranked:
            if len(sel) == k:
                break
            if a in used or b in used:
                continue
            sel.append((a, b, c))
            used.update((a, b, a + b))
        for a, b, c in sel:
            merges.append((len(merges) + 1, a, b, c))
            state = {
                w: st.replace(f" {a}  {b} ", f" {a}{b} ")
                for w, st in state.items()
            }
    return merges


def test_bpe_batched_matches_python_reference(spark):
    corpus = [
        "low low low lower lowest wide",
        "new newer newest low slow slower",
        "wide wider new glide glider slow",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    words: dict[str, int] = {}
    for t in corpus:
        for w in t.split(" "):
            words[w] = words.get(w, 0) + 1
    expected = _bpe_batched_reference(words, 9, batch=3)
    got = [
        (r.merge_idx, r.w1, r.w2, r.pair_count)
        for r in X.bpe_merges(df, n_merges=9, batch=3)
        .orderBy("merge_idx")
        .collect()
    ]
    assert got == expected
    # selected pairs within each batch round are symbol-disjoint
    for start in range(0, len(got), 3):
        seen: set[str] = set()
        for _, w1, w2, _ in got[start : start + 3]:
            assert w1 not in seen and w2 not in seen
            seen.update((w1, w2))


def test_bpe_batched_disjoint_corpus_equals_sequential(spark):
    # Every top pair uses distinct symbols, so batched == sequential exactly.
    corpus = ["ab " * 30 + "cd " * 20 + "ef " * 10]
    df = spark.createDataFrame([(0, corpus[0].strip())], "doc_id long, text string")
    seq = [
        (r.merge_idx, r.w1, r.w2, r.pair_count)
        for r in X.bpe_merges(df, n_merges=3).orderBy("merge_idx").collect()
    ]
    bat = [
        (r.merge_idx, r.w1, r.w2, r.pair_count)
        for r in X.bpe_merges(df, n_merges=3, batch=3).orderBy("merge_idx").collect()
    ]
    assert seq == bat == [(1, "a", "b", 30), (2, "c", "d", 20), (3, "e", "f", 10)]


def test_bpe_batched_round_guard(spark):
    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="batch"):
        X.bpe_merges(df, n_merges=1, batch=0)
    with pytest.raises(ValueError, match="rounds"):
        X.bpe_merges(df, n_merges=5000, batch=1)
    # 5000 merges at batch=64 is 79 rounds — inside the guard
    X.bpe_merges(df, n_merges=5000, batch=64)


def test_bpe_round_guard_enforced_in_loop(spark, monkeypatch):
    """The pre-check assumes every round selects a full batch; greedy
    disjoint selection can pick fewer, so the real cap is enforced on
    ACTUAL rounds (ADVICE r09). With the cap forced to 1, a contended
    batch=2 corpus (every top pair shares a symbol, so each round
    selects one pair) needs 2 rounds for 2 merges and must raise."""
    from core_etl_spark.operators import text as T
    # chain word: every adjacent pair shares symbols with the top pair
    df = spark.createDataFrame([(0, "aaaa aaaa")], "doc_id long, text string")
    monkeypatch.setattr(T, "_BPE_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="rounds"):
        # estimate ceil(2/2)=1 round passes the pre-check, but round 1
        # selects only (a,a) — (aa,?) candidates are concat-excluded and
        # everything else shares 'a' — so a 2nd round is needed
        X.bpe_merges(df, n_merges=2, batch=2)


def test_bpe_select_disjoint_concat_exclusion():
    """The stale-count hole directly (ADVICE r09): once (a, bc) is
    selected, its replace mints new 'abc' tokens, so any same-round
    candidate with symbol 'abc' carries a stale pre-count and must be
    skipped — selection takes the next clean pair instead."""
    from core_etl_spark.operators.text import _bpe_select_disjoint
    ranked = [("a", "bc", 100), ("abc", "d", 90), ("d", "abc", 85), ("x", "y", 80)]
    assert _bpe_select_disjoint(ranked, 2) == [("a", "bc", 100), ("x", "y", 80)]
    # symbol-sharing exclusion still applies first
    ranked2 = [("a", "b", 50), ("b", "c", 49), ("c", "d", 48)]
    assert _bpe_select_disjoint(ranked2, 3) == [("a", "b", 50), ("c", "d", 48)]


def test_bpe_batched_divergence_boundary(spark):
    """The documented training-equivalence contract (VERDICT r09
    directive 6): batch>1 diverges from sequential exactly when a merge
    applied in the batch creates a brand-new pair whose count outranks a
    later same-round selection. Corpus: 'abc'×30 + 'de'×20. Sequential
    recounts after merging (a,b) and sees the new pair (ab,c) at count
    30 > (d,e) at 20; the batch counted before any merge, so (ab,c)
    didn't exist and (d,e) is taken instead."""
    rows = [(i, "abc") for i in range(30)] + [(100 + i, "de") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    seq = [
        (r.w1, r.w2, r.pair_count)
        for r in X.bpe_merges(df, n_merges=2).orderBy("merge_idx").collect()
    ]
    bat = [
        (r.w1, r.w2, r.pair_count)
        for r in X.bpe_merges(df, n_merges=2, batch=2).orderBy("merge_idx").collect()
    ]
    assert seq == [("a", "b", 30), ("ab", "c", 30)]
    assert bat == [("a", "b", 30), ("d", "e", 20)]
    # and the pure-Python contract encodes the same boundary
    words = {"abc": 30, "de": 20}
    assert _bpe_batched_reference(words, 2, batch=2) == [
        (1, "a", "b", 30), (2, "d", "e", 20)
    ]


def test_hashed_embedding_feeds_similarity_stack(spark):
    """The hashing-trick vectors must drop into the ANN operators: an
    exact duplicate retrieves its twin at cosine 1.0 ahead of unrelated
    docs — text retrieval with no model in the loop."""
    from core_etl_spark.operators.text import hashed_embedding

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (0, base),
        (1, base),  # exact dup → identical vector
        (2, "completely different words about query engines and storage files"),
        (3, "yet another unrelated doc mentioning vectors and indexes at scale"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    emb = hashed_embedding(df).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") == 0)
    top = S.brute_force_topk(emb, queries, k=2).orderBy("rank").collect()
    # self-matches are excluded: the twin must rank first at cosine 1.0,
    # strictly ahead of the unrelated docs
    assert top[0].neighbor_id == 1
    assert top[0].cosine_sim == pytest.approx(1.0)
    assert top[1].cosine_sim < 0.9


def test_bpe_token_counts_hand_case(spark):
    df = spark.createDataFrame([(0, "aa ab"), (1, "aa aa aa")],
                               "doc_id long, text string")
    # merges on vocab {aa:4, ab:1}: round1 (a,a)x4 -> 'aa' fused;
    # round2 (a,b)x1 -> 'ab' fused; every word is then ONE piece
    got = {r.doc_id: (r.n_words, r.n_bpe_tokens)
           for r in X.bpe_token_counts(df, n_merges=2).collect()}
    assert got == {0: (2, 2), 1: (3, 3)}
    # with zero merges every word splits to characters
    got0 = {r.doc_id: r.n_bpe_tokens
            for r in X.bpe_token_counts(df, n_merges=0).collect()}
    assert got0 == {0: 4, 1: 6}


def test_materialize_persist2_is_replicated(spark):
    """The preemptible-fleet materialization mode (r11): replication-2
    persist whose blocks survive one executor loss where localCheckpoint
    fails the job (measured in scripts/chaos_soak.py's ckpt leg — the
    eager mode dies with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, persist2
    returns the correct answer under the identical kill)."""
    from core_etl_spark.operators import dedup

    df = spark.range(100)
    out = dedup._materialize(df, mode="persist2")
    assert out.storageLevel.replication == 2 and out.storageLevel.useDisk
    assert out.count() == 100
    out.unpersist()
    # default mode unchanged: localCheckpoint, not a CacheManager entry
    eager = dedup._materialize(spark.range(5), mode="eager")
    assert eager.storageLevel.replication <= 1


def test_materialize_rejects_unknown_mode(spark):
    from core_etl_spark.operators import dedup

    with pytest.raises(ValueError, match="materialization mode"):
        dedup._materialize(spark.range(1), mode="eagr")


def test_shingle_family_tolerates_null_text(spark):
    # r12: real corpora contain NULL text rows; before the fix a single
    # one crashed every shingle-routed pipeline (the UDF called t.split).
    # Now a null doc yields no shingles — it never becomes a candidate —
    # while identical non-null docs still pair, and exact dedup (where
    # grouping nulls means something) still groups them.
    df = spark.createDataFrame(
        [
            (1, "hello world foo bar baz"),
            (2, None),
            (3, ""),
            (4, "hello world foo bar baz"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    shingled = {r.doc_id: list(r.shingles) for r in D.doc_shingles(df).collect()}
    assert shingled[2] == [] and shingled[5] == []
    assert shingled[1] == shingled[4] != []
    pairs = {(r.id_a, r.id_b) for r in D.jaccard_pairs(df).collect()}
    assert pairs == {(1, 4)}  # nulls never pair, with each other or anyone
    sigs = D.minhash_signatures(D.doc_shingles(df))
    assert sigs.count() == 5  # one row per doc either way
    kept = {r.doc_id for r in D.exact_dedup(df).collect()}
    assert kept == {1, 2, 3}  # null group keeps its min id, like any group


def test_pq_encoders_agree_on_null_and_empty_vectors(spark):
    # r12: the two PQ encoders are interchangeable under pq_encode_auto,
    # so they must agree on missing embeddings too — the literal path
    # null-propagates to [NULL]*m; the pandas path used to crash the
    # stage on the first null row.
    import random

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(6)]
    rows += [(100, None), (101, [])]
    docs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = S.pq_codebooks_first_k(docs.filter("vec_id < 6"), m=2, ksub=4)
    lit = {r.id: (list(r.codes) if r.codes is not None else None)
           for r in S.pq_encode(docs, cb).collect()}
    pdp = {r.id: (list(r.codes) if r.codes is not None else None)
           for r in S.pq_encode_pandas(docs, cb).collect()}
    assert lit == pdp
    assert lit[100] == [None, None] and lit[101] == [None, None]


def test_strata_cardinality_guard(spark):
    # Bounded-strata contract (r15, VERDICT r14 item 3): a high-cardinality
    # strata column (doc_id-like) must raise loudly instead of collecting
    # one row per value to the driver.
    import pytest

    from core_etl_spark.operators import sampling as S

    wide = spark.range(0, 30).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.col("id").alias("doc_id"),
    )
    old = S.MAX_STRATA
    S.MAX_STRATA = 10
    try:
        with pytest.raises(ValueError, match="more than 10 distinct strata"):
            S.temperature_sample(wide, strata_col="url", key_col="doc_id")
        # mixture_rebalance pre-filters to the target strata, so even a
        # wide column stays under the cap when few strata are targeted
        kept, thr = S.mixture_rebalance(
            wide, {"u1": 1, "u2": 1}, strata_col="url", key_col="doc_id"
        )
        assert set(thr) == {"u1", "u2"}
    finally:
        S.MAX_STRATA = old


# --- r15 review fixes: similarity/packing guards ----------------------------


def test_ivf_default_centroids_fail_loud_on_offset_ids(spark, sf_dir):
    import pytest

    from core_etl_spark.io import load_tables

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    offset = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    with pytest.raises(ValueError, match="ids must be dense"):
        S.ivf_ann_topk(offset, offset.limit(3)).collect()


def test_lsh_ann_topk_infers_dim(spark):
    # the old hard-coded dim=64 silently emptied any other-dimensional
    # corpus; dim=None must infer and return real neighbors
    from core_etl_spark.operators import similarity as S

    rows = [(i, [float((i * 7 + j) % 5) + 0.1 for j in range(32)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.lsh_ann_topk(df, df.limit(4), k=3)
    assert out.count() > 0


def test_chunk_documents_rejects_token_skipping_stride(spark):
    import pytest

    from core_etl_spark.operators.packing import chunk_documents

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="must be <= chunk_len"):
        chunk_documents(df, chunk_len=64, stride=100)


def test_pack_sequences_guards_and_zero_token_consistency(spark):
    import pytest

    from core_etl_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [("en", 1, 512), ("en", 2, 0), ("en", 3, 100), ("en", 4, 0)],
        "lang string, doc_id long, n_tok long",
    )
    with pytest.raises(ValueError, match="ctx_len must be >= 1"):
        pack_sequences(df, ctx_len=0, token_count_col="n_tok")
    out = {r.doc_id: r for r in pack_sequences(
        df, ctx_len=512, token_count_col="n_tok"
    ).collect()}
    # doc 2 sits EXACTLY on a chunk boundary (cum_before=512), doc 4
    # mid-window (cum_before=612): both zero-token docs span 0 chunks now
    # (the raw formula said 0 and 1 respectively)
    assert out[2].spans_chunks == 0 and out[4].spans_chunks == 0
    assert out[1].spans_chunks == 1 and out[3].spans_chunks == 1


def test_pq_encode_pandas_nulls_nonfinite_vectors(spark):
    # element-NULL/NaN vectors must get NULL codes like the literal
    # encoder, never argmin-over-nan garbage code 0
    from core_etl_spark.operators import similarity as S

    rows = [
        (1, [1.0, 2.0, 3.0, 4.0]),
        (2, [1.0, None, 3.0, 4.0]),
        (3, [float("nan"), 2.0, 3.0, 4.0]),
        (4, None),
        (5, [4.0, 3.0, 2.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = [[[1.0, 2.0], [9.0, 9.0]], [[3.0, 4.0], [9.0, 9.0]]]
    got = {r.id: r.codes for r in S.pq_encode_pandas(df, cb).collect()}
    assert got[1] == [0, 0]
    assert got[2] == [None, None]
    assert got[3] == [None, None]
    assert got[4] == [None, None]
    assert all(c is not None for c in got[5])


def test_ivfpq_literal_budget_fails_loud(spark):
    import pytest

    from core_etl_spark.operators import similarity as S

    big_cb = [[[0.0] * 8 for _ in range(256)] for _ in range(96)]  # 196k scalars
    df = spark.createDataFrame(
        [(1, [0.0] * 768)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="literal-expression budget"):
        S.ivfpq_adc_topk(df, df, codebooks=big_cb)
    with pytest.raises(ValueError, match="literal-expression budget"):
        S.write_ivfpq_index(df, "/tmp/never_written", codebooks=big_cb)


def test_gopher_alpha_rule_is_case_insensitive(spark):
    # tokens() does not lowercase, so the old "[a-z]" alpha test counted
    # acronym tokens (NASA, FBI, I) as NON-alphabetic and failed
    # legitimate documents (r15 review)
    base = "the of and to a " * 11  # 55 stopword tokens: passes every rule
    doc_up = base + "NASA FBI USA I CERN"  # 60 tokens, 5 uppercase-only
    df = spark.createDataFrame(
        [(1, doc_up.strip())], "doc_id long, text string"
    )
    row = X.gopher_quality(df).collect()[0]
    assert row.alpha_ratio == 1.0
    assert row.pass_alpha


def test_weighted_sample_null_keys_and_nan_weights(spark):
    # r15 review (live-verified divergences): NULL keys hashed to a shared
    # salt-only value via concat_ws and were admitted with NULL
    # tiebreakers; NaN weights passed `> 0` (NaN > everything in Spark)
    # and their NaN rank keys unconditionally occupied the sample.
    from core_etl_spark.operators.sampling import weighted_sample

    rows = [(None, 100.0), (1, float("nan")), (2, 5.0), (3, 9.0), (4, 1.0)]
    df = spark.createDataFrame(rows, "doc_id int, w double")
    got = {r.doc_id for r in weighted_sample(df, "w", k=3).collect()}
    assert None not in got and 1 not in got
    assert got <= {2, 3, 4} and len(got) == 3


def test_deterministic_split_rejects_total_over_one(spark):
    import pytest

    from core_etl_spark.operators.sampling import deterministic_split

    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="sum to 1.4"):
        deterministic_split(df, {"train": 0.5, "val": 0.9})


def test_shuffle_shards_preserves_h_column(spark):
    from core_etl_spark.operators.sampling import shuffle_shards

    df = spark.createDataFrame([(1, "keepme"), (2, "metoo")], "doc_id long, h string")
    out = shuffle_shards(df, n_shards=2)
    assert {r.h for r in out.collect()} == {"keepme", "metoo"}


def test_zorder_cluster_prunes_wide_domains(spark):
    # r15 review: pmod(col, 2^bits) wrapped wide domains, scattering
    # far-apart keys into shared buckets and making every file's min/max
    # span the whole domain; min-max scaling keeps file stats tight.
    from core_etl_spark.operators.layout import cluster_by_zorder

    df = spark.createDataFrame(
        [(i * 100_000, (10_000_000 - i) * 37) for i in range(4000)],
        "x long, y long",
    )
    out = cluster_by_zorder(df, "x", "y", bits=8, num_partitions=8)
    # each output partition's x-range must be a narrow slice of the domain
    import pyspark.sql.functions as SF

    stats = (
        out.withColumn("_pid", SF.spark_partition_id())
        .groupBy("_pid")
        .agg(SF.min("x").alias("lo"), SF.max("x").alias("hi"))
        .collect()
    )
    domain = 4000 * 100_000
    widths = [(r.hi - r.lo) / domain for r in stats if r.hi is not None]
    assert sum(w < 0.5 for w in widths) >= len(widths) - 1, widths
    import pytest

    with pytest.raises(ValueError, match="num_partitions"):
        cluster_by_zorder(df, "x", "y", num_partitions=0)


def test_u256_casts_null_not_raise(spark):
    from core_etl_spark.functions.u256 import dec_u256_to_decimal, hex_to_long

    df = spark.createDataFrame(
        [(str(2**256 - 1), "ffffffffffffffff"), ("42", "ff")],
        "dec string, hx string",
    )
    got = df.select(
        dec_u256_to_decimal(F.col("dec")).alias("d"),
        hex_to_long(F.col("hx")).alias("h"),
    ).collect()
    by = {str(r.d): r.h for r in got}
    assert by.get("42") == 255
    assert None in {r.d for r in got} and None in {r.h for r in got}


def test_jaccard_disk_staging_same_pairs_and_disk_level(spark, sf_dir):
    """VERDICT r15 directive 2: past DISK_STAGE_SOURCE_BYTES the shingle
    index persists DISK_ONLY (storage blocks must not compete with AQE
    broadcast builds at the 8g-heap edge) — and the pair set is identical
    to the in-memory path."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert D._plan_size_bytes(docs) > 0  # Catalyst file-size estimate works

    def build():
        return D.jaccard_pairs(
            docs, threshold=0.5, max_shingle_df=64, shingle_key="xxhash64"
        )

    def rows(frame):
        return sorted(
            (r.id_a, r.id_b, round(r.jaccard, 9)) for r in frame.collect()
        )

    baseline = rows(build())
    old = D.DISK_STAGE_SOURCE_BYTES
    try:
        D.DISK_STAGE_SOURCE_BYTES = 1  # force the big-corpus path
        spark.catalog.clearCache()
        out = build()  # keep the reference — GC of the result unpersists
        staged = rows(out)
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        levels = {str(i.storageLevel().description()) for i in infos}
        assert any("Disk" in lv and "Memory" not in lv for lv in levels), levels
        # the staged index must NOT outlive the result (r16 review: a
        # persist is CacheManager-pinned, unlike localCheckpoint blocks).
        # Scope the check to DISK_ONLY entries: a shared suite session
        # carries OTHER tests' localCheckpoint blocks (memory+disk
        # levels), and the async ContextCleaner means global storage
        # emptiness is not this test's invariant — only that OUR staged
        # index (the sole disk-without-memory entry) is gone.
        import gc

        del out
        gc.collect()
        # unpersist's block removal is async — poll briefly before failing
        import time as _time

        disk_only: list[str] = ["unchecked"]
        for _ in range(20):
            infos = list(spark.sparkContext._jsc.sc().getRDDStorageInfo())
            disk_only = [
                str(i)
                for i in infos
                if "Disk" in str(i.storageLevel().description())
                and "Memory" not in str(i.storageLevel().description())
            ]
            if not disk_only:
                break
            _time.sleep(0.25)
        assert not disk_only, disk_only
    finally:
        D.DISK_STAGE_SOURCE_BYTES = old
        spark.catalog.clearCache()
    assert staged == baseline and len(staged) > 0


def test_first_k_centroids_probe_is_preshuffle(spark, sf_dir):
    """VERDICT r15 item 2 pin: the default-centroid emptiness probe must
    run on the pre-shuffle id<K slice — a pruned scan with NO Exchange —
    not re-execute the corpus-wide with_norm repartition as an extra job
    per IVF call."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus, _ = S.valid_vectors(emb, dim=64)
    cents = S._first_k_centroids(corpus, 16, "embedding", "vec_id")
    plan = cents._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert cents.count() == 16  # dense ids 0..15 all valid at this sf


def test_vec_arith_env_checked_at_import(monkeypatch):
    """ADVICE r17: an unknown ``SPARK_GRAFT_VEC_ARITH`` fails loudly when
    the module loads, not at the first query that reaches ``_vec``. The
    module's namespace is restored afterwards, so every other test keeps
    the original function and exception objects."""
    import importlib

    saved = dict(vars(S))
    try:
        monkeypatch.setenv("SPARK_GRAFT_VEC_ARITH", "int64")
        assert importlib.reload(S).VEC_ARITH == "int64"
        monkeypatch.setenv("SPARK_GRAFT_VEC_ARITH", "float32")
        with pytest.raises(ValueError, match="'float32'"):
            importlib.reload(S)
    finally:
        vars(S).clear()
        vars(S).update(saved)


def test_vec_arith_modes_identical(spark, sf_dir, tmp_path):
    """r17 (VERDICT r16 directive 5): the scaled-int64 hot loop must be
    BIT-IDENTICAL to the decimal(10,3) arithmetic on every similarity
    entry point — both representations denote the same exact rationals
    (millis = decimal × 1000; millis² sums convert back by an exact ÷10⁶
    scale shift), so ranks, cosines and ADC distances cannot differ.
    Also pins the index-schema versioning: a v1 (decimal) and a v2
    (int64/millis) persisted IVF index must answer identically when read
    from EITHER arithmetic mode."""
    from core_etl_spark.io import load_tables

    emb = load_tables(spark, sf_dir, ("embeddings",), register=False)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)

    def snap(df):
        return sorted(map(tuple, df.collect()))

    # caller-supplied float codebook words: both modes must read -1.005
    # as -1005 millis, where a bare ``int(c * 1000)`` truncates it to
    # -1004, and round a non-3-dp word (-3.0149999999999997) half-up as
    # the decimal cast does
    assert int(-1.005 * 1000) == -1004
    wide = spark.createDataFrame(
        [(i, [2.675 + i, -1.005 * (i + 1)]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    float_books = [
        [[2.675 + i] for i in range(4)],
        [[-1.005 * (i + 1)] for i in range(4)],
    ]

    old = S.VEC_ARITH
    results = {}
    try:
        for mode in ("decimal", "int64"):
            S.VEC_ARITH = mode
            results[mode] = {
                "brute": snap(S.brute_force_topk(emb, queries, k=5)),
                "lsh": snap(S.lsh_ann_topk(emb, queries, k=5)),
                "ivf": snap(S.ivf_ann_topk(emb, queries, k=5)),
                "pq": snap(S.pq_adc_topk(emb, queries, k=5)),
                "pq_float_words": snap(
                    S.pq_adc_topk(wide, wide, k=2, m=2, codebooks=float_books)
                ),
                "ivfpq": snap(S.ivfpq_adc_topk(emb, queries, k=5)),
                # threshold −1 keeps every bucket-collision pair: the point
                # is bit-equality of the cosines, not the pair-set size
                "neardup": snap(S.embedding_near_dups(emb, threshold=-1.0)),
            }
            S.write_ivf_index(emb, str(tmp_path / ("idx_" + mode)))
        for key in results["decimal"]:
            assert results["decimal"][key] == results["int64"][key], key
            assert results["decimal"][key], f"{key} compared empty frames"
        # cross-version index reads: {reader mode} × {index version}
        base = None
        for mode in ("decimal", "int64"):
            S.VEC_ARITH = mode
            for ver in ("decimal", "int64"):
                got = snap(S.ivf_index_topk(spark, str(tmp_path / ("idx_" + ver)), queries, k=5))
                base = got if base is None else base
                assert got == base, (mode, ver)
        assert base
    finally:
        S.VEC_ARITH = old
        spark.catalog.clearCache()
