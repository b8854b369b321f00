"""Property-based tests (hypothesis): the Spark operators must agree with
straight-line Python references on randomized inputs — the differential
angle the reference's own test strategy uses (SURVEY §5), generalized
beyond hand-picked fixtures.

Each example packs a whole batch of generated cases into ONE DataFrame so
a hypothesis run costs a handful of Spark jobs, not hundreds.
"""

from __future__ import annotations

import time

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from core_etl_spark.operators import dedup as D
from core_etl_spark.operators import text as X
from core_etl_spark.operators.decode import (
    SELECTOR_TRANSFER,
    decode_transfer,
)

_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_hex = st.text("0123456789abcdef", min_size=44, max_size=44)
_word = st.text("0123456789abcdef", min_size=64, max_size=64)
_tokens = st.lists(
    st.text("abcde", min_size=1, max_size=3), min_size=1, max_size=12
)


@settings(**_SETTINGS)
@given(st.lists(st.tuples(_hex, _hex, _word), min_size=1, max_size=30))
def test_transfer_decode_roundtrip(spark, cases):
    """Encoding a (sender, to, value) triple into reference-layout calldata
    and decoding it with the production expressions must be the identity."""
    rows = [
        (i, sender, SELECTOR_TRANSFER + to.rjust(64, "0") + value)
        for i, (sender, to, value) in enumerate(cases)
    ]
    df = spark.createDataFrame(rows, "i long, sender string, input string")
    out = {
        r.i: (r.from_addr, r.to_addr, r.value)
        for r in df.select(
            "i", *decode_transfer(F.col("input"), F.col("sender"))
        ).collect()
    }
    for i, (sender, to, value) in enumerate(cases):
        assert out[i] == (sender, to, value)


def _py_shingles(text: str, n: int = 3) -> set[str]:
    w = text.split(" ")
    return set(
        " ".join(w[i : i + n]) for i in range(max(len(w) - (n - 1), 1))
    )


@settings(**_SETTINGS)
@given(st.lists(_tokens, min_size=2, max_size=12))
def test_jaccard_pairs_match_python_reference(spark, docs):
    """jaccard_pairs at threshold 0 must produce exactly the pairs sharing
    ≥1 shingle, with the set-arithmetic Jaccard value."""
    texts = [" ".join(t) for t in docs]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): (r.n_inter, r.jaccard)
        for r in D.jaccard_pairs(df, threshold=0.0).collect()
    }
    sh = {i: _py_shingles(t) for i, t in enumerate(texts)}
    want = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            inter = len(sh[a] & sh[b])
            if inter:
                want[(a, b)] = (inter, inter / len(sh[a] | sh[b]))
    assert set(got) == set(want)
    for k, (n_inter, jac) in want.items():
        assert got[k][0] == n_inter
        assert abs(got[k][1] - jac) < 1e-12


@settings(**_SETTINGS)
@given(st.lists(_tokens, min_size=1, max_size=20))
def test_repetition_stats_match_python_reference(spark, docs):
    n = 5
    texts = [" ".join(t) for t in docs]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    out = {r.doc_id: r for r in X.repetition_stats(df, n=n).collect()}
    for i, toks in enumerate(docs):
        grams = [
            " ".join(toks[j : j + n])
            for j in range(max(len(toks) - (n - 1), 1))
        ]
        dup = 1 - len(set(grams)) / len(grams)
        top = max(toks.count(w) for w in set(toks)) / len(toks)
        assert out[i].n_ngrams == len(grams)
        assert abs(out[i].dup_ngram_ratio - dup) < 1e-12
        assert abs(out[i].top_token_ratio - top) < 1e-12


@settings(**_SETTINGS)
@given(
    st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=25),
    st.integers(min_value=2, max_value=64),
)
def test_pack_sequences_matches_python_reference(spark, token_counts, ctx):
    """Packing must equal the straight-line reference: walk docs in order,
    keep a running token offset, cut every ctx tokens."""
    from core_etl_spark.operators.packing import pack_sequences

    rows = [("g", i, "w " * n) for i, n in enumerate(token_counts)]
    df = spark.createDataFrame(
        [(g, i, t.strip()) for g, i, t in rows],
        "lang string, doc_id long, text string",
    )
    got = {
        r.doc_id: (r.chunk_id, r.chunk_offset, r.spans_chunks)
        for r in pack_sequences(df, ctx_len=ctx, group_col="lang").collect()
    }
    cum = 0
    for i, n in enumerate(token_counts):
        first, last = cum, cum + n - 1
        assert got[i] == (first // ctx, first % ctx, last // ctx - first // ctx + 1)
        cum += n


@settings(**_SETTINGS)
@given(st.lists(st.integers(min_value=0, max_value=10**9), min_size=1,
                max_size=60, unique=True))
def test_deterministic_split_matches_python_reference(spark, ids):
    """The split each id lands in must equal the straight-line md5-gate
    reference, for any id set (the engine-portability property the DuckDB
    oracle relies on)."""
    import hashlib

    from core_etl_spark.operators.sampling import deterministic_split, rate_threshold

    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r.doc_id: r.split for r in deterministic_split(df, w).collect()}

    t80, t90 = rate_threshold(0.8), rate_threshold(0.8 + 0.1)
    for i in ids:
        h = hashlib.md5(f"split1:{i}".encode()).hexdigest()[:8]
        expect = "train" if h < t80 else ("val" if h < t90 else "test")
        assert got[i] == expect, i


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 2**16 - 1), st.integers(0, 2**16 - 1)),
        min_size=1,
        max_size=40,
    )
)
def test_zorder_interleave_roundtrip(spark, points):
    """The Morton code must deinterleave back to exactly (x, y) — the
    encode is a bijection on [0, 2^16)² — and preserve the prefix
    property: equal high bits of z ⇒ nearby in both dimensions."""
    from core_etl_spark.operators.layout import zorder_value

    df = spark.createDataFrame(points, "x long, y long")
    got = df.select("x", "y", zorder_value(F.col("x"), F.col("y")).alias("z")).collect()
    for r in got:
        x = y = 0
        for i in range(16):
            x |= ((r.z >> (2 * i)) & 1) << i
            y |= ((r.z >> (2 * i + 1)) & 1) << i
        assert (x, y) == (r.x, r.y)


@settings(**_SETTINGS)
@given(
    st.dictionaries(
        st.sampled_from(["en", "de", "fr", "es", "zh"]),
        st.integers(1, 9),
        min_size=2,
        max_size=5,
    ),
    st.integers(0, 3),
)
def test_mixture_rebalance_matches_python_reference(spark, targets, salt_i):
    """The admitted doc set must equal a straight-line Python replay of
    the exact-integer threshold arithmetic, and the binding stratum must
    survive whole."""
    import hashlib
    from fractions import Fraction

    from core_etl_spark.operators.sampling import mixture_rebalance

    langs = sorted(targets)
    rows = [(i, langs[i % len(langs)]) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    salt = f"prop{salt_i}"
    kept, thresholds = mixture_rebalance(df, targets, salt=salt)
    counts: dict[str, int] = {}
    for _, lang in rows:
        counts[lang] = counts.get(lang, 0) + 1
    n_m, w_m = min(
        ((counts[s], targets[s]) for s in targets),
        key=lambda t: (Fraction(t[0], t[1]),),
    )
    expected = set()
    for i, lang in rows:
        gate = int(hashlib.md5(f"{salt}:{i}".encode()).hexdigest()[:8], 16)
        thr = min(16**8, (16**8 * targets[lang] * n_m) // (w_m * counts[lang]))
        assert thresholds[lang] == thr
        if gate < thr:
            expected.add(i)
    assert {r.doc_id for r in kept.collect()} == expected
    binding = min(targets, key=lambda s: (Fraction(counts[s], targets[s]),))
    # any argmin yields equal thresholds; the chosen binding stratum is whole
    kept_counts: dict[str, int] = {}
    for r in kept.collect():
        kept_counts[r.lang] = kept_counts.get(r.lang, 0) + 1
    assert kept_counts.get(binding, 0) == counts[binding]


@settings(**_SETTINGS)
@given(st.lists(st.integers(0, 60), min_size=3, max_size=10), st.integers(2, 4))
def test_pagerank_bounds_and_determinism(spark, seeds, iters):
    """Integer PageRank on a generated functional graph: every rank stays
    within [base, scale·n], ranks are bit-identical across two runs, and
    a node with no in-links sits exactly at base."""
    from core_etl_spark.operators.graph import pagerank

    n = len(seeds)
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, seeds[i] % n) for i in range(n) if seeds[i] % n != i],
        "src long, dst long",
    )
    if edges.count() == 0:
        return
    r1 = {r.id: r.rank for r in pagerank(nodes, edges, iterations=iters).collect()}
    r2 = {r.id: r.rank for r in pagerank(nodes, edges, iterations=iters).collect()}
    assert r1 == r2
    targets = {seeds[i] % n for i in range(n) if seeds[i] % n != i}
    for node, rank in r1.items():
        assert 150_000 <= rank <= 1_000_000 * n
        if node not in targets and iters >= 1:
            assert rank == 150_000


@settings(**_SETTINGS)
@given(
    st.lists(
        st.text("ab", min_size=1, max_size=8), min_size=1, max_size=15
    ),
    st.integers(1, 4),
)
def test_bpe_merges_match_canonical_greedy(spark, words_list, n_merges):
    """r07 canonical-BPE property: the distributed trainer must equal a
    straight-line canonical left-to-right greedy scan over symbol arrays —
    the two-character alphabet maximizes repeated-symbol runs, the exact
    case the old single-space replace merged only alternately."""
    words: dict[str, int] = {}
    for w in words_list:
        words[w] = words.get(w, 0) + 1

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
        nxt = {}
        for w, syms in state.items():
            out, j = [], 0
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == w1 and syms[j + 1] == w2:
                    out.append(w1 + w2)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            nxt[w] = out
        state = nxt

    text = " ".join(words_list)
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    got = [
        (r.merge_idx, r.w1, r.w2, r.pair_count)
        for r in X.bpe_merges(df, n_merges=n_merges).orderBy("merge_idx").collect()
    ]
    assert got == merges
    vocab = {r.sym: r.n for r in X.bpe_symbol_vocab(df, n_merges=n_merges).collect()}
    expected_vocab: dict[str, int] = {}
    for w, syms in state.items():
        for s in syms:
            expected_vocab[s] = expected_vocab.get(s, 0) + words[w]
    assert vocab == expected_vocab


@settings(**_SETTINGS)
@given(
    st.lists(st.integers(-50, 200), min_size=1, max_size=60, unique=True),
    st.integers(2, 17),
)
def test_positional_check_matches_sorted_enumerate(spark, values, bucket):
    """r07 two-phase-rank property: violations must equal the straight-line
    sorted-enumerate reference for any value set and any bucket size."""
    from core_etl_spark.operators.verify import positional_check

    expected = {
        (v, i) for i, v in enumerate(sorted(values)) if v != i
    }
    df = spark.createDataFrame([(v,) for v in values], "number long")
    got = {(r.value, r.pos) for r in positional_check(df, bucket=bucket).collect()}
    assert got == expected


_fork_num = st.one_of(st.none(), st.integers(0, 9))
_fork_hash = st.one_of(st.none(), st.sampled_from(["a", "b", "c"]))
# one case: stored (number, hash) pairs and incoming (number, hash,
# parent_hash) headers over ten heights and three hashes, so NULLs,
# duplicate heights, gaps and parentless heights all come up often
_fork_case = st.tuples(
    st.lists(st.tuples(_fork_num, _fork_hash), max_size=12),
    st.lists(st.tuples(_fork_num, _fork_hash, _fork_hash), max_size=12),
)


@settings(**_SETTINGS)
@given(st.lists(_fork_case, min_size=1, max_size=12))
@example([(
    # duplicate stored height 3 (one NULL hash), a gap at 5, height 7
    # with no stored parent, a NULL stored height
    [(2, "a"), (3, "b"), (3, None), (4, "c"), (6, None), (None, "a")],
    [(3, "b", "a"),      # agrees with one stored 3, not the NULL one
     (4, None, "b"),     # NULL hash vs stored c: flags 4
     (4, "c", None),     # NULL parent: unknowable, flags nothing
     (5, "a", "x"),      # parent 4 disagrees: flags 4
     (7, "a", "b"),      # stored parent 6 is NULL: nothing
     (8, "a", "b"),      # no stored parent at all
     (None, "a", "b")],  # NULL height joins nothing
)])
def test_forked_heights_matches_detect_reorgs(spark, cases):
    """The streaming tail's driver-side fork rule must equal the DataFrame
    ``detect_reorgs`` exactly, NULL semantics included. Cases are packed
    into one frame pair, 100 heights apart: both signals only relate
    ``number`` and ``number - 1``, so cases cannot interact."""
    from core_etl_spark.operators.maintenance import detect_reorgs, forked_heights

    def shift(n, k):
        return None if n is None else n + 100 * k

    stored = [(shift(n, k), h) for k, (st_, _) in enumerate(cases) for n, h in st_]
    incoming = [
        (shift(n, k), h, p) for k, (_, inc) in enumerate(cases) for n, h, p in inc
    ]
    expected = {
        r.forked_number
        for r in detect_reorgs(
            spark.createDataFrame(stored, "number long, hash string"),
            spark.createDataFrame(
                incoming, "number long, hash string, parent_hash string"
            ),
        ).collect()
    }
    assert forked_heights(stored, incoming) == expected


def test_lake_concurrent_mutations_lose_no_committed_rows(spark, tmp_path):
    """VERDICT r08 directive 5: the lake mutex discipline (lake.py — write
    vs the compact/clean bucket rewrites' stage-and-swap) is
    correctness-critical and was only single-threaded-tested. Hammer it: per seed, three writer
    threads append disjoint height ranges in randomized order with random
    jitter while a compactor loops compact() and a cleaner issues
    clean_blocks() on heights committed before the threads started.
    Invariant: the final table holds EXACTLY the appended rows minus the
    explicitly cleaned heights — a write landing between a maintenance
    op's scan and its swap would show up here as silently dropped rows.

    4 seeds x (24 appends + 6 compacts + 4 cleans) = 136 randomized
    concurrent mutations sampled from the schedule space."""
    import random
    import threading

    from core_etl_spark.lake import Lake
    from core_etl_spark.operators import transforms as T
    from core_etl_spark.sources import fixtures as FX

    n_blocks = 120
    raw = FX.raw_blocks(spark, n_blocks=n_blocks, txs_per_block=1)
    norm = T.normalize_blocks(raw).localCheckpoint(eager=True)

    for seed in range(4):
        rng = random.Random(seed)
        lk = Lake(
            spark, str(tmp_path / f"wh{seed}"), bucket_size=10, modules=("blocks",)
        )
        # pre-seeded base: heights 0..23, committed before any thread runs
        lk.write("blocks", norm.filter(F.col("number") < 24))
        cleaned = rng.sample(range(24), 4)

        # three writers split heights 24..119 into disjoint 4-block appends
        chunks = [(lo, lo + 3) for lo in range(24, n_blocks, 4)]
        rng.shuffle(chunks)
        per_writer = [chunks[i::3] for i in range(3)]
        errors: list[BaseException] = []

        def run(fn):
            try:
                fn()
            except BaseException as e:  # surfaced after join
                errors.append(e)

        def writer(my_chunks):
            def go():
                for lo, hi in my_chunks:
                    time.sleep(rng.random() * 0.02)
                    lk.write("blocks", norm.filter(F.col("number").between(lo, hi)))

            return go

        def compactor():
            for _ in range(6):
                time.sleep(rng.random() * 0.05)
                lk.compact("blocks", target_rows_per_file=30)

        def cleaner():
            for h in cleaned:
                time.sleep(rng.random() * 0.05)
                lk.clean_blocks([h])

        threads = [threading.Thread(target=run, args=(writer(pc),)) for pc in per_writer]
        threads += [
            threading.Thread(target=run, args=(compactor,)),
            threading.Thread(target=run, args=(cleaner,)),
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errors, errors

        expected = sorted(set(range(n_blocks)) - set(cleaned))
        got = sorted(r.number for r in lk.blocks().select("number").collect())
        assert got == expected, f"seed {seed}: lost/dup rows"
        # and the state stays exact through one more full compaction
        lk.compact("blocks", target_rows_per_file=30)
        got = sorted(r.number for r in lk.blocks().select("number").collect())
        assert got == expected


# --- portable sketches: Spark expression chains vs straight-line Python ------
#
# The sketches' whole claim is bit-replayability from md5 — so the strongest
# property is exact agreement with a hashlib reference on random keys, not
# just accuracy bounds (tests/test_sketches.py covers those).

import hashlib
import math

from core_etl_spark.operators import sketches as SK


def _py_hll_registers(keys, p=12):
    m = 1 << p
    regs = {}
    for k in keys:
        h = hashlib.md5(str(k).encode()).hexdigest()
        w1, w2 = int(h[:8], 16), int(h[8:16], 16)
        rho = 33 if w2 == 0 else 33 - w2.bit_length()
        b = w1 % m
        regs[b] = max(regs.get(b, 0), rho)
    return regs


def _py_hll_estimate(regs, p=12):
    m = 1 << p
    zeros = m - len(regs)
    sum_scaled = sum(1 << (33 - r) for r in regs.values()) + zeros * (1 << 33)
    # same literal expression shape as _alpha()/hll_estimate — IEEE-identical
    alpha = 0.7213 / (1 + 1.079 / float(m))
    raw = alpha * float(m) * float(m) * float(1 << 33) / float(sum_scaled)
    est = float(m) * math.log(float(m) / zeros) if (raw <= 2.5 * m and zeros > 0) else raw
    return math.floor(est * 10000.0) / 10000.0


@settings(**_SETTINGS)
@given(st.lists(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=400))
def test_hll_matches_python_reference_exactly(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got_regs = {
        r.bucket: r.rho for r in SK.hll_registers(df, "k").collect()
    }
    assert got_regs == _py_hll_registers(keys)
    got = SK.hll_estimate(SK.hll_registers(df, "k")).collect()[0]
    assert got["estimate"] == _py_hll_estimate(_py_hll_registers(keys))


def _py_cms_cells(keys):
    cells = {}
    for k in keys:
        h = hashlib.md5(str(k).encode()).hexdigest()
        for i in range(4):
            c = (i, int(h[8 * i : 8 * i + 8], 16) % 1024)
            cells[c] = cells.get(c, 0) + 1
    return cells


@settings(**_SETTINGS)
@given(st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=400))
def test_cms_matches_python_reference_exactly(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    cells = _py_cms_cells(keys)
    got = {
        (r.row_idx, r.col_idx): r.n for r in SK.cms_build(df, "k").collect()
    }
    assert got == cells
    probes = sorted(set(keys))[:50]
    pdf = spark.createDataFrame([(k,) for k in probes], "k long")
    est = {
        r.k: r.cms_n
        for r in SK.cms_estimate(SK.cms_build(df, "k"), pdf, "k").collect()
    }
    for k in probes:
        h = hashlib.md5(str(k).encode()).hexdigest()
        expect = min(
            cells.get((i, int(h[8 * i : 8 * i + 8], 16) % 1024), 0)
            for i in range(4)
        )
        assert est[k] == expect, k


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**9),
            st.integers(min_value=1, max_value=10**6),
        ),
        min_size=1,
        max_size=300,
        unique_by=lambda t: t[0],
    )
)
def test_weighted_sample_matches_python_reference(spark, rows):
    from core_etl_spark.operators.sampling import weighted_sample

    k = max(1, len(rows) // 3)
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = {r.doc_id for r in weighted_sample(df, "w", k=k).collect()}

    def rank_key(doc_id, w):
        h = hashlib.md5(f"wsample1:{doc_id}".encode()).hexdigest()
        u = (int(h[:8], 16) + 0.5) / 4294967296.0
        return (math.log(u) / float(w), -doc_id)

    expect = {
        d for d, w in sorted(rows, key=lambda t: rank_key(*t), reverse=True)[:k]
    }
    assert got == expect


@settings(**_SETTINGS)
@given(
    st.lists(
        st.integers(min_value=1, max_value=(1 << 53) - 1),
        min_size=1,
        max_size=200,
    )
)
def test_loglin_bucket_sql_matches_python_reference(ys):
    """The r12 exactness claim as a property: the generated DuckDB bucket
    expression must equal straight-line Python INTEGER arithmetic for any
    grid value in the full documented domain [1, 2^53) — including the
    top octaves where the r11 double floor-division overflowed into the
    next octave. (DuckDB-only on purpose: the Spark side evaluates the
    same generated arithmetic and is pinned at the adversarial edges by
    test_sketches.test_loglin_bucket_exact_at_domain_edge; skipping the
    JVM keeps this property cheap enough to run many examples.)"""
    import duckdb

    from core_etl_spark.operators import sketches

    s_pow, scale_pow = sketches._LOGLIN_SUBDIV_POW, sketches._LOGLIN_SCALE_POW
    s = 1 << s_pow

    def py_bucket(y: int) -> int:
        octave = y.bit_length()
        pot = 1 << (octave - 1)
        return (octave - 1) * s + ((y - pot) * s) // pot

    # CAST: a bare decimal literal parses as DECIMAL in DuckDB and the
    # bucket arithmetic would run in decimal, not the double the real
    # oracles feed it (their value_expr is a DOUBLE column).
    values = ", ".join(
        f"(CAST({y / (1 << scale_pow)!r} AS DOUBLE))" for y in ys
    )
    con = duckdb.connect()
    got = [
        b
        for (b,) in con.execute(
            f"SELECT {sketches.loglin_bucket_sql('v', scale_pow, s_pow)} "
            f"FROM (VALUES {values}) t(v)"
        ).fetchall()
    ]
    con.close()
    assert got == [py_bucket(y) for y in ys]
