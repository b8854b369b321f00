"""Similarity search over embedding columns (``array<float>``).

- **Brute-force cosine top-k** — the exactness baseline: broadcast the
  query set, one pass over the corpus, per-query top-k via ranked window.
  Linear in |corpus| × |queries|; right up to ~1e9 corpus rows when the
  query set is small.
- **LSH-bucketed ANN** — the scale path: random-hyperplane signatures
  (sign of ⟨plane, vec⟩) bucket the corpus; queries only score their own
  bucket. Planes are md5-derived ±1 coefficients, so signatures are
  deterministic and engine-portable.

Dot products run on exact decimals (coords rounded to 3 dp): sums are
order-independent, so results are bit-identical across engines — the same
trick the oracle-parity layer uses everywhere. The final cosine is one
IEEE-deterministic double expression over exact inputs.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame, Window as W, functions as F

_DEC = "decimal(10,3)"
_ACC = "decimal(28,6)"

#: Vector arithmetic mode for the similarity hot loops (r17, VERDICT r16
#: directive 5). ``"decimal"`` (default) keeps the exact decimal(10,3)
#: coords + decimal(28,6) fold everywhere — the oracle-parity
#: representation every spec was built against. ``"int64"`` runs the SAME
#: exact arithmetic on scaled integers: coords become millis (the
#: decimal(10,3) value × 1000, an exact long), the per-pair dot/normsq
#: folds run in primitive 64-bit multiply-add instead of allocating a
#: BigDecimal per element, and the accumulated millis² sum is converted
#: back to the decimal value (exact ÷10⁶ scale shift) ONLY at the
#: per-row boundary where the cosine needs it — so every downstream
#: double (cosine_sim, adc_dist, ranks) is BIT-IDENTICAL to the decimal
#: mode (pinned by tests/test_llm_ops.py::test_vec_arith_modes_identical
#: and by the oracle drive run with the global flipped). Results differ
#: only if a product overflows int64, which ANSI mode turns into a loud
#: error, never a silent wrong answer: safe while max|coord| ≤
#: √(2⁶³/(dim·10⁶)) ≈ 3.8e5 at dim 64 (≈1.1e5 at dim 768) — far above
#: any real embedding's coordinate range; keep "decimal" for corpora
#: with unbounded magnitudes. Env-settable (``SPARK_GRAFT_VEC_ARITH=int64``)
#: so a production profile can flip it without code edits, the same way
#: it flips the parquet codec.
import os as _os

VEC_ARITH = _os.environ.get("SPARK_GRAFT_VEC_ARITH", "decimal")
if VEC_ARITH not in ("decimal", "int64"):
    raise ValueError(
        f"SPARK_GRAFT_VEC_ARITH must be decimal or int64, got {VEC_ARITH!r}"
    )

#: millis scale: decimal(10,3) ↔ int64 conversion factor (3 dp exact)
_SCALE = 1000
_SCALE_SQ = _SCALE * _SCALE


def _dec_vec(v: Column) -> Column:
    """Embedding coords as exact decimals (3 dp)."""
    return F.transform(v, lambda x: F.round(x.cast("double"), 3).cast(_DEC))


def _vec(v: Column) -> Column:
    """Embedding coords in the active representation: exact decimals
    (``VEC_ARITH="decimal"``) or exact scaled-int64 millis (``"int64"`` —
    derived from the SAME rounded decimal, so the two representations
    denote identical rationals)."""
    if VEC_ARITH == "int64":
        return F.transform(
            v,
            lambda x: (F.round(x.cast("double"), 3).cast(_DEC) * _SCALE)
            .cast("long"),
        )
    return _dec_vec(v)


def _dot(a: Column, b: Column) -> Column:
    """Exact dot product in the active representation: element products
    then an order-stable exact fold. int64 mode folds in primitive 64-bit
    arithmetic and converts the millis² accumulator back to the exact
    decimal value (÷10⁶ is a scale shift — terminating, lossless), so the
    RESULT is the same exact rational either way; only the per-element
    cost differs (primitive multiply-add vs BigDecimal allocation)."""
    if VEC_ARITH == "int64":
        prods = F.zip_with(a, b, lambda x, y: x * y)
        acc = F.aggregate(prods, F.lit(0).cast("long"), lambda s, x: s + x)
        return _millis_sq_to_dec(acc)
    prods = F.zip_with(a, b, lambda x, y: (x * y).cast(_ACC))
    return F.aggregate(prods, F.lit(0).cast(_ACC), lambda acc, x: (acc + x).cast(_ACC))


def _millis_sq_to_dec(acc: Column) -> Column:
    """Exact millis² → decimal value: a ÷10⁶ scale shift. decimal(38,0)
    ÷ decimal(7,0) yields scale ≥ 6 under Spark's division typing, and a
    power-of-ten divisor terminates, so the conversion is lossless — the
    downstream double cast sees the identical rational the decimal-mode
    fold produces."""
    return acc.cast("decimal(38,0)") / F.lit(_SCALE_SQ).cast("decimal(7,0)")


class EmptyVectorColumn(ValueError):
    """The vector column holds no non-empty vectors at all — the whole
    corpus is empty (day-zero deployment, a tenant/date slice before its
    first ingest). Distinct from a *config* error (ids not dense from 0,
    too few training rows) because the downstream QUERY result is still
    perfectly well-defined: zero neighbors / zero pairs. Top-k and
    near-dup operators catch this and return a schema-correct empty
    frame (the r16 empty-table sweep found them raising instead, where
    every DuckDB oracle agreed the answer was simply no rows); model
    builds (k-means fit, PQ codebook training, index writes) let it
    propagate — fitting a model to nothing has no defined output."""


def infer_dim(df: DataFrame, vec_col: str = "embedding") -> int:
    """Modal vector dimension — one tiny aggregation over a narrow
    column (max count, ties to the larger dimension, so the answer is
    deterministic). The anchor for :func:`valid_vectors` when the caller
    doesn't declare the corpus dimension. Raises
    :class:`EmptyVectorColumn` when there is nothing to infer from."""
    rows = (
        df.filter(F.col(vec_col).isNotNull())
        .groupBy(F.size(F.col(vec_col)).alias("d"))
        .count()
        .collect()
    )
    sizes = [(r["count"], r["d"]) for r in rows if r["d"] > 0]
    if not sizes:
        raise EmptyVectorColumn(f"no non-empty vectors in column {vec_col!r}")
    return max(sizes)[1]


def _empty_ann_result(df: DataFrame, id_col: str, score_col: str) -> DataFrame:
    """Zero-row (query_id, neighbor_id, rank, <score_col>) with the exact
    dtypes the non-empty path produces — id columns typed off the input,
    so unions/joins against real batches stay schema-stable."""
    from pyspark.sql import types as T

    idt = df.schema[id_col].dataType
    return df.sparkSession.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("query_id", idt),
                T.StructField("neighbor_id", idt),
                T.StructField("rank", T.IntegerType(), False),
                T.StructField(score_col, T.DoubleType()),
            ]
        ),
    )


def valid_vectors(
    df: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> tuple[DataFrame, int]:
    """Drop vectors similarity is undefined for — NULL, empty, a
    dimension other than ``dim`` (inferred modal when not declared),
    containing a NULL element, or containing a non-finite element. At
    100 TB a real embedding column WILL contain these (the r13
    adversarial-data audit planted them and one NULL vector crashed four
    operators with DIVIDE_BY_ZERO / len(None)); excluding them is the
    only semantics every engine agrees on, and the DuckDB oracles apply
    the identical filter. The element-NULL arm is the ADVICE r13 fix:
    Spark's decimal fold null-propagates where DuckDB's list_sum SKIPS
    nulls, so an element-null vector would score differently per engine
    — it carries no agreed-on similarity at all. The non-finite arm is
    the r14 numeric-extremes leg: a NaN/±Inf coordinate makes every dot
    product NaN/±Inf (no meaningful rank position), the 3-dp decimal
    quantization both engines share cannot represent it (DuckDB's
    NaN→DECIMAL cast is an error, not even a TRY_CAST NULL), and Spark's
    ML KMeans raises outright on such vectors — the sweep caught l12b
    dying mid-stage on one planted NaN. Returns ``(filtered, dim)`` so
    the corpus's dimension anchors the query side too."""
    if dim is None:
        dim = infer_dim(df, vec_col)
    c = F.col(vec_col)
    no_null_elem = ~F.exists(c, lambda x: x.isNull())
    no_nonfinite = ~F.exists(
        c, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf")))
    )
    return (
        df.filter(c.isNotNull() & (F.size(c) == dim) & no_null_elem & no_nonfinite),
        dim,
    )


def with_norm(
    df: DataFrame, vec_col: str = "embedding", parallelize: bool = True
) -> DataFrame:
    """Attach the exact-decimal squared norm (computed once per vector),
    dropping zero-norm vectors — cosine is undefined for them, and under
    ANSI mode the division would kill the stage (r13 adversarial-data
    audit). Callers gate NULL/empty/wrong-dim vectors first via
    :func:`valid_vectors`. Repartitions thin inputs first — the decimal
    fold is compute-heavy and must not run on a single small-file task.
    Pass ``parallelize=False`` for a small side that is about to be
    broadcast: spreading ten query rows over the cluster just buys an
    extra shuffle stage before the broadcast collect."""
    from .dedup import ensure_parallelism

    vec = _vec(F.col(vec_col))
    # zero-norm test as a cheap short-circuit EXISTS over the raw coords
    # (normsq > 0 ⟺ some coordinate rounds non-zero at 3 dp): filtering
    # on the _normsq column itself gets pushed into the scan as a
    # predicate and Catalyst does not share the aggregate subexpression
    # between Filter and Project — the O(dim) decimal fold would run
    # TWICE per row (seen in the l12 plan, r13).
    nonzero = F.exists(
        F.col(vec_col), lambda x: F.round(x.cast("double"), 3) != 0.0
    )
    if parallelize:
        df = ensure_parallelism(df)
    return (
        df.filter(nonzero)
        .withColumn("_dec", vec)
        .withColumn("_normsq", _dot(F.col("_dec"), F.col("_dec")))
    )


def cosine(dot: Column, normsq_a: Column, normsq_b: Column) -> Column:
    """cosine = dot / sqrt(|a|² · |b|²) — all three inputs exact decimals,
    one deterministic double expression."""
    return dot.cast("double") / F.sqrt(normsq_a.cast("double") * normsq_b.cast("double"))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per query: broadcast queries × corpus,
    ranked window per query (ties broken by neighbor id). Output
    (query_id, neighbor_id, rank, cosine_sim). Malformed vectors
    (NULL/empty/wrong-dim/zero-norm) are excluded on both sides — see
    :func:`valid_vectors`; declare ``dim`` when you know it (production
    callers do) to skip the one-job modal-dimension inference. An empty
    corpus yields an empty result (r16 empty-table sweep), matching what
    the declared-``dim`` path already did by dataflow."""
    try:
        corpus, dim = valid_vectors(corpus, vec_col, dim)
    except EmptyVectorColumn:
        return _empty_ann_result(corpus, id_col, "cosine_sim")
    queries, _ = valid_vectors(queries, vec_col, dim)
    c = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("_dec").alias("c_dec"),
        F.col("_normsq").alias("c_normsq"),
    )
    q = with_norm(queries, vec_col, parallelize=False).select(
        F.col(id_col).alias("query_id"),
        F.col("_dec").alias("q_dec"),
        F.col("_normsq").alias("q_normsq"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(
                _dot(F.col("q_dec"), F.col("c_dec")),
                F.col("q_normsq"),
                F.col("c_normsq"),
            ).alias("cosine_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def hyperplane_signature(
    dec: Column, n_planes: int = 8, dim: int = 64
) -> Column:
    """Random-hyperplane LSH signature: bit *p* = sign of ⟨plane_p, v⟩
    where plane_p[d] = ±1 from the top bit of md5(f"{p}_{d}"). The planes
    are data-independent constants — Catalyst folds them — so the corpus
    pass is a single projection.

    ``dec`` must be a *materialized* exact vector column in the ACTIVE
    representation (e.g. the ``_dec`` from ``with_norm``) — an inline
    ``_vec(...)`` would be re-evaluated once per plane (no CSE inside
    transform lambdas)."""
    one = _SCALE if VEC_ARITH == "int64" else 1
    typ = "long" if VEC_ARITH == "int64" else _DEC
    bits = []
    for p in range(n_planes):
        coeffs = F.array(
            *[
                F.lit(one).cast(typ) if _plane_bit(p, d) else F.lit(-one).cast(typ)
                for d in range(dim)
            ]
        )
        dot = _dot(dec, coeffs)
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _plane_bit(p: int, d: int) -> bool:
    """Deterministic ±1 coefficient source, engine-portable (md5)."""
    import hashlib

    return hashlib.md5(f"{p}_{d}".encode()).hexdigest()[0] >= "8"


def _flip_bit(col_name: str, pos: int) -> Column:
    """Signature column with bit ``pos`` (0-based) flipped."""
    sig = F.col(col_name)
    flipped = F.when(F.substring(sig, pos + 1, 1) == "1", F.lit("0")).otherwise(F.lit("1"))
    return F.concat(
        F.substring(sig, 1, pos), flipped, F.expr(f"substring({col_name}, {pos + 2})")
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 6,
    dim: int | None = None,
    multiprobe: bool = True,
) -> DataFrame:
    """ANN top-k: score only corpus vectors whose hyperplane bucket is
    within hamming-1 of the query's (multi-probe LSH). The probe expansion
    happens on the (small) query side — corpus keeps exactly one bucket per
    vector, so the candidate join stays an equi-join: with 6 planes and
    hamming-1 probing each query touches ~7/64 of a uniformly-bucketed
    corpus, not all of it. Malformed vectors are excluded on both sides
    (:func:`valid_vectors`, anchored on the declared ``dim``).

    ``dim=None`` (r15 review) infers the modal dimension instead of the
    old hard-coded 64, which silently dropped EVERY vector of any other
    dimensionality on both sides and returned an empty result with no
    signal; declare ``dim`` when known to skip the inference job. An
    empty corpus yields an empty result (r16 empty-table sweep)."""
    try:
        corpus, dim = valid_vectors(corpus, vec_col, dim)
    except EmptyVectorColumn:
        return _empty_ann_result(corpus, id_col, "cosine_sim")
    queries, _ = valid_vectors(queries, vec_col, dim)
    c = with_norm(corpus, vec_col).withColumn(
        "bucket", hyperplane_signature(F.col("_dec"), n_planes, dim)
    ).select(
        F.col(id_col).alias("neighbor_id"), "bucket",
        F.col("_dec").alias("c_dec"), F.col("_normsq").alias("c_normsq"),
    )
    q = with_norm(queries, vec_col, parallelize=False).withColumn(
        "bucket", hyperplane_signature(F.col("_dec"), n_planes, dim)
    ).select(
        F.col(id_col).alias("query_id"), "bucket",
        F.col("_dec").alias("q_dec"), F.col("_normsq").alias("q_normsq"),
    )
    if multiprobe:
        probes = F.array(F.col("bucket"), *[_flip_bit("bucket", p) for p in range(n_planes)])
        q = q.withColumn("bucket", F.explode(probes))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(
                _dot(F.col("q_dec"), F.col("c_dec")),
                F.col("q_normsq"),
                F.col("c_normsq"),
            ).alias("cosine_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def _first_k_centroids(
    corpus: DataFrame,
    n_centroids: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Default centroid table: the VALID vectors with id < K — the
    deterministic, oracle-replayable rule every IVF/IVF-PQ function and
    oracle shares. Malformed vectors among ids < K shrink the set (the
    dirty sweep depends on that), but an EMPTY result is always caller
    error — ids that don't start near 0 (offset ranges, UUIDs) match
    nothing and every downstream join silently returns zero rows (r15
    review) — so emptiness fails loudly with the remedy.

    Built from the PRE-shuffle corpus slice (VERDICT r15 item 2): the
    ``id < K`` filter is pushed into the scan, so both the emptiness
    probe and the later broadcast cost a K-row pruned read — the old
    post-``with_norm`` probe re-executed the corpus-wide repartition
    stage as an extra job on EVERY ivf/ivfpq call. ``parallelize=False``
    because the K-row result is always broadcast, never shuffled."""
    sl = with_norm(
        corpus.filter(F.col(id_col) < n_centroids), vec_col, parallelize=False
    )
    cents = sl.select(
        F.col(id_col).alias("cent_id"),
        F.col("_dec").alias("c_dec"),
        F.col("_normsq").alias("c_normsq"),
    )
    if cents.isEmpty():
        # failure path only (never a job on the happy path): distinguish
        # "the corpus has no valid vectors AT ALL" — a well-defined
        # empty-query situation the top-k callers turn into an empty
        # result (r16 empty-table sweep) — from the genuine config error
        # of a non-empty corpus whose ids don't start near 0.
        if corpus.isEmpty():
            raise EmptyVectorColumn(
                f"no valid vectors in column {vec_col!r} — empty corpus"
            )
        raise ValueError(
            f"default first-K centroids: no valid vectors with id < "
            f"{n_centroids} — ids must be dense from ~0 for the default "
            "rule; pass centroids=kmeans_centroids(...) (or an explicit "
            "centroid frame) for arbitrary id spaces"
        )
    return cents


def ivf_assign_cells(
    corpus: DataFrame,
    centroids: DataFrame,
) -> DataFrame:
    """Assign each corpus vector to its nearest centroid (max cosine,
    ties → lowest cent_id) — the IVF inverted-list build.

    Plan shape: corpus × broadcast(centroids) (a broadcast nested-loop
    over a small constant side — K rows, never the corpus), then a
    ``max_by`` aggregate per vector. The K candidate rows per vector are
    produced inside one task, so partial aggregation collapses them
    map-side; the final shuffle carries ~one row per corpus vector —
    the same cost as any repartition, 100×-safe.

    ``corpus``: (id, dec, normsq) from ``with_norm``.
    ``centroids``: (cent_id, c_dec, c_normsq)."""
    scored = corpus.crossJoin(F.broadcast(centroids)).withColumn(
        "_cos", cosine(_dot(F.col("dec"), F.col("c_dec")), F.col("normsq"), F.col("c_normsq"))
    )
    # max_by over (cos, -cent_id): highest cosine, then lowest centroid id
    best = F.max_by(
        F.col("cent_id"), F.struct(F.col("_cos"), (-F.col("cent_id")).alias("neg"))
    )
    return scored.groupBy("id").agg(
        best.alias("cell"),
        F.first("dec").alias("dec"),
        F.first("normsq").alias("normsq"),
    )


def _fit_kmeans_clamped(
    feats, arrs, k: int, seed: int, where: str
) -> list[list[float]]:
    """Fit KMeans(k) and return its centers, recovering from Spark ML's
    known sharp edge: with fewer DISTINCT points than k, k-means|| init
    returns fewer centers and the aggregator dies with a bare
    ArrayIndexOutOfBoundsException. On that failure only, count the
    distinct training arrays (``arrs`` is the pre-vectorized
    array<double> frame — arrays hash, VectorUDT does not) and clamp k to
    that count before refitting; with exactly one distinct vector it IS
    the centroid (Spark ML rejects k < 2 outright), and an empty training
    set raises a designed error. Happy path: one fit, zero extra jobs."""
    from py4j.protocol import Py4JJavaError
    from pyspark.ml.clustering import KMeans

    def centers(model) -> list[list[float]]:
        return [[float(x) for x in c] for c in model.clusterCenters()]

    try:
        return centers(KMeans(k=k, seed=seed, featuresCol="features").fit(feats))
    except Py4JJavaError as e:
        if "ArrayIndexOutOfBoundsException" not in str(e):
            raise
        n_distinct = arrs.distinct().count()
        if n_distinct == 0:
            raise ValueError(
                f"{where}: training sample is empty — raise sample_fraction"
            ) from e
        if n_distinct >= k:  # not the under-k failure after all
            raise
        if n_distinct == 1:
            return [[float(x) for x in arrs.first()["v"]]]
        model = KMeans(k=n_distinct, seed=seed, featuresCol="features").fit(feats)
        return centers(model)


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    seed: int = 7,
) -> DataFrame:
    """KMeans-trained IVF centroids — the production swap for the
    deterministic first-K-by-id table ``ivf_ann_topk`` defaults to.

    ``pyspark.ml.clustering.KMeans`` (distributed Lloyd's with k-means||
    init) trains on an optional sample; the K fitted centers come back to
    the driver (K × dim doubles — bytes, not data) and are re-emitted in
    the exact shape ``ivf_assign_cells`` consumes: (cent_id, c_dec,
    c_normsq). Every downstream step — broadcast assignment, probe
    expansion, equi-join on cell — is unchanged, only this table differs.

    At 100 TB train on a sample (``sample_fraction`` ≈ 1e-5 → ~1e6
    vectors): centroid quality converges long before the full corpus, and
    the sample pass is a narrow scan, no shuffle beyond KMeans' own
    aggregations. A training set with fewer DISTINCT vectors than
    ``n_centroids`` clamps k to that count instead of surfacing Spark
    ML's raw ArrayIndexOutOfBoundsException (k-means|| init yields fewer
    centers than k and the block aggregator indexes past them — the r16
    one-row-table sweep hit this on a day-one corpus); fewer cells than
    asked is exactly right when the data has no more structure to give.
    The recovery is failure-path only — no extra jobs on the happy path."""
    from pyspark.ml.functions import array_to_vector

    # KMeans needs a uniform dimension; one NULL/short vector fails the
    # whole fit (r13 adversarial-data audit) -- gate malformed rows first.
    corpus, _ = valid_vectors(corpus, vec_col)
    arrs = corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
    if sample_fraction is not None:
        arrs = arrs.sample(fraction=sample_fraction, seed=seed)
    feats = arrs.select(array_to_vector(F.col("v")).alias("features"))
    fitted = _fit_kmeans_clamped(feats, arrs, n_centroids, seed, "kmeans_centroids")
    centers = list(enumerate(fitted))
    cdf = corpus.sparkSession.createDataFrame(
        centers, "cent_id long, emb array<double>"
    )
    return cdf.select(
        "cent_id", _vec(F.col("emb")).alias("c_dec")
    ).withColumn("c_normsq", _dot(F.col("c_dec"), F.col("c_dec")))


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
    dim: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN top-k: partition the corpus into
    ``n_centroids`` Voronoi cells, score each query only against the
    ``nprobe`` cells nearest to it — the classic FAISS-style scale path,
    complementary to ``lsh_ann_topk`` (data-adaptive cells vs oblivious
    hyperplanes).

    Default centroids are the first ``n_centroids`` corpus vectors by id —
    deterministic, so the DuckDB oracle can replay cell assignment
    bit-for-bit. Pass ``centroids=kmeans_centroids(corpus, ...)`` for the
    production data-adaptive cells; every downstream step — broadcast
    assignment, probe expansion, equi-join on cell — is unchanged, only
    the centroid table differs.

    Cost at scale: one broadcast pass + one narrow shuffle to build the
    inverted lists (amortizable: persist the assigned corpus), then each
    query touches ~nprobe/n_centroids of the corpus via a broadcast
    equi-join on the cell id — no cartesian product anywhere. Malformed
    vectors are excluded on both sides (:func:`valid_vectors`); the
    default first-K centroid table is therefore the VALID vectors with
    id < K (the oracle replays the same rule). Declare ``dim`` when
    known to skip the modal-dimension inference job. An empty corpus
    yields an empty result (r16 empty-table sweep) — a raise is reserved
    for the config error of a non-empty corpus with non-dense ids."""
    try:
        corpus, dim = valid_vectors(corpus, vec_col, dim)
    except EmptyVectorColumn:
        return _empty_ann_result(corpus, id_col, "cosine_sim")
    queries, _ = valid_vectors(queries, vec_col, dim)
    n = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("id"), "_dec", "_normsq"
    ).withColumnsRenamed({"_dec": "dec", "_normsq": "normsq"})
    if centroids is not None:
        cents = centroids  # e.g. kmeans_centroids(): (cent_id, c_dec, c_normsq)
    else:
        try:
            cents = _first_k_centroids(corpus, n_centroids, vec_col, id_col)
        except EmptyVectorColumn:
            return _empty_ann_result(corpus, id_col, "cosine_sim")
    lists = ivf_assign_cells(n, cents).select(
        F.col("id").alias("neighbor_id"), "cell",
        F.col("dec").alias("c_dec2"), F.col("normsq").alias("c_normsq2"),
    )

    q = with_norm(queries, vec_col, parallelize=False).select(
        F.col(id_col).alias("query_id"),
        F.col("_dec").alias("q_dec"),
        F.col("_normsq").alias("q_normsq"),
    )
    qscored = q.crossJoin(F.broadcast(cents)).withColumn(
        "_cos", cosine(_dot(F.col("q_dec"), F.col("c_dec")), F.col("q_normsq"), F.col("c_normsq"))
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("_cos"), "cent_id")
    probes = (
        qscored.withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= nprobe)
        .select("query_id", F.col("cent_id").alias("cell"), "q_dec", "q_normsq")
    )

    scored = (
        lists.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(
                _dot(F.col("q_dec"), F.col("c_dec2")),
                F.col("q_normsq"),
                F.col("c_normsq2"),
            ).alias("cosine_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def embedding_near_dups(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int | None = 4,
    dim: int | None = None,
    multiprobe: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim ≥ threshold),
    LSH-bucketed: both sides carry a hyperplane signature and only pairs
    whose buckets are within hamming-1 are scored. The probe expansion
    happens on the *left* side only (bucket + one flip per plane), so the
    candidate join is an equi-join on the bucket string — never a cartesian
    product — and each qualifying pair matches exactly once (the probe set
    is distinct, the right side keeps one bucket per vector, and
    ``id_a < id_b`` kills the mirror direction).

    Cost: corpus × (n_planes + 1) exploded rows on the left, one shuffle on
    the bucket key. Recall is the standard LSH trade — raise ``n_planes``
    with corpus size to keep buckets small (4 planes / hamming-1 probing =
    5/16 of the corpus per vector; 16 planes → 17/65536). ``n_planes=None``
    falls back to exact all-pairs — small corpora only. Malformed
    vectors are excluded (:func:`valid_vectors`, anchored on ``dim``;
    ``dim=None`` infers the modal dimension — the old hard-coded 64
    silently emptied any other-dimensional corpus, r15 review). An empty
    corpus yields an empty pair set (r16 empty-table sweep)."""
    try:
        df, dim = valid_vectors(df, vec_col, dim)
    except EmptyVectorColumn:
        from pyspark.sql import types as T

        idt = df.schema[id_col].dataType
        return df.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("id_a", idt),
                    T.StructField("id_b", idt),
                    T.StructField("cosine_sim", T.DoubleType()),
                ]
            ),
        )
    n = with_norm(df, vec_col).select(
        F.col(id_col).alias("id"), F.col("_dec").alias("dec"), F.col("_normsq").alias("normsq")
    )
    if not n_planes:
        a = n.select(F.col("id").alias("id_a"), F.col("dec").alias("a_dec"), F.col("normsq").alias("a_normsq"))
        b = n.select(F.col("id").alias("id_b"), F.col("dec").alias("b_dec"), F.col("normsq").alias("b_normsq"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        n = n.withColumn("bucket", hyperplane_signature(F.col("dec"), n_planes, dim))
        a = n.select(
            F.col("id").alias("id_a"), F.col("dec").alias("a_dec"),
            F.col("normsq").alias("a_normsq"), "bucket",
        )
        if multiprobe:
            probes = F.array(F.col("bucket"), *[_flip_bit("bucket", p) for p in range(n_planes)])
            a = a.withColumn("bucket", F.explode(probes))
        b = n.select(
            F.col("id").alias("id_b"), F.col("dec").alias("b_dec"),
            F.col("normsq").alias("b_normsq"), "bucket",
        )
        pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a",
            "id_b",
            cosine(_dot(F.col("a_dec"), F.col("b_dec")), F.col("a_normsq"), F.col("b_normsq")).alias(
                "cosine_sim"
            ),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


# --- persisted IVF index (build once, probe many) ----------------------------

def _align_vec(col: Column, elem_type) -> Column:
    """Persisted index vector arrays → the ACTIVE representation (the
    index-schema versioning of r17): v1 indexes store
    ``array<decimal(10,3)>``, v2 indexes — written by a session running
    ``VEC_ARITH="int64"`` — store ``array<long>`` millis. Both
    directions are exact ×/÷1000 scale shifts, so a session in either
    mode reads either schema version and produces bit-identical
    results; the conversion is one transform per stored vector, paid
    once per scan, nothing on the per-pair hot path."""
    from pyspark.sql import types as T

    is_long = isinstance(elem_type, T.LongType)
    if VEC_ARITH == "int64":
        if is_long:
            return col
        return F.transform(col, lambda x: (x * _SCALE).cast("long"))
    if not is_long:
        return col
    # long millis → decimal(10,3): ×0.001 in exact decimal arithmetic
    return F.transform(
        col,
        lambda x: (
            x.cast("decimal(19,0)") * F.lit("0.001").cast("decimal(4,3)")
        ).cast(_DEC),
    )


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> None:
    """Materialize the IVF inverted lists to parquet **partitioned by
    cell** — the build-once/probe-many shape ``ivf_ann_topk``'s docstring
    promises. The one-off build pays the broadcast assignment; after
    that every query batch reads only its probed cells *from disk*:
    the cell filter is a partition predicate, so a probe touches
    ~nprobe/n_centroids of the files, not the corpus. Centroids (K rows)
    are stored alongside so the index is self-contained. Malformed
    vectors are excluded (:func:`valid_vectors`) — an index must never
    be poisoned by rows no query could score."""
    corpus, _ = valid_vectors(corpus, vec_col)
    n = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("id"), "_dec", "_normsq"
    ).withColumnsRenamed({"_dec": "dec", "_normsq": "normsq"})
    if centroids is not None:
        cents = centroids
    else:
        cents = _first_k_centroids(corpus, n_centroids, vec_col, id_col)
    lists = ivf_assign_cells(n, cents)
    lists.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/lists")
    cents.write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k over a persisted IVF index. The probed cell ids (a
    queries × nprobe handful of ints — bounded, driver-safe) become a
    literal partition filter on the lists table, so the scan prunes to
    the probed directories before any row is read — at 100 TB the query
    cost is proportional to nprobe/n_centroids of the index, which is
    the entire point of building one. Malformed query vectors are
    excluded, anchored on the INDEX's dimension (read off the stored
    centroids — K rows, driver-cheap)."""
    cents = spark.read.parquet(f"{path}/centroids")
    head = cents.select("c_dec").first()
    if head is None:  # corrupt/partial index: subscripting None was a TypeError
        raise ValueError(
            f"IVF index at {path!r} has an empty centroids table — "
            "rebuild it with write_ivf_index"
        )
    dim = len(head["c_dec"])
    cents = cents.withColumn(
        "c_dec",
        _align_vec(F.col("c_dec"), cents.schema["c_dec"].dataType.elementType),
    )
    queries, _ = valid_vectors(queries, vec_col, dim)
    q = with_norm(queries, vec_col, parallelize=False).select(
        F.col(id_col).alias("query_id"),
        F.col("_dec").alias("q_dec"),
        F.col("_normsq").alias("q_normsq"),
    )
    qscored = q.crossJoin(F.broadcast(cents)).withColumn(
        "_cos",
        cosine(_dot(F.col("q_dec"), F.col("c_dec")), F.col("q_normsq"), F.col("c_normsq")),
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("_cos"), "cent_id")
    probes = (
        qscored.withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= nprobe)
        .select("query_id", F.col("cent_id").alias("cell"), "q_dec", "q_normsq")
        # lazy: the cells collect() below materializes it — one job, not two
        .localCheckpoint(eager=False)
    )
    cells = [r.cell for r in probes.select("cell").distinct().collect()]
    lists = spark.read.parquet(f"{path}/lists").filter(F.col("cell").isin(cells))
    lists = lists.withColumn(
        "dec", _align_vec(F.col("dec"), lists.schema["dec"].dataType.elementType)
    )
    scored = (
        lists.join(F.broadcast(probes), "cell")
        .filter(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            cosine(
                _dot(F.col("q_dec"), F.col("dec")),
                F.col("q_normsq"),
                F.col("normsq"),
            ).alias("cosine_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


# --- product quantization (PQ) ------------------------------------------------
#
# IVF narrows WHERE to look; PQ shrinks WHAT is stored: each vector becomes
# m small codes (here 4 × 4-bit = 2 bytes vs 256 bytes of float32 — 128×),
# and query-time distances are looked up from a per-query table instead of
# touching raw floats (ADC — asymmetric distance computation). This is the
# FAISS IVF-PQ decomposition re-expressed as DataFrame ops: encoding is a
# zero-shuffle projection, search is a broadcast join + array lookups.
# All arithmetic stays in the module's exact-decimal scheme, so codes and
# rankings are bit-identical across engines (the l28 oracle replays them).


def _millis(c) -> int:
    """A codebook word coordinate as exact int64 millis: the value the
    decimal path's ``F.lit(str(c)).cast(_DEC)`` holds, × 1000."""
    return int(Decimal(str(c)).quantize(Decimal("0.001"), ROUND_HALF_UP) * _SCALE)


def _subdist(sub: Column, centroid_lits: list) -> Column:
    """Exact squared L2 between a subvector column and a constant
    centroid in the ACTIVE representation: (x-c)² terms, order-stable
    exact fold. Catalyst constant-folds the centroid array. In int64
    mode the RAW accumulator is millis² (a long) — callers that only
    ORDER distances (argmin/ADC ranking) use it directly (the ordering
    is the decimal ordering, scale is a positive constant); callers
    that need the decimal VALUE convert once via
    :func:`_millis_sq_to_dec`. Words convert through ``Decimal(str(c))``
    rounded half-up to 3 dp, exactly as the decimal path casts its
    ``str(c)`` literal, so float words agree too (``int(1.005 * 1000)``
    would truncate to 1004)."""
    if VEC_ARITH == "int64":
        cent = F.array(
            *[F.lit(_millis(c)).cast("long") for c in centroid_lits]
        )
        terms = F.zip_with(sub, cent, lambda x, c: (x - c) * (x - c))
        return F.aggregate(terms, F.lit(0).cast("long"), lambda a, x: a + x)
    cent = F.array(*[F.lit(str(c)).cast(_DEC) for c in centroid_lits])
    terms = F.zip_with(sub, cent, lambda x, c: ((x - c) * (x - c)).cast(_ACC))
    return F.aggregate(terms, F.lit(0).cast(_ACC), lambda a, x: (a + x).cast(_ACC))


def pq_codebooks_first_k(
    corpus: DataFrame,
    m: int = 4,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> list[list[list]]:
    """Deterministic PQ codebooks: sub-codebook j = the j-th subvector
    slices of the VALID vectors among the first ``ksub`` corpus ids (the
    PQ analogue of ``ivf_ann_topk``'s first-K centroids — replayable by
    the oracle, which applies the same validity filter). Malformed
    vectors among the training ids shrink the codebook instead of
    crashing the collect (r13 adversarial-data audit: a NULL embedding
    at id 0 was len(None)). Returns ``codebooks[j][code] -> list of
    Decimal`` — a bounded collect of ≤ ksub rows (the training artifact
    is bytes, never data-sized). Pass ``dim`` when the caller already
    validated the corpus (skips a redundant full-corpus modal-dimension
    inference job, r15 review)."""
    corpus, _ = valid_vectors(corpus, vec_col, dim)
    rows = (
        corpus.filter(F.col(id_col) < ksub)
        .select(F.col(id_col).alias("id"), _dec_vec(F.col(vec_col)).alias("dec"))
        .orderBy("id")
        .collect()
    )
    if not rows:
        # failure path only: an entirely-empty valid corpus is the
        # well-defined zero-neighbors situation (r16 empty-table sweep);
        # a non-empty corpus with NO trainable vectors among the first
        # ksub ids stays the loud config error. (One vector is enough —
        # a 1-word sub-codebook is a legitimate, if coarse, quantizer,
        # and the r16 one-row-table sweep showed the old "< 2" guard
        # rejecting a legitimate day-one corpus.)
        if corpus.isEmpty():
            raise EmptyVectorColumn(
                f"no valid vectors in column {vec_col!r} — empty corpus"
            )
        raise ValueError(
            f"pq_codebooks_first_k: no valid vectors among ids < {ksub} — "
            "ids must be dense from ~0 for the default rule; pass "
            "codebooks=pq_codebooks_kmeans(...) for arbitrary id spaces"
        )
    dim = len(rows[0].dec)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return [
        [list(r.dec[j * dsub : (j + 1) * dsub]) for r in rows] for j in range(m)
    ]


def pq_codebooks_kmeans(
    corpus: DataFrame,
    m: int = 4,
    ksub: int = 16,
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    seed: int = 7,
) -> list[list[list]]:
    """Production PQ codebooks: an independent KMeans per subvector (the
    classic PQ trainer). Each of the m fits sees only a dim/m-wide slice —
    at 100 TB train on a sample; the returned artifact is m × ksub × dim/m
    doubles (bytes). Downstream (encode / ADC) is unchanged — only the
    constant tables differ, exactly like ``kmeans_centroids`` vs first-K
    for IVF."""
    from pyspark.ml.functions import array_to_vector

    corpus, _ = valid_vectors(corpus, vec_col)  # see kmeans_centroids
    feats = corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
    if sample_fraction is not None:
        feats = feats.sample(fraction=sample_fraction, seed=seed)
    feats = feats.localCheckpoint(eager=False)  # m fits share one sample
    # scan; the first() below materializes the lazy checkpoint in one job
    first = feats.first()
    if first is None:
        raise ValueError("pq_codebooks_kmeans: empty corpus")
    dim = len(first.v)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = []
    for j in range(m):
        sub_arr = feats.select(F.slice("v", j * dsub + 1, dsub).alias("v"))
        sub = sub_arr.select(array_to_vector(F.col("v")).alias("features"))
        # clamped fit: fewer distinct subvectors than ksub is routine on
        # tiny/day-one corpora and Spark ML's raw failure mode for it is
        # an AIOOBE (see _fit_kmeans_clamped); a narrower sub-codebook is
        # the correct model there, and encode/ADC handle variable widths.
        fitted = _fit_kmeans_clamped(
            sub, sub_arr, ksub, seed + j, "pq_codebooks_kmeans"
        )
        books.append(
            [[Decimal(f"{x:.3f}") for x in center] for center in fitted]
        )
    return books


def _pq_code_array(dec: Column, codebooks: list[list[list]]) -> Column:
    """m codes from an exact-decimal vector column: code_j = argmin over
    the j-th sub-codebook of exact squared L2 (ties → lowest code, via
    first-min ``array_position``)."""
    dsub = len(codebooks[0][0])
    code_cols = []
    for j, book in enumerate(codebooks):
        sub = F.slice(dec, j * dsub + 1, dsub)
        dists = F.array(*[_subdist(sub, word) for word in book])
        code_cols.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    return F.array(*code_cols)


def _pq_table_array(dec: Column, codebooks: list[list[list]]) -> Column:
    """The ADC lookup table for one query vector: tables[j][code] = exact
    squared L2 between the query's j-th subvector and that code word."""
    dsub = len(codebooks[0][0])
    return F.array(
        *[
            F.array(
                *[_subdist(F.slice(dec, j * dsub + 1, dsub), word) for word in book]
            )
            for j, book in enumerate(codebooks)
        ]
    )


def _adc_dist(codes: Column, tables: Column) -> Column:
    """Asymmetric distance: m table lookups + an exact fold. int64 mode
    folds the millis² table entries in primitive arithmetic and converts
    the sum to the identical decimal value once at the end."""
    looked = F.zip_with(codes, tables, lambda code, tab: F.element_at(tab, code + 1))
    if VEC_ARITH == "int64":
        acc = F.aggregate(looked, F.lit(0).cast("long"), lambda a, x: a + x)
        return _millis_sq_to_dec(acc)
    return F.aggregate(
        looked, F.lit(0).cast(_ACC), lambda a, x: (a + x).cast(_ACC)
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode each vector as m codes: code_j = argmin over the j-th
    sub-codebook of exact squared L2 (ties → lowest code, via first-min
    ``array_position``). ZERO shuffle — the entire encoder is a constant-
    folded projection fused into the corpus scan; at 100 TB this is the
    one full pass that turns 256 B/vector into 2 B/vector."""
    return corpus.select(
        F.col(id_col).alias("id"),
        _pq_code_array(_vec(F.col(vec_col)), codebooks).alias("codes"),
    )


def pq_encode_pandas(
    corpus: DataFrame,
    codebooks: list[list[list]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Production-dim PQ encoder: same output contract as
    :func:`pq_encode` (one row of ``m`` codes per vector, code_j = argmin
    squared L2 to the j-th sub-codebook, first-min tie-break), but
    Arrow-batched numpy instead of a constant-folded expression tree.

    Why it exists: ``pq_encode`` folds the codebook into the plan as
    literals — ideal at m=4/ksub=16 (512 literals, whole-stage codegen,
    exact decimals), but the expression tree is O(m·ksub·dsub); at the
    production dim-768 / m=96 / ksub=256 layout that is ~200k scalar
    expressions and Catalyst/codegen stops being the right tool (measured
    in scripts/ivfpq_dim768_bench.py: the literal plan takes longer to
    CONSTRUCT than the pandas path takes to run). This encoder broadcasts
    the codebook array with the Arrow batch machinery (m·ksub·dsub
    float64 ≈ 1.5 MB at the production layout — executor-trivial) and
    does one vectorized ``argmin`` per subspace per batch; still ZERO
    shuffle, still one pass over the corpus.

    Numeric contract: inputs are rounded to 3 dp like the decimal path
    (np.round is HALF_EVEN where Spark's ``round`` is HALF_UP — coords
    sitting exactly on a 0.0005 boundary can round differently), then
    distances run in float64 — argmin can differ from the exact-decimal
    path only on sub-1e-9 near-ties. This is the throughput variant, not
    the oracle-parity variant (tested code-equal on the l28-config in
    tests/test_llm_ops.py, including tie-breaks).

    NULL/empty vectors encode to ``[NULL]*m`` — the literal path's
    null-propagation, so the two encoders stay interchangeable under
    :func:`pq_encode_auto` on corpora with missing embeddings (r12: the
    pandas path used to crash the stage on the first null row). A
    non-null vector of the WRONG dimension still raises — mixed dims are
    schema corruption, not missing data."""
    import numpy as np
    import pandas as pd

    cb = np.asarray(
        [[[float(x) for x in code] for code in sub] for sub in codebooks],
        dtype=np.float64,
    )  # (m, ksub, dsub)
    m, ksub, dsub = cb.shape
    cb_sq = (cb * cb).sum(axis=2)  # (m, ksub)

    def run(batches):
        null_codes = [None] * m
        for pdf in batches:
            if not len(pdf):
                continue
            vals = list(pdf[vec_col])
            # element-NULL/NaN/Inf vectors get NULL codes like the literal
            # encoder (which null-propagates); without the finiteness test
            # a null element became numpy nan, every subspace distance was
            # nan, and argmin returned code 0 — a syntactically valid but
            # meaningless code that later ranked normally in ADC top-k
            # (r15 review).
            def _ok(v) -> bool:
                if v is None or len(v) == 0:
                    return False
                arr = np.asarray(v, dtype=np.float64)
                return bool(np.isfinite(arr).all())

            valid = [i for i, v in enumerate(vals) if _ok(v)]
            out: list = [null_codes] * len(vals)
            if valid:
                vecs = np.round(
                    np.stack(
                        [np.asarray(vals[i], dtype=np.float64) for i in valid]
                    ),
                    3,
                )
                n, dim = vecs.shape
                if dim != m * dsub:
                    raise ValueError(f"dim {dim} != m*dsub {m * dsub}")
                sub = vecs.reshape(n, m, dsub)
                codes = np.empty((n, m), dtype=np.int32)
                for j in range(m):
                    # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² is constant
                    # per row for the argmin, so skip it
                    d = cb_sq[j][None, :] - 2.0 * (sub[:, j, :] @ cb[j].T)
                    codes[:, j] = d.argmin(axis=1)
                for row, i in enumerate(valid):
                    out[i] = codes[row]
            yield pd.DataFrame(
                {"id": pdf[id_col].to_numpy(), "codes": out}
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        run, schema="id long, codes array<int>"
    )


#: Literal-tree encoder budget: the constant-folded plan carries
#: m·ksub·dsub literals; above this the plan takes longer to CONSTRUCT
#: than the pandas encoder takes to RUN (measured r10,
#: scripts/ivfpq_dim768_bench.py — dim-768/m=96/ksub=256 is ~200k scalar
#: expressions). The l28 oracle config (m=4·ksub=16·dsub=16 = 1024) sits
#: far below; the production layout far above. Selection is pinned by
#: test_pq_encode_auto_selects_by_layout so a refactor can't silently
#: route a production layout onto the unplannable literal path.
_PQ_LITERAL_BUDGET = 16_384


def _require_literal_budget(codebooks: list[list[list]], where: str) -> None:
    """The literal PQ expression trees (``_pq_code_array`` /
    ``_pq_table_array``) are O(m·ksub·dsub) SCALAR EXPRESSIONS — past the
    budget the plan takes longer to construct than the pandas encoder
    takes to RUN (measured >7 min of py4j at m=96/ksub=256/dim=768,
    scripts/ivfpq_dim768_bench.py). ``pq_encode_auto`` dispatches
    automatically; the IVF-PQ convenience paths below are literal-only by
    design (they exist for the oracle-parity layout), so they fail loudly
    with the production recipe instead of silently hanging (r15 review)."""
    m = len(codebooks)
    ksub = len(codebooks[0]) if m else 0
    dsub = len(codebooks[0][0]) if ksub else 0
    if m * ksub * dsub > _PQ_LITERAL_BUDGET:
        raise ValueError(
            f"{where}: codebook layout m={m} ksub={ksub} dsub={dsub} "
            f"exceeds the literal-expression budget ({_PQ_LITERAL_BUDGET}) "
            "— build the index with pq_encode_pandas + partitioned "
            "inverted lists instead (scripts/ivfpq_dim768_bench.py is the "
            "benchmarked production recipe)"
        )


def pq_encode_auto(
    corpus: DataFrame,
    codebooks: list[list[list]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Dispatch to the right PQ encoder for the codebook layout:
    :func:`pq_encode` (exact-decimal literal tree, whole-stage codegen,
    the oracle-parity path) while m·ksub·dsub fits the literal budget,
    :func:`pq_encode_pandas` (Arrow-batched numpy, the throughput path)
    beyond it. Same output contract either way; both are zero-shuffle
    single passes."""
    m = len(codebooks)
    ksub = len(codebooks[0]) if m else 0
    dsub = len(codebooks[0][0]) if ksub else 0
    if m * ksub * dsub <= _PQ_LITERAL_BUDGET:
        return pq_encode(corpus, codebooks, vec_col, id_col)
    return pq_encode_pandas(corpus, codebooks, vec_col, id_col)


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebooks: list[list[list]] | None = None,
    dim: int | None = None,
) -> DataFrame:
    """PQ top-k by asymmetric distance (ADC): encode the corpus once, then
    per query build the m × ksub table of exact subvector distances and
    score every code word by m array lookups — no raw floats touched at
    query time.

    Plan shape at 100 TB: the encoded corpus (id + m codes) is ~128×
    smaller than the raw vectors and is the only thing scanned per query
    batch; queries-with-tables broadcast (queries × m × ksub decimals —
    KBs), the scored rows collapse through the same per-query top-k window
    as every other ANN path. Compose with IVF cells to prune WHERE to look
    before PQ shrinks WHAT is read. Output (query_id, neighbor_id, rank,
    adc_dist) — distances exact-decimal, so ranking is engine-portable.
    Malformed vectors are excluded on both sides (:func:`valid_vectors`;
    declare ``dim`` when known to skip the inference job). An empty
    corpus yields an empty result (r16 empty-table sweep)."""
    try:
        corpus, dim = valid_vectors(corpus, vec_col, dim)
        cb = codebooks if codebooks is not None else pq_codebooks_first_k(
            corpus, m, ksub, vec_col, id_col, dim=dim
        )
    except EmptyVectorColumn:
        return _empty_ann_result(corpus, id_col, "adc_dist")
    queries, _ = valid_vectors(queries, vec_col, dim)
    _require_literal_budget(cb, "pq_adc_topk (query ADC tables)")
    codes = pq_encode_auto(corpus, cb, vec_col, id_col).withColumnRenamed(
        "id", "neighbor_id"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _pq_table_array(_vec(F.col(vec_col)), cb).alias("tables"),
    )
    scored = (
        codes.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _adc_dist(F.col("codes"), F.col("tables")).cast("double").alias("adc_dist"),
        )
    )
    w = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    )


def ivfpq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 3,
    m: int = 4,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
    codebooks: list[list[list]] | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Full FAISS-style IVF-PQ: IVF cells prune WHERE to look (each query
    probes its ``nprobe`` nearest Voronoi cells), PQ shrinks WHAT is read
    there (candidates are scored by ADC table lookups over m codes, raw
    floats never touched at query time).

    At 100 TB this is THE ANN layout: the index is (id, cell, m codes) —
    ~2 bytes of codes per vector, partitionable by cell exactly like
    ``write_ivf_index`` — and a query batch costs one broadcast equi-join
    on the probed cells over the compressed lists. Default centroids and
    codebooks are first-K by id (oracle-replayable); pass
    ``kmeans_centroids(...)`` / ``pq_codebooks_kmeans(...)`` for the
    production data-adaptive versions — every downstream step is
    unchanged. Malformed vectors are excluded on both sides
    (:func:`valid_vectors`; declare ``dim`` when known). An empty corpus
    yields an empty result (r16 empty-table sweep)."""
    try:
        corpus, dim = valid_vectors(corpus, vec_col, dim)
        cb = codebooks if codebooks is not None else pq_codebooks_first_k(
            corpus, m, ksub, vec_col, id_col, dim=dim
        )
        # budget check before any centroid job: a too-big codebook is a
        # pure driver-side config error and must fire first
        _require_literal_budget(cb, "ivfpq_adc_topk")
        if centroids is not None:
            cents = centroids
        else:
            cents = _first_k_centroids(corpus, n_centroids, vec_col, id_col)
    except EmptyVectorColumn:
        return _empty_ann_result(corpus, id_col, "adc_dist")
    queries, _ = valid_vectors(queries, vec_col, dim)
    n = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("id"), "_dec", "_normsq"
    ).withColumnsRenamed({"_dec": "dec", "_normsq": "normsq"})
    # inverted lists carry ONLY (neighbor_id, cell, codes) — the raw
    # decimal vectors drop out right here; that is PQ's shrink (measured
    # 8.6× on the dim-64 synthetic table, ~100× at production dims — see
    # write_ivfpq_index)
    lists = ivf_assign_cells(n, cents).select(
        F.col("id").alias("neighbor_id"),
        "cell",
        _pq_code_array(F.col("dec"), cb).alias("codes"),
    )

    q = with_norm(queries, vec_col, parallelize=False).select(
        F.col(id_col).alias("query_id"),
        F.col("_dec").alias("q_dec"),
        F.col("_normsq").alias("q_normsq"),
    )
    qscored = q.crossJoin(F.broadcast(cents)).withColumn(
        "_cos",
        cosine(_dot(F.col("q_dec"), F.col("c_dec")), F.col("q_normsq"), F.col("c_normsq")),
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("_cos"), "cent_id")
    probes = (
        qscored.withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= nprobe)
        .select(
            "query_id",
            F.col("cent_id").alias("cell"),
            _pq_table_array(F.col("q_dec"), cb).alias("tables"),
        )
    )

    scored = (
        lists.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _adc_dist(F.col("codes"), F.col("tables")).cast("double").alias("adc_dist"),
        )
    )
    w = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    )


# --- persisted IVF-PQ index (compressed build-once, probe-many) ---------------

def write_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 4,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
    codebooks: list[list[list]] | None = None,
    dim: int | None = None,
) -> None:
    """Materialize the COMPRESSED inverted lists: (id, m codes) parquet-
    partitioned by cell, plus centroids and PQ codebooks alongside — the
    self-contained IVF-PQ index. vs ``write_ivf_index`` the lists carry
    no raw vectors at all (m small codes per vector instead of the
    embedding + its decimals).

    MEASURED (scripts/ivfpq_bytes_bench.py, r10: 20k dim-64 vectors,
    m=4/ksub=16): full lists 1.63 MB → 0.19 MB = **8.6× smaller on
    disk**; the cell dirs the 8 queries actually probe (12 of 16, derived
    from the query's own nprobe ranking — ADVICE r09 fixed the old
    arbitrary-3-dirs sample) are 8.6× fewer bytes too, compression being
    uniform across cells. The ratio is bounded here
    by the 8-byte id and parquet framing amortized over only dim-64
    vectors (~81 B/row → ~9.4 B/row). The production regime is now also
    MEASURED (scripts/ivfpq_dim768_bench.py, r10: 20k per-coordinate-
    distinct dim-768 vectors, m=96/ksub=256, codes via
    :func:`pq_encode_pandas`): PQ lists land at **76 B/row** vs 1,718
    B/row for the raw decimal lists (**22.4×**) and 3,072 B/row raw
    float32 (**40.1×**) — inside the classic 30-100× PQ band. Probe cost
    scales with the same ratio: each query batch reads
    nprobe/n_centroids of an already-compressed index."""
    corpus, dim = valid_vectors(corpus, vec_col, dim)  # see write_ivf_index
    cb = codebooks if codebooks is not None else pq_codebooks_first_k(
        corpus, m, ksub, vec_col, id_col, dim=dim
    )
    _require_literal_budget(cb, "write_ivfpq_index")
    n = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("id"), "_dec", "_normsq"
    ).withColumnsRenamed({"_dec": "dec", "_normsq": "normsq"})
    if centroids is not None:
        cents = centroids
    else:
        cents = _first_k_centroids(corpus, n_centroids, vec_col, id_col)
    lists = ivf_assign_cells(n, cents).select(
        "id", "cell", _pq_code_array(F.col("dec"), cb).alias("codes")
    )
    lists.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/lists")
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    spark = corpus.sparkSession
    cb_rows = [
        (j, c, [str(x) for x in word])
        for j, book in enumerate(cb)
        for c, word in enumerate(book)
    ]
    spark.createDataFrame(
        cb_rows, "sub int, code int, word array<string>"
    ).write.mode("overwrite").parquet(f"{path}/codebooks")


def read_pq_codebooks(spark, path: str) -> list[list[list]]:
    """Rehydrate persisted codebooks (m × ksub rows — bytes) into the
    in-memory shape every PQ entry point consumes. Words were written as
    exact decimal strings, so the round-trip is lossless."""
    rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = max(r.sub for r in rows) + 1
    ksub = max(r.code for r in rows) + 1
    books: list[list[list]] = [[None] * ksub for _ in range(m)]
    for r in rows:
        books[r.sub][r.code] = [Decimal(x) for x in r.word]
    if any(w is None for book in books for w in book):
        raise ValueError(f"codebooks at {path} are incomplete")
    return books


def ivfpq_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k over a persisted IVF-PQ index: probe cells become a literal
    partition filter (same pruning as ``ivf_index_topk``) and the probed
    lists are scored by ADC lookups — disk reads are nprobe/n_centroids
    of an already-PQ-compressed index (measured 8.6× fewer probed-dir
    bytes on the dim-64 synthetic table over the actually-probed cells —
    see write_ivfpq_index)."""
    cents = spark.read.parquet(f"{path}/centroids")
    head = cents.select("c_dec").first()
    if head is None:  # corrupt/partial index: subscripting None was a TypeError
        raise ValueError(
            f"IVF-PQ index at {path!r} has an empty centroids table — "
            "rebuild it with write_ivfpq_index"
        )
    dim = len(head["c_dec"])
    cents = cents.withColumn(
        "c_dec",
        _align_vec(F.col("c_dec"), cents.schema["c_dec"].dataType.elementType),
    )
    queries, _ = valid_vectors(queries, vec_col, dim)
    cb = read_pq_codebooks(spark, path)
    _require_literal_budget(cb, "ivfpq_index_topk (query ADC tables)")
    q = with_norm(queries, vec_col, parallelize=False).select(
        F.col(id_col).alias("query_id"),
        F.col("_dec").alias("q_dec"),
        F.col("_normsq").alias("q_normsq"),
    )
    qscored = q.crossJoin(F.broadcast(cents)).withColumn(
        "_cos",
        cosine(_dot(F.col("q_dec"), F.col("c_dec")), F.col("q_normsq"), F.col("c_normsq")),
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("_cos"), "cent_id")
    probes = (
        qscored.withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= nprobe)
        .select(
            "query_id",
            F.col("cent_id").alias("cell"),
            _pq_table_array(F.col("q_dec"), cb).alias("tables"),
        )
        # lazy: the cells collect() below materializes it — one job, not two
        .localCheckpoint(eager=False)
    )
    # bounded collect: queries × nprobe ints — the partition-pruning filter
    cells = [r.cell for r in probes.select("cell").distinct().collect()]
    lists = spark.read.parquet(f"{path}/lists").filter(F.col("cell").isin(cells))
    scored = (
        lists.join(F.broadcast(probes), "cell")
        .filter(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            _adc_dist(F.col("codes"), F.col("tables")).cast("double").alias("adc_dist"),
        )
    )
    w = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    )
