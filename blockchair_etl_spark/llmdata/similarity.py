"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exactness baseline; random-hyperplane
LSH bucketing is the scale path (candidates drop from O(n) to O(n/2^p)
per query at a measured recall cost — tested in tests/test_llmdata.py).

Numeric policy: dot products accumulate in DECIMAL(38,18) via an
array fold — exact enough that results are identical regardless of
summation order, engine, or partitioning (float sums are not), then
rounded to 9 decimals. No UDFs: `zip_with`/`aggregate` keep the whole
computation inside codegen.

100 TB notes: brute-force top-k against a query vector is a scan +
TakeOrdered — embarrassingly parallel, no shuffle. The LSH variant
pre-buckets the corpus (one write-time shuffle) so a query only scans
its bucket partitions; IVF with learned centroids would slot into the
same bucket-join shape.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from .stats import CorpusStats, lit_double_array

# (30,18) not (38,18): decimal addition at precision 38 overflows and
# Spark shrinks the result scale to 17, rounding every fold step. With
# precision 30 the add result is (31,18) — lossless — so the fold equals
# an exact sum regardless of order, matching DuckDB's exact decimal SUM.
DEC = "decimal(30,18)"


def dot_expr(a: Column, b: Column) -> Column:
    """Exact-decimal dot product of two float-array columns."""
    prods = F.zip_with(a, b, lambda x, y: (x.cast("double") * y.cast("double")).cast(DEC))
    acc = F.aggregate(
        prods,
        F.lit(0).cast(DEC),
        lambda s, x: (s + x).cast(DEC),
    )
    # Explicit ROUND before the downscale: both engines round half away
    # from zero, whereas a direct decimal→decimal downcast TRUNCATES in
    # DuckDB but rounds in Spark. The (38,9) cast after rounding only
    # drops guaranteed zeros, and keeps the int→double conversion exact.
    return F.round(acc, 9).cast("decimal(38,9)").cast("double")


def cosine_expr(a: Column, b: Column) -> Column:
    d = dot_expr(a, b)
    na = dot_expr(a, a)
    nb = dot_expr(b, b)
    return d / (F.sqrt(na) * F.sqrt(nb))


def cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k against a literal query vector.
    Deterministic tiebreak on id."""
    q = lit_double_array(query_vec)
    scored = emb.select(
        F.col(id_col), cosine_expr(F.col(vec_col), q).alias("cosine")
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def _planes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    # NOTE: standard_normal fills row-major from one stream, so the
    # first k rows of an n-plane draw equal the k-plane draw for the
    # same seed — adaptive plane counts stay prefix-consistent, which
    # the masked adaptive SQL oracle relies on.
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def adaptive_n_planes(
    n_rows: int,
    target_bucket_rows: int = 128,
    min_planes: int = 2,
    max_planes: int = 16,
) -> int:
    """Plane count for hyperplane-LSH blocking, derived from corpus
    size: the smallest p with target_bucket_rows · 2^p >= n_rows
    (clamped to [min_planes, max_planes]).

    This is the scale lever that keeps blocked pair-joins ~linear: a
    FIXED plane count means per-bucket occupancy grows with the corpus
    and within-bucket candidate pairs grow quadratically; doubling the
    bucket count per data doubling holds expected bucket size — and so
    per-bucket pair work — constant. Pure integer arithmetic so any
    engine (or the SQL oracle) derives the identical count."""
    p = min_planes
    while p < max_planes and (target_bucket_rows << p) < n_rows:
        p += 1
    return p


def lsh_bucket_col(vec_col: Column, dim: int, n_planes: int = 8, seed: int = 7) -> Column:
    """Random-hyperplane LSH bucket id: sign bit per plane → integer.
    Planes are derived deterministically from the seed, so the bucket
    function is stable across runs/sessions (incremental indexing).

    The per-plane dot product accumulates in exact DECIMAL (like
    dot_expr): the sign decision is then independent of summation order
    and engine, so the bucket id computed here equals the one a DuckDB
    oracle computes from the same plane literals."""
    planes = _planes(dim, n_planes, seed)
    bucket = F.lit(0)
    for p in range(n_planes):
        plane = lit_double_array(planes[p])
        prods = F.zip_with(
            vec_col, plane, lambda x, y: (x.cast("double") * y.cast("double")).cast(DEC)
        )
        d = F.aggregate(prods, F.lit(0).cast(DEC), lambda s, x: (s + x).cast(DEC))
        bucket = bucket + F.when(d >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def bucket_centroids(
    emb: DataFrame,
    n_planes: int = 4,
    seed: int = 7,
    vec_col: str = "embedding",
    stats: "CorpusStats | None" = None,
) -> DataFrame:
    """Per-LSH-bucket centroid in long format (bucket, dim, centroid_val,
    n_vectors) — codebook construction for bucketed ANN / quantization.

    posexplode turns the vector column into (dim, value) rows so the
    centroid is ONE hash-agg shuffle keyed on (bucket, dim) with map-side
    partials — no collect, no UDF; at 100 TB the shuffle carries
    n_buckets x dim partial sums per map task, independent of row count.

    Determinism: values are fixed-point-quantized at 2^-20 before
    summing — multiplying a float by a power of two is always exact (the
    mantissa is unchanged), so floor(x * 2^20) is the same integer in
    every engine, and the mean is an exact BIGINT sum divided once.
    (A base-10 DECIMAL cast is NOT portable here: Spark rounds the
    shortest string repr, DuckDB the binary product — last-digit
    disagreements ~1e-14 break hash equality.)"""
    if stats is not None and stats.dim is not None:
        dim = stats.dim
    else:
        dim = len(emb.select(vec_col).head()[0])
    q = 1 << 20
    blk = lsh_bucket_col(F.col(vec_col), dim, n_planes=n_planes, seed=seed)
    # The bucket id is an n_planes × dim decimal fold — expensive enough
    # that it must be evaluated ONCE PER VECTOR, never per exploded
    # (dim, value) row. Without a barrier Catalyst inlines it past the
    # generator and re-evaluates it per exploded row (measured 10× at
    # sf0.1). The repartition materializes the bucket AND hash-places
    # rows by it, which already satisfies the (bucket, dim) grouping
    # distribution below — so the explicit shuffle replaces the agg's
    # exchange instead of adding one.
    par = emb.sparkSession.sparkContext.defaultParallelism
    pre = emb.select(blk.alias("bucket"), F.col(vec_col).alias("__v")).repartition(
        par, "bucket"
    )
    exploded = pre.select(
        "bucket", F.posexplode("__v").alias("dim", "x")
    )
    return (
        exploded.groupBy(F.col("bucket"), F.col("dim").cast("bigint").alias("dim"))
        .agg(
            (
                F.sum(F.floor(F.col("x").cast("double") * q).cast("bigint")).cast("double")
                / (F.count(F.lit(1)) * F.lit(float(q)))
            ).alias("centroid_val"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


def lsh_ann_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int | None = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket_rows: int = 128,
    stats: "CorpusStats | None" = None,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket.
    With p planes the candidate set is ~n/2^p; recall is tested against
    the brute-force baseline. Pass ``n_planes=None`` to derive p from
    the corpus size (adaptive_n_planes) so the per-query candidate set
    stays ~target_bucket_rows as the corpus grows instead of n/2^p
    with fixed fan-out; ``stats`` (stats.corpus_stats) supplies the
    count from one shared pass in composed pipelines."""
    if n_planes is None:
        n = stats.n_rows if stats is not None else emb.count()
        n_planes = adaptive_n_planes(n, target_bucket_rows)
    dim = len(query_vec)
    qbucket = 0
    planes = _planes(dim, n_planes, seed)
    for p in range(n_planes):
        if float(np.dot(planes[p], np.asarray(query_vec, dtype=float))) >= 0:
            qbucket |= 1 << p
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    cand = emb.filter(
        lsh_bucket_col(F.col(vec_col), dim, n_planes, seed) == F.lit(qbucket)
    )
    scored = cand.select(F.col(id_col), cosine_expr(F.col(vec_col), q).alias("cosine"))
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def _fast_dot(x: Column, y: Column) -> Column:
    """Primitive-double dot product — the codegen'd FAST-phase score
    (cheap, ~1e-13 of exact for unit-ish vectors); the exact-decimal
    dot_expr is the rescore phase's."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
        F.lit(0.0),
        lambda s, v: s + v,
    )


def _two_phase_rank(fast: DataFrame, k: int) -> DataFrame:
    """Shared ranking tail of the bucketed kNN joins (knn_join_lsh /
    crossmodal_knn_join): ``fast`` is (id_a, id_b, va, vb, __fc) with
    __fc the primitive-double cosine of every in-bucket candidate.
    Every pair within 1e-9 of its vector's kth-best double score is
    exact-decimal re-scored and re-ranked (cosine desc, id_b asc) —
    double is within ~1e-13 of exact for unit-ish vectors, so no true
    top-k member can fall outside the margin and the OUTPUT is
    bit-identical to ranking everything exactly. One body so the
    self-join and cross-modal forms cannot drift."""
    from pyspark.sql import Window

    w_fast = Window.partitionBy("id_a").orderBy(F.desc("__fc"), F.asc("id_b"))
    w_part = Window.partitionBy("id_a")
    cand = (
        fast.withColumn("__rn", F.row_number().over(w_fast))
        .withColumn(
            # the kth-best double score = MIN over the top-k rows
            "__kth",
            F.min(F.when(F.col("__rn") <= k, F.col("__fc"))).over(
                w_part.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .filter(F.col("__fc") >= F.col("__kth") - F.lit(1e-9))
    )
    w_exact = Window.partitionBy("id_a").orderBy(F.desc("cosine"), F.asc("id_b"))
    return (
        cand.withColumn("cosine", cosine_expr(F.col("va"), F.col("vb")))
        .withColumn("rank", F.row_number().over(w_exact).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("id_a", "rank", "id_b", "cosine")
    )


def _collapse_identical_candidates(
    pre: DataFrame, k: int, max_bucket: int
) -> DataFrame:
    """Candidate-side (index-side) identical-vector collapse for the
    bucketed kNN joins: rows of OVERSIZED ``blk`` buckets group per
    EXACT vector value (the array itself — no hash, no collision risk)
    into one scoring row carrying ``__members`` = the group's k+1
    smallest ids; under-cap rows pass through with a singleton
    ``__members``. EXACTNESS: ranking is (cosine desc, id asc) and an
    identical group's members share one cosine, so any top-k can take
    at most k of a group's members, in id order — and a self-join probe
    may additionally exclude itself, hence k+1. Exploding ``__members``
    after ONE fast-cosine eval per group therefore reproduces the
    uncapped candidate ranking bit-exactly while a megacluster of h
    identical vectors costs each probe 1 cosine + k+1 rows instead of
    h cosines. Member selection is the salted two-level min-k cut
    (the kmv_mins_grouped idiom, r16 advice): a direct collect_list of
    ALL member ids would concentrate an O(h) aggregation buffer and an
    O(h log h) single-task sort on exactly the megacluster the cap
    targets — instead level 1 keeps each salt share's k+1 smallest ids
    (n_salts parallel windows, each bounded by its share) and level 2
    cuts the k+1 smallest of the surviving ≤ n_salts·(k+1) rows;
    min-k union is lossless, so the selected set is IDENTICAL to the
    direct cut and array_sort keeps it deterministic."""
    from pyspark.sql import Window

    cols = ["id", "v", "blk", "norm", "__members"]
    big_keys = (
        pre.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("__bucket_n"))
        .filter(F.col("__bucket_n") > int(max_bucket))
        .select("blk", F.lit(True).alias("__big"))
    )
    marked = pre.join(F.broadcast(big_keys), ["blk"], "left")
    small = marked.filter(F.col("__big").isNull()).select(
        "id", "v", "blk", "norm", F.array(F.col("id")).alias("__members")
    )
    n_salts = 16
    w1 = Window.partitionBy(
        "blk", "v", F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(n_salts))
    ).orderBy(F.asc("id"))
    pruned = (
        marked.filter(F.col("__big").isNotNull())
        .withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k + 1)
        .drop("__rn")
    )
    reps = (
        pruned.groupBy("blk", "v")
        .agg(
            F.min("norm").alias("norm"),  # norm is a function of v
            F.slice(F.array_sort(F.collect_list("id")), 1, k + 1).alias(
                "__members"
            ),
        )
        .select(
            F.col("__members")[0].alias("id"), "v", "blk", "norm", "__members"
        )
    )
    return small.unionByName(reps.select(*cols))


def knn_join_lsh(
    emb: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_planes: int | None = None,
    seed: int = 7,
    target_bucket_rows: int = 128,
    stats: "CorpusStats | None" = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate kNN JOIN: every vector's top-k cosine neighbors from
    within its hyperplane-LSH bucket — the all-rows twin of
    lsh_ann_topk (single query) and the primitive behind hard-negative
    mining and cluster seeding.

    Plane count adapts to corpus size (adaptive_n_planes) so per-bucket
    candidate work stays bounded; ranking uses the exact-decimal cosine
    (order- and engine-independent) with the neighbor id as tiebreak,
    so the selected top-k SET is deterministic. A vector alone in its
    bucket has no candidates and is absent from the output.

    Scale shape: one repartition-by-bucket exchange feeding both join
    sides (exchange reuse), within-bucket pairs only — O(Σ bucket²),
    never all-pairs. Ranking is two-phase: every in-bucket pair gets a
    primitive-double cosine (codegen'd, ~10× cheaper than the boxed
    decimal fold) and only pairs within 1e-9 of the per-vector kth
    double score are exact-decimal re-scored and re-ranked — double is
    within ~1e-13 of exact for unit-ish vectors, so no true top-k
    member can fall outside the margin and the OUTPUT is bit-identical
    to ranking everything exactly. Output: (id_a, rank, id_b, cosine).

    ``max_bucket`` is the kNN form of the identical-vector cap (r15
    verdict #6): hyperplanes cannot split exact-duplicate vectors, so
    a megacluster inflates a single bucket past target occupancy and
    every probe pays one cosine per member. Over the cap the candidate
    side collapses per EXACT vector value into one scoring row whose
    k+1 smallest member ids are expanded AFTER the single fast-cosine
    eval — output bit-identical to the uncapped form on every input
    (see _collapse_identical_candidates), per-probe megacluster cost
    1 cosine + k+1 rows instead of h cosines."""
    if dim is None and stats is not None:
        dim = stats.dim
    if dim is None:
        dim = len(emb.select(vec_col).head()[0])
    if n_planes is None:
        n = stats.n_rows if stats is not None else emb.count()
        n_planes = adaptive_n_planes(n, target_bucket_rows)
    blk = lsh_bucket_col(F.col(vec_col), dim, n_planes=n_planes, seed=seed)

    par = emb.sparkSession.sparkContext.defaultParallelism
    vec = F.col(vec_col)
    pre = emb.select(
        F.col(id_col).alias("id"),
        vec.alias("v"),
        blk.alias("blk"),
        F.sqrt(_fast_dot(vec, vec)).alias("norm"),  # once per ROW, not per pair
    ).repartition(par, "blk")
    a = pre.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        "blk", F.col("norm").alias("norm_a"),
    )
    if max_bucket is not None:
        bg = _collapse_identical_candidates(pre, k, max_bucket).select(
            F.col("id").alias("id_b"), F.col("v").alias("vb"),
            "blk", F.col("norm").alias("norm_b"), "__members",
        )
        fast = (
            a.join(bg, "blk")
            .select(
                "id_a", "va", "vb", "__members",
                (
                    _fast_dot(F.col("va"), F.col("vb"))
                    / (F.col("norm_a") * F.col("norm_b"))
                ).alias("__fc"),
            )
            # ONE fast cosine per identical group, then the bounded
            # member expansion; the self-pair drops here (k+1 members
            # keep the candidate count whole when the probe is one)
            .select(
                "id_a",
                F.explode("__members").alias("id_b"),
                "va", "vb", "__fc",
            )
            .filter(F.col("id_a") != F.col("id_b"))
        )
        return _two_phase_rank(fast, k)
    b = pre.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        "blk", F.col("norm").alias("norm_b"),
    )
    fast = (
        a.join(b, "blk")
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            "id_a", "id_b", "va", "vb",
            (_fast_dot(F.col("va"), F.col("vb")) / (F.col("norm_a") * F.col("norm_b"))).alias("__fc"),
        )
    )
    return _two_phase_rank(fast, k)


def crossmodal_knn_join(
    queries: DataFrame,
    index: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_planes: int | None = None,
    seed: int = 7,
    target_bucket_rows: int = 128,
    max_bucket: int | None = None,
) -> DataFrame:
    """Cross-modal retrieval kNN join: each QUERY-side vector's top-k
    cosine neighbors among INDEX-side vectors sharing its hyperplane-
    LSH bucket — the text→image / image→text retrieval primitive over
    a CLIP-style shared embedding space (caption vectors probe a
    pixel-feature index, or vice versa). The asymmetric sibling of
    knn_join_lsh: both modalities hash with the SAME seeded planes
    (one shared space ⇒ one bucket geometry), the probe never matches
    probe-side vectors, and ranking reuses the two-phase
    double-then-exact-decimal scheme, so the selected top-k SET is
    deterministic and engine-independent.

    Per-modality stats: the plane count adapts to the INDEX size (the
    side whose per-bucket occupancy drives candidate work); the probe
    side can be any size without changing bucket geometry — a 1B-doc
    caption probe against a 10M-image index keeps index buckets at
    target occupancy, and each probe row touches one bucket's worth of
    candidates. Scale shape: both sides exchange once on blk; within-
    bucket probe×index pairs only, never all-pairs. A query vector
    whose bucket holds no index vectors is absent from the output
    (same contract as knn_join_lsh's singleton rule).

    Passing BOTH ``dim`` and ``n_planes`` (the production call for a
    known embedding space + sized index) skips the two plan-build-time
    driver actions entirely — no head(), no count() (r15 advice).

    ``max_bucket``: identical INDEX vectors (one image ingested 1M
    times) defeat the adaptive plane count — planes cannot split them,
    so every probe of that bucket pays one cosine per copy. Over the
    cap the index side collapses per exact vector value, scores once
    per group, and expands the k+1 smallest member ids afterwards —
    output bit-identical to the uncapped form
    (_collapse_identical_candidates)."""
    if dim is None:
        first = index.select(vec_col).head()
        if first is None:
            raise ValueError(
                "crossmodal_knn_join: index is empty — cannot infer "
                "dim/n_planes from it; pass dim= and n_planes= "
                "explicitly (an empty index yields no neighbors)"
            )
        dim = len(first[0])
    if n_planes is None:
        n_planes = adaptive_n_planes(index.count(), target_bucket_rows)
    blk = lsh_bucket_col(F.col(vec_col), dim, n_planes=n_planes, seed=seed)

    def _pre(emb: DataFrame, suffix: str) -> DataFrame:
        vec = F.col(vec_col)
        par = emb.sparkSession.sparkContext.defaultParallelism
        return emb.select(
            F.col(id_col).alias(f"id_{suffix}"),
            vec.alias(f"v{suffix}"),
            blk.alias("blk"),
            F.sqrt(_fast_dot(vec, vec)).alias(f"norm_{suffix}"),
        ).repartition(par, "blk")

    a = _pre(queries, "a")
    if max_bucket is not None:
        pre_b = index.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            blk.alias("blk"),
            F.sqrt(_fast_dot(F.col(vec_col), F.col(vec_col))).alias("norm"),
        ).repartition(index.sparkSession.sparkContext.defaultParallelism, "blk")
        bg = _collapse_identical_candidates(pre_b, k, max_bucket).select(
            F.col("id").alias("id_b"), F.col("v").alias("vb"),
            "blk", F.col("norm").alias("norm_b"), "__members",
        )
        fast = (
            a.join(bg, "blk")
            .select(
                "id_a", "va", "vb", "__members",
                (
                    _fast_dot(F.col("va"), F.col("vb"))
                    / (F.col("norm_a") * F.col("norm_b"))
                ).alias("__fc"),
            )
            # NO id_a != id_b filter here — the uncapped crossmodal
            # form has none (two modalities, one id space per side), so
            # adding one would break bit-identity for overlapping ids
            .select(
                "id_a",
                F.explode("__members").alias("id_b"),
                "va", "vb", "__fc",
            )
        )
        return _two_phase_rank(fast, k)
    b = _pre(index, "b")
    fast = a.join(b, "blk").select(
        "id_a", "id_b", "va", "vb",
        (_fast_dot(F.col("va"), F.col("vb")) / (F.col("norm_a") * F.col("norm_b"))).alias("__fc"),
    )
    return _two_phase_rank(fast, k)


def quantize_embeddings_int8(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension affine int8 quantization of an embedding column —
    the vector-store prep step (4× smaller than float32, 8× than
    float64) with a per-vector reconstruction-error audit.

    code_j(x) = clamp(floor((x - lo_j) * 255 / (hi_j - lo_j) + 0.5),
    0, 255) with (lo_j, hi_j) the corpus min/max of dimension j.
    Per vector the output reports sum(code) (an integrity checksum of
    the code array), and the max reconstruction error |x̂ - x| in
    2^-20 fixed point — multiplying a double by a power of two is
    mantissa-exact, so the error metric is an exact BIGINT, and every
    arithmetic step (subtract, multiply, divide, floor) is a single
    IEEE operation that any engine reproduces bit-identically.

    Scale shape: one posexplode (linear), one 64-group hash-agg for the
    per-dimension ranges (map-side partials; state = dim rows regardless
    of corpus size), one broadcast join back, one per-vector hash-agg.
    No UDF, no driver state.
    """
    exploded = emb.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("dim", "x")
    ).select(id_col, "dim", F.col("x").cast("double").alias("x"))
    ranges = exploded.groupBy("dim").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    q = exploded.join(F.broadcast(ranges), "dim")
    code = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(255),
                F.floor(
                    (F.col("x") - F.col("lo")) * 255.0 / (F.col("hi") - F.col("lo"))
                    + 0.5
                ),
            ),
        )
    )
    scored = q.select(
        id_col,
        code.cast("bigint").alias("code"),
        F.col("x"),
        F.col("lo"),
        F.col("hi"),
    ).select(
        id_col,
        "code",
        # reconstruction x̂ = lo + code * (hi-lo)/255; |err| * 2^20 floored
        F.floor(
            F.abs(
                F.col("lo")
                + F.col("code") * (F.col("hi") - F.col("lo")) / 255.0
                - F.col("x")
            )
            * F.lit(float(1 << 20))
        )
        .cast("bigint")
        .alias("err_q20"),
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.sum("code").alias("sum_code"),
        F.max("err_q20").alias("max_err_q20"),
    )


def brute_force_pairs_cosine(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine ≥ threshold (exact; O(n²) — verification tool,
    not the scale path; see dedup.embedding_dup_pairs for blocked)."""
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_expr(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )

