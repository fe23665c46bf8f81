"""Product quantization (PQ) over embedding columns.

The vector-store compression path complementing ivf.py: split each
dim-vector into `m` subvectors, quantize every subvector against its
own `ksub`-codeword codebook, and answer queries with asymmetric
distance computation (ADC) — the query stays full-precision, each
database vector is scored as the sum of per-subspace squared distances
between the query subvector and the vector's assigned codeword
(Jégou et al., "Product Quantization for Nearest Neighbor Search").

Spark shape:

- encoding is a scan-side Column argmin per subspace against literal
  codebooks (broadcast by value, codegen'd, no UDF) — m small argmins
  instead of ivf's one big one;
- ADC is a per-subspace distance TABLE of m × ksub fixed-point BIGINT
  entries (constant-folded expressions in pq_adc_topk; numpy-
  precomputed literals in ivfpq_adc_topk — same values either way),
  probed with element_at by each row's code — O(m) long adds per row,
  never a dim-length fold;
- codes are m smallints (m·log2(ksub) bits/vector vs dim·32) — the
  memory story that makes 100 TB-scale rerank tiers fit in RAM.

Distances are fixed-point BIGINT (see FIXED_SCALE): bit-identical
across engines and partitionings like the decimal path elsewhere, but
plain long arithmetic that stays inside whole-stage codegen — the
DuckDB oracle replays the identical quantization from the same
codebook values.

Reference parity: this extends the reference's similarity surface the
same way ivf.py does; there is no reference counterpart (the reference
has no vector ops) — cited baseline is the public PQ literature.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from .ivf import seed_centroids, train_ivf_centroids
from .stats import lit_double_array, lit_double_array2d

# Fixed-point scale for PQ distances: every per-dimension squared diff
# is floor(diff^2 * 2^24) as a BIGINT. Long arithmetic keeps the m*ksub
# distance expressions inside whole-stage codegen (an exact-DECIMAL fold
# here was measured 5x+ slower — 64 boxed BigDecimal folds per row blow
# the generated-method budget and fall back to interpreted eval), while
# floor(double * 2^24) is still bit-deterministic on any IEEE engine, so
# encode/ADC stay engine-portable BY DEFINITION of the operator: the
# oracle applies the identical quantization. Distances within 2^-24 of
# each other may order differently than true doubles — that is part of
# the operator contract, same convention as the 2^-20 fixed-point
# centroid means and the 1e12-scale integer PageRank.
FIXED_SCALE = 1 << 24


def _q_dist(vec_col: Column, centroid: Column) -> Column:
    """Fixed-point squared L2 distance as BIGINT (see FIXED_SCALE)
    between an array column and a codeword (array Column or literal)."""
    terms = F.zip_with(
        vec_col,
        centroid,
        lambda x, y: F.floor(
            (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
            * F.lit(float(FIXED_SCALE))
        ).cast("bigint"),
    )
    return F.aggregate(terms, F.lit(0).cast("bigint"), lambda s, v: s + v)


def _book_lit(book: np.ndarray) -> Column:
    """(ksub, dsub) codebook as ONE array<array<double>> literal.

    Shaping the codebook as data rather than ksub separate distance
    expressions matters on the driver: per-codeword expression copies
    put ksub aggregate-lambda subtrees PER SUBSPACE into the plan
    (m*ksub total), and Catalyst analysis alone took ~5 s per build at
    m=4, ksub=16. One transform() over a literal array keeps a single
    lambda subtree per subspace — same generated work per row, ~20x
    smaller tree."""
    return lit_double_array2d(book)


def _dists_over_book(sub: Column, book_lit: Column) -> Column:
    """array<bigint> of fixed-point distances from `sub` to every
    codeword — one higher-order transform, not ksub expression copies."""
    return F.transform(book_lit, lambda cw: _q_dist(sub, cw))


def _check_geometry(dim: int, m: int) -> int:
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    return dim // m


def seed_pq_codebooks(
    emb: DataFrame,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stats=None,
) -> np.ndarray:
    """Deterministic (m, ksub, dim/m) codebooks: the ksub ivf seed
    vectors (every ⌊n/ksub⌋-th row by id), sliced per subspace. Like
    ivf.seed_centroids this is both the Lloyd init and a valid
    data-derived codebook that a SQL oracle can re-derive. ``stats``
    (stats.corpus_stats) passes through to seed_centroids so composed
    pipelines skip the count() job — callers commonly hand this a
    residual_frame, and an unshared count there is a whole extra
    scan+codegen pass over the residual plan (guide §1.2: don't compute
    things you throw away)."""
    dsub = _check_geometry(dim, m)
    seeds = seed_centroids(
        emb, n_centroids=ksub, id_col=id_col, vec_col=vec_col, stats=stats
    )
    return np.stack([seeds[:, j * dsub : (j + 1) * dsub] for j in range(m)])


def seed_pq_codebooks_residual(
    emb: DataFrame,
    centroids: np.ndarray,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stats=None,
) -> np.ndarray:
    """Seed codebooks over the RESIDUAL distribution without a
    Spark-side residual pass — bit-identical to
    ``seed_pq_codebooks(residual_frame(emb, centroids), ...)``.

    The residual-frame form pays the coarse-assignment argmin's
    analysis+codegen for a job that only ever returns ksub rows
    (measured ~1 s/action at any scale — pure fixed cost, guide §1.2).
    Seed selection depends on ids only, and seed ids are identical on
    the raw frame (residual_frame is row-preserving), so collect the
    ksub RAW seed vectors with the cheap plan and replay assignment +
    subtraction driver-side: ``exact_probe_order`` IS the documented
    driver replica of ``_sq_dist_col``'s exact-decimal argmin (same
    distances, same first-minimum/lowest-id tiebreak), and numpy's
    elementwise float64 subtract is the same IEEE op as the zip_with
    ``x.cast(double) - y.cast(double)``. Equality is pinned by
    test_ivf.py's residual-seed parity test."""
    from .ivf import exact_probe_order

    dsub = _check_geometry(dim, m)
    seeds = seed_centroids(
        emb, n_centroids=ksub, id_col=id_col, vec_col=vec_col, stats=stats
    )
    cents = np.asarray(centroids, dtype=float)
    res = np.stack(
        [s - cents[exact_probe_order(cents, s)[0]] for s in seeds]
    )
    return np.stack([res[:, j * dsub : (j + 1) * dsub] for j in range(m)])


def train_pq_codebooks(
    emb: DataFrame,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    iterations: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Per-subspace Lloyd k-means, reusing ivf.train_ivf_centroids on
    the sliced subvector relation — m independent small trainings, each
    with the ivf driver-traffic bound (O(ksub) rows per round).

    The m trainings run a seed count and collect plus two jobs per
    round each, so an unmaterialized input is re-derived by every one
    of them — for a residual_frame input that is the coarse
    exact-decimal argmin, recomputed ~30 times at m=4 (measured 121 s
    vs 14 s over 500 × 64-dim vectors). The two columns the trainings
    read are persisted once and freed when the codebooks are built."""
    dsub = _check_geometry(dim, m)
    src = emb.select(id_col, vec_col).persist(StorageLevel.MEMORY_AND_DISK)
    books = []
    try:
        for j in range(m):
            sub = src.select(
                F.col(id_col),
                F.slice(F.col(vec_col), j * dsub + 1, dsub).alias(vec_col),
            )
            books.append(
                train_ivf_centroids(
                    sub, n_centroids=ksub, iterations=iterations,
                    id_col=id_col, vec_col=vec_col,
                )
            )
    finally:
        src.unpersist()
    return np.stack(books)


def _sub_code(vec: Column, book: np.ndarray, j: int, dsub: int) -> Column:
    """argmin codeword id for subspace j — fixed-point BIGINT distances,
    first-minimum tiebreak (the long-math analog of ivf.assign_cluster)."""
    sub = F.slice(vec, j * dsub + 1, dsub)
    dists = _dists_over_book(sub, _book_lit(book))
    return (F.array_position(dists, F.array_min(dists)).cast("int") - 1)


def pq_encode(
    emb: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes) with codes = array<int> of length m."""
    m, _, dsub = codebooks.shape
    vec = F.col(vec_col)
    codes = F.array(*[_sub_code(vec, codebooks[j], j, dsub) for j in range(m)])
    # corpora often arrive as few large files; the encode math is the
    # cost, so spread it across the cluster before the map
    par = emb.sparkSession.sparkContext.defaultParallelism
    return emb.repartition(par).select(F.col(id_col), codes.alias("codes"))


def pq_adc_topk(
    emb: DataFrame,
    codebooks: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by asymmetric PQ distance (ascending; id tiebreak).

    Builds the m × ksub ADC lookup table as constant fixed-point
    BIGINT expressions from the literal query and codebooks (Catalyst
    constant-folds them once per plan); each row pays one encode (if
    not pre-encoded) + m element_at probes + m long adds. Returns
    (id, adc) with adc the exact BIGINT total divided by 2^24 — both
    steps bit-deterministic (sum < 2^53, power-of-two divide)."""
    m, ksub, dsub = codebooks.shape
    q = [float(v) for v in query_vec]
    if len(q) != m * dsub:
        raise ValueError(f"query dim {len(q)} != {m * dsub}")
    vec = F.col(vec_col)

    total = F.lit(0).cast("bigint")
    for j in range(m):
        qsub = lit_double_array(q[j * dsub : (j + 1) * dsub])
        table = _dists_over_book(qsub, _book_lit(codebooks[j]))
        code = _sub_code(vec, codebooks[j], j, dsub)
        total = total + F.element_at(table, code + 1)
    adc = (total.cast("double") / F.lit(float(FIXED_SCALE))).alias("adc")

    # encode+probe is per-row compute; don't let a single input split
    # serialize it (same rationale as pq_encode)
    par = emb.sparkSession.sparkContext.defaultParallelism
    scored = emb.repartition(par).select(F.col(id_col), adc)
    return scored.orderBy(F.asc("adc"), F.asc(id_col)).limit(k)


def residual_frame(
    emb: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, ivf_cluster, residual) — each vector minus its assigned
    coarse centroid. The residual distribution is much tighter than the
    raw vectors, which is why PQ-on-residuals (IVF-PQ) quantizes better
    than PQ alone at the same code budget."""
    from .ivf import assign_cluster

    # one parsed expression for the whole centroid matrix — the r17
    # literal-array rule; per-row F.array(lit_double_array(...)) paid a
    # py4j round trip per centroid row (r17 advice)
    cents = lit_double_array2d(centroids)
    # TWO projections on purpose: the assignment argmin is expensive and
    # referenced again by the residual; as a materialized intermediate
    # column it computes once per row (CollapseProject keeps non-cheap
    # aliases with multiple uses), where a single inlined expression
    # re-evaluates the full argmin inside every reference.
    assigned = emb.select(
        F.col(id_col),
        F.col(vec_col),
        assign_cluster(F.col(vec_col), centroids).alias("ivf_cluster"),
    )
    res = F.zip_with(
        F.col(vec_col),
        F.element_at(cents, F.col("ivf_cluster") + 1),
        lambda x, y: x.cast("double") - y.cast("double"),
    )
    return assigned.select(
        F.col(id_col), F.col("ivf_cluster"), res.alias("residual")
    )


def ivfpq_encode(
    emb: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ index rows: (id, ivf_cluster, codes) — coarse cluster plus
    PQ codes of the residual. Storage per vector: log2(k_coarse) bits +
    m codes; the payload a billion-vector store actually persists.

    r17 reshape (guide §2.4): the first form derived (id, cluster) and
    (id, codes) as two branches of the residual frame and equi-joined
    them back on id — a self-join that shuffled both sides AND ran the
    coarse-assignment argmin twice, once on the UNWIDENED branch (a
    single input split executes the whole decimal argmin on one task).
    Cluster and codes are both per-row functions of the same residual
    row, so one staged projection (the ivfpq_adc_topk shape) emits both:
    zero joins, one widened assign pass. Same rows, same schema."""
    from .stats import fanout_parallel

    m, _, dsub = codebooks.shape
    res = residual_frame(fanout_parallel(emb), centroids, id_col, vec_col)
    rcol = F.col("residual")
    return res.select(
        F.col(id_col),
        "ivf_cluster",
        F.array(
            *[_sub_code(rcol, codebooks[j], j, dsub) for j in range(m)]
        ).alias("codes"),
    )


def ivfpq_index_append(
    index: DataFrame,
    new_vectors: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_new: bool = True,
) -> DataFrame:
    """Daily-ingest maintenance of a deployed IVF-PQ index (r12 verdict
    stretch #7): encode the ARRIVING vectors against the FROZEN trained
    centroids/codebooks and union them into the prebuilt index relation
    with one row per id — the `_dedup_store_union` write-back contract
    every incremental dedup store uses (store left_anti batch-keys ∪
    batch: an at-least-once replay, or a re-ingested id, lands exactly
    once, the batch's version wins, and the index-sized store NEVER
    shuffles — ``broadcast_new`` as there; pass False for a
    near-index-sized backfill).

    Because the codebooks are frozen, the appended index is
    BIT-IDENTICAL to re-encoding the full corpus with the same
    artifacts (pytest append-vs-rebuild probe parity), so probe results
    never depend on arrival order. The trade every IVF-PQ deployment
    makes: quantization error drifts as the vector distribution drifts
    away from the training sample — recompute the codebooks (a full
    re-encode) on the retrain cadence, not per batch; the recall
    instrumentation entry (ann_ivfpq_recall) is the drift monitor."""
    from .dedup import _dedup_store_union

    encoded = ivfpq_encode(new_vectors, centroids, codebooks, id_col, vec_col)
    return _dedup_store_union(index, encoded, id_col, broadcast_new=broadcast_new)


def ivfpq_adc_topk(
    emb: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ search: probe the n_probe nearest coarse lists, score
    members by asymmetric PQ distance between the QUERY RESIDUAL
    (query minus that list's centroid) and each member's residual
    codeword — the classic composition (Jégou et al. §IV): per probed
    list, the m × ksub lookup table is rebuilt from the query residual,
    so the constant-folded-table trick still applies, just once per
    probed list instead of once globally.

    Per row: one coarse assignment + (inside its probed branch) one
    residual encode + m table probes — all fixed-point BIGINT, bit-
    portable. The probe choice uses ivf.exact_probe_order (the
    oracle's own decimal arithmetic, ties by list id) so a coarse
    near-tie can never make Spark and the oracle probe different
    lists."""
    from .ivf import exact_probe_order

    m, ksub, dsub = codebooks.shape
    q = np.asarray([float(v) for v in query_vec], dtype=float)
    probes = exact_probe_order(centroids, q)[:n_probe]

    # Staged plan: (1) repartition + assign once, (2) prune to the
    # probed lists on the materialized cluster column, (3) materialize
    # residual then codes, (4) score. Inlining everything into one
    # projection re-evaluates the coarse argmin inside every nested
    # lambda reference (no CSE through higher-order functions) —
    # measured 7x slower. Codes are branch-INDEPENDENT (they encode
    # the row's own residual), so encode once, not once per probe.
    par = emb.sparkSession.sparkContext.defaultParallelism
    probed = residual_frame(
        emb.repartition(par), centroids, id_col, vec_col
    ).filter(F.col("ivf_cluster").isin(probes))
    res = F.col("residual")
    with_codes = probed.select(
        F.col(id_col),
        "ivf_cluster",
        F.array(*[_sub_code(res, codebooks[j], j, dsub) for j in range(m)]).alias(
            "codes"
        ),
    )

    return ivfpq_adc_topk_from_index(
        with_codes, centroids, codebooks, query_vec, k=k, n_probe=n_probe, id_col=id_col
    )


def ivfpq_adc_topk_from_index(
    index: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC search over a PREBUILT ivfpq_encode relation (id,
    ivf_cluster, codes) — the query path of the deployed index:
    codebooks are trained and vectors encoded ONCE (the parquet store a
    billion-vector deployment actually persists), and each query is a
    cluster-pruned scan of the codes column with m BIGINT table lookups
    per row. No residual encode, no raw-vector read. Bit-identical
    result to ivfpq_adc_topk on the raw vectors (same probe order, same
    fixed-point tables); that function now routes through this one
    after encoding in-plan.

    ADC lookup tables are precomputed driver-side with the SAME
    fixed-point arithmetic (numpy IEEE doubles + per-element floor ==
    the Column/SQL form bit-for-bit), so each probed list inlines just
    m*ksub BIGINT literals — the plan was previously ~20k nodes of
    nested table expressions and Catalyst ANALYSIS dominated the query
    (same driver-bound failure mode the _book_lit docstring records)."""
    from .ivf import exact_probe_order

    m, ksub, dsub = codebooks.shape
    q = np.asarray([float(v) for v in query_vec], dtype=float)
    probes = exact_probe_order(centroids, q)[:n_probe]
    probed = index.filter(F.col("ivf_cluster").isin(probes))

    def _np_table(c: int, j: int) -> list[int]:
        qres = q - centroids[c]
        qsub = qres[j * dsub : (j + 1) * dsub]
        return [
            int(np.floor((qsub - cw) * (qsub - cw) * FIXED_SCALE).sum())
            for cw in codebooks[j]
        ]

    score = None
    for c in probes:
        total = F.lit(0).cast("bigint")
        for j in range(m):
            table = F.array(*[F.lit(v).cast("bigint") for v in _np_table(c, j)])
            total = total + F.element_at(table, F.col("codes")[j] + 1)
        score = (
            F.when(F.col("ivf_cluster") == c, total)
            if score is None
            else score.when(F.col("ivf_cluster") == c, total)
        )
    adc = (score.cast("double") / F.lit(float(FIXED_SCALE))).alias("adc")

    scored = probed.select(F.col(id_col), adc)
    return scored.orderBy(F.asc("adc"), F.asc(id_col)).limit(k)


def codebooks_to_frame(spark, codebooks: np.ndarray) -> DataFrame:
    """The trained PQ codebooks as a persistable relation
    (subspace, code, centroid array<double>) — same write-once artifact
    contract as ivf.centroids_to_frame; (subspace, code) recovers the
    (m, ksub, dsub) tensor layout across the parquet round-trip."""
    m, ksub, _ = codebooks.shape
    return spark.createDataFrame(
        [
            (j, c, [float(v) for v in codebooks[j, c]])
            for j in range(m)
            for c in range(ksub)
        ],
        "subspace bigint, code bigint, centroid array<double>",
    )


def frame_to_codebooks(
    df: DataFrame,
    expected_m: int | None = None,
    expected_ksub: int | None = None,
) -> np.ndarray:
    """Inverse of :func:`codebooks_to_frame` (driver-side artifact read,
    O(m*ksub) rows). Raises if the relation is ragged — a partial write
    must not reload as a silently-smaller codebook.

    Pass ``expected_m``/``expected_ksub`` (known to every caller that
    trained or configured the index) to also catch partial writes that
    drop entire TRAILING subspaces or codes — those keep the relation
    internally rectangular, so inferring the extent from the max id
    alone cannot see them."""
    rows = df.select("subspace", "code", "centroid").orderBy(
        "subspace", "code"
    ).collect()
    if not rows:
        raise ValueError("empty codebook relation")
    m = int(rows[-1].subspace) + 1
    ksub = int(rows[-1].code) + 1
    if expected_m is not None and m != expected_m:
        kind = "truncated" if m < expected_m else "over-full (duplicated write?)"
        raise ValueError(
            f"codebook relation is {kind}: {m} subspaces present, "
            f"expected {expected_m}"
        )
    if expected_ksub is not None and ksub != expected_ksub:
        kind = "truncated" if ksub < expected_ksub else "over-full (duplicated write?)"
        raise ValueError(
            f"codebook relation is {kind}: {ksub} codes present, "
            f"expected {expected_ksub}"
        )
    if len(rows) != m * ksub:
        raise ValueError(
            f"codebook relation is ragged: {len(rows)} rows != "
            f"{m} subspaces x {ksub} codes"
        )
    books = np.array([[float(v) for v in r.centroid] for r in rows])
    return books.reshape(m, ksub, -1)
