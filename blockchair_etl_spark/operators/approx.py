"""Approximate aggregation variants — the bounded-memory scale options.

Exact COUNT DISTINCT shuffles every distinct value; exact percentiles
shuffle every row. At 100 TB the sketch forms trade bounded error for
O(1) state per group. Two wrappers pin the engine's accuracy defaults
for Spark's own sketches: HyperLogLog++ for cardinality
(`approx_count_distinct`, rsd-tunable) and the Greenwald-Khanna /
KLL-style quantile sketch (`percentile_approx`); error bounds are
asserted in tests/test_approx.py. Their results depend on Spark
internals, so the rest of the module is a family of DETERMINISTIC
sketches that a DuckDB oracle checks bit for bit: KMV (k minimum
values) with its θ set algebra, HyperLogLog registers, count-min and a
fixed-bin histogram.

The family's contract:

- One hash. KMV and HLL hash a value's string form to the first 60
  bits (15 hex digits) of its md5 (``_hash60``): both engines print md5
  as the same lowercase hex, a 60-bit value fits a BIGINT exactly, and
  the hash space is 2^60 for every estimate.
- Each formula is written once, as a builder over zero or more group
  keys. The flat HLL registers, merge and readout, the flat count-min
  build and probe and the flat KMV estimate are the grouped builders
  over no keys (``df.groupBy().agg(...)`` is the plan ``df.agg(...)``
  builds). The flat and grouped public functions differ only where
  their behaviour does: which null keys they keep and whether they
  broadcast.
- KMV mins keep two algorithms: the flat k smallest distinct hashes as
  one top-k, and per group a two-level window cut salted on the hash
  (:func:`kmv_mins_grouped`).
- The θ set algebra (intersection, difference, Jaccard and the grouped
  one-pass form) shares one θ rule and one inclusion scaling
  n · 2^60 / θ.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Column, DataFrame, Window, functions as F

DEFAULT_RSD = 0.02  # ~2% relative standard deviation (HLL++ precision)
DEFAULT_QUANTILE_ACCURACY = 10_000  # 1/accuracy max rank error

_HASH_BITS = 60  # width of the family's md5-prefix hash
_SPACE = 1 << _HASH_BITS  # the hash space: θ of a complete sketch
_KMV_SALTS = 16  # level-1 windows per group in kmv_mins_grouped


def approx_distinct(c: Column | str, rsd: float = DEFAULT_RSD) -> Column:
    return F.approx_count_distinct(c, rsd=rsd)


def approx_quantiles(
    c: Column | str, probabilities: list[float], accuracy: int = DEFAULT_QUANTILE_ACCURACY
) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return F.percentile_approx(
        col, F.array(*[F.lit(p) for p in probabilities]), F.lit(accuracy)
    )


def _hash60(col: Column) -> Column:
    """The family's one hash: the first 60 bits of md5(string form) as a
    non-negative BIGINT."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, _HASH_BITS // 4), 16, 10
    ).cast("bigint")


def _require(rel: DataFrame, fn: str, kind: str, cols: tuple[str, ...]) -> None:
    """Fail loudly when a stored grouped relation lacks its columns,
    instead of grouping a coincidental column."""
    missing = [c for c in cols if c not in rel.columns]
    if missing:
        raise ValueError(
            f"{fn} expects a grouped {kind} relation with columns {cols}; "
            f"missing {missing} in {rel.columns} — pass in_col= for a "
            "store whose group column is named differently"
        )


# ---------------------------------------------------------------------------
# KMV: the k minimum distinct hashes
# ---------------------------------------------------------------------------


def _kmv_estimate(mins: DataFrame, k: int, *keys: Column) -> DataFrame:
    """The KMV estimator over zero or more group keys: (n_taken,
    kth_min_hash, distinct_estimate) with D ≈ (k-1) · 2^60 / h_(k),
    the exact count below k."""
    n_taken = F.count(F.lit(1))
    kth = F.max("hv")
    return mins.groupBy(*keys).agg(
        n_taken.cast("bigint").alias("n_taken"),
        kth.alias("kth_min_hash"),
        F.when(n_taken < k, n_taken.cast("double"))
        .otherwise(F.lit(float(k - 1)) * F.lit(float(_SPACE)) / kth.cast("double"))
        .alias("distinct_estimate"),
    )


def _min_k(hv: DataFrame, k: int) -> DataFrame:
    return hv.distinct().orderBy(F.asc("hv")).limit(k)


def _min_k_per(rel: DataFrame, k: int, *partition) -> DataFrame:
    """Rows of ``rel`` whose hv is among the k smallest of their window
    partition."""
    w = Window.partitionBy(*partition).orderBy(F.asc("hv"))
    return (
        rel.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= int(k))
        .drop("rn")
    )


def kmv_distinct(df: DataFrame, c: Column | str, k: int = 64) -> DataFrame:
    """K-minimum-values distinct-count sketch — the *deterministic*
    cardinality estimator (HLL++ above is cheaper but its result depends
    on Spark's internal hash, so it cannot be oracle-checked cross-engine).

    Hash each value with the family's 60-bit hash, keep the k smallest
    *distinct* hashes (:func:`kmv_mins`), and estimate
    D ≈ (k-1) · 2^60 / h_(k). With fewer than k distinct values the
    sketch degenerates to the exact count.

    Scale shape: one hash-distinct shuffle over D values (map-side
    partial dedup), then TakeOrderedAndProject — each partition forwards
    at most k hashes to the driver-side merge, so the collected state is
    O(k · partitions), independent of row count. Returns a 1-row frame
    (n_taken, kth_min_hash, distinct_estimate).
    """
    return _kmv_estimate(kmv_mins(df, c, k), k)


def kmv_merge_mins(sketches: list[DataFrame], k: int = 64) -> DataFrame:
    """The lossless KMV merge on `mins` relations: union the min-hash
    sets, dedup, re-take the k smallest. The one definition of the
    merge, which kmv_union's estimation calls."""
    return _min_k(reduce(DataFrame.unionByName, sketches), k)


def kmv_union(sketches: list[DataFrame], k: int = 64) -> DataFrame:
    """Merge KMV sketches: union their min-hash sets, re-take the k
    smallest, re-estimate. This is the property that makes KMV a proper
    distributed sketch — per-partition (or per-day, per-source) sketches
    merge losslessly into the sketch of the union, so a 100 TB corpus
    can be sketched incrementally and combined at O(k) cost per merge.
    Inputs are `mins` relations of kmv_mins(); returns the same 1-row
    estimate frame as kmv_distinct."""
    return _kmv_estimate(kmv_merge_mins(sketches, k), k)


def kmv_mins(df: DataFrame, c: Column | str, k: int = 64) -> DataFrame:
    """The reusable half of kmv_distinct: the k smallest distinct 60-bit
    md5 hashes of a column, as a (hv) relation suitable for kmv_union."""
    col = F.col(c) if isinstance(c, str) else c
    return _min_k(df.filter(col.isNotNull()).select(_hash60(col).alias("hv")), k)


def kmv_mins_grouped(
    df: DataFrame, group_col: str, c: Column | str, k: int = 64
) -> DataFrame:
    """Per-GROUP KMV sketch state: the k smallest distinct 60-bit md5
    hashes of ``c`` within each group, as a (g, hv) relation — the
    grouped sibling of kmv_mins and the dashboard's per-dimension
    cardinality primitive (distinct users per event type, per day, per
    source) at O(groups x k) state instead of an exact per-group
    distinct.

    Scale shape: one (g, hv) hash-distinct shuffle, then a TWO-LEVEL
    min-k cut. A single per-group window would pull every distinct
    hash of a hot group through one task's sort (a 1B-distinct-user
    group = a 1B-row single-task sort at corpus scale), so level 1
    cuts min-k within (g, hv % 16) — 16 parallel windows per group,
    each bounded by its salt share — and level 2 takes the per-group
    min-k of the surviving 16·k rows. Min-k union is lossless (the
    kmv_merge_mins theorem), so the two-level result is IDENTICAL to the
    direct cut — the oracle computes the direct form and hash-matches.
    Never a per-group collect_set. The salt derives from hv itself
    (already uniform)."""
    col = F.col(c) if isinstance(c, str) else c
    distinct = (
        df.filter(col.isNotNull())
        .select(F.col(group_col).alias("g"), _hash60(col).alias("hv"))
        .distinct()
    )
    pruned = _min_k_per(distinct, k, "g", F.pmod(F.col("hv"), F.lit(_KMV_SALTS)))
    return _min_k_per(pruned, k, "g")


def kmv_distinct_grouped(
    df: DataFrame, group_col: str, c: Column | str, k: int = 64
) -> DataFrame:
    """Per-group distinct-count estimates off the grouped KMV sketch:
    → (group, n_taken, kth_min_hash, distinct_estimate) — one row per
    group, same estimator and exact-below-k degeneration as
    kmv_distinct. The read half is :func:`kmv_estimate_grouped`, so a
    maintained (g, hv) store serves the same relation without
    rescanning the corpus."""
    return kmv_estimate_grouped(kmv_mins_grouped(df, group_col, c, k), group_col, k)


def kmv_estimate_grouped(
    mins: DataFrame, group_col: str, k: int = 64, in_col: str = "g"
) -> DataFrame:
    """Estimation read-half over a grouped mins relation (``in_col``,
    hv): the kmv_distinct estimator per group. ``group_col`` names the
    OUTPUT group column; ``in_col`` names the input relation's group
    column (default 'g', the kmv_mins_grouped / kmv_merge_mins_grouped
    contract) — a store built with a different column name passes it
    explicitly, and a wrong name fails loudly here instead of grouping a
    coincidental 'g' column."""
    _require(mins, "kmv_estimate_grouped", "mins", (in_col, "hv"))
    return _kmv_estimate(mins, k, F.col(in_col).alias(group_col))


def kmv_merge_mins_grouped(sketches: list[DataFrame], k: int = 64) -> DataFrame:
    """The lossless grouped merge: union (g, hv) relations, dedup,
    re-take each group's k smallest — the per-group form of
    kmv_merge_mins (idempotent: re-merging the same sketch changes
    nothing)."""
    return _min_k_per(reduce(DataFrame.unionByName, sketches).distinct(), k, "g")


def winsorize(
    df: DataFrame,
    value_col: str,
    group_col: str,
    lo_p: float = 0.05,
    hi_p: float = 0.95,
) -> DataFrame:
    """Per-group winsorization: clamp values to the group's exact
    [lo_p, hi_p] percentiles — the standard outlier-trim before
    training-statistics aggregation.

    The percentile pair is one agg per group joined back broadcast-style
    (groups << rows), so the fact table is scanned once and never
    shuffled. Exact percentile sorts within each group; at corpus scale
    swap in percentile_approx cutpoints (same clamp, sketch-derived
    bounds). Both engines interpolate exact percentiles as
    (n-1)*p in double, so the clamp bounds are bit-identical."""
    bounds = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, {lo_p})").alias("__lo"),
        F.expr(f"percentile({value_col}, {hi_p})").alias("__hi"),
    )
    return (
        df.join(F.broadcast(bounds), group_col)
        .withColumn(
            f"{value_col}_winsorized",
            F.least(F.greatest(F.col(value_col), F.col("__lo")), F.col("__hi")),
        )
        .drop("__lo", "__hi")
    )


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------

# Pairwise-independent-style integer hash rows ((a*k + b) mod p) mod
# width with p prime. Every operation is exact 64-bit integer
# arithmetic, so the sketch — unlike HLL++ — is bit-identical across
# engines and oracle-checkable. a*k stays in int64 because k is reduced
# mod p first (a < p ≈ 1e9 → product < 1e18).
CMS_PRIME = 1_000_000_007
CMS_PARAMS: tuple[tuple[int, int], ...] = (
    (3, 17),
    (1_299_709, 104_729),
    (15_485_863, 32_452_843),
    (49_979_687, 86_028_121),
)


def _cms_col(key: Column, a: int, b: int, width: int) -> Column:
    # pmod, not % — plain % follows the dividend's sign, so negative
    # keys would address "negative" columns. Build and probe would still
    # agree with each other, but the sketch would use 2×width-1 columns
    # and any cross-engine oracle must replicate the same sign handling;
    # non-negative positions keep the contract simple and portable.
    p = F.lit(CMS_PRIME).cast("bigint")
    return F.pmod(
        F.pmod(F.lit(a) * F.pmod(key.cast("bigint"), p) + F.lit(b), p),
        F.lit(width),
    )


def _cms_cells(
    df: DataFrame, key_col: str, width: int, group_col: str | None = None
) -> DataFrame:
    """The count-min build over zero or one group key: explode each row
    into its depth (row_id, col_id) cells and count per cell."""
    key = F.col(key_col)
    g = [] if group_col is None else ["g"]
    cells = df.select(
        *[F.col(group_col).alias(n) for n in g],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_id"),
                        _cms_col(key, a, b, width).alias("col_id"),
                    )
                    for i, (a, b) in enumerate(CMS_PARAMS)
                ]
            )
        ).alias("cell"),
    )
    return cells.groupBy(
        *g, F.col("cell.row_id").alias("row_id"), F.col("cell.col_id").alias("col_id")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def _cms_probe(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    width: int,
    group_col: str | None,
    in_col: str,
    broadcast: bool,
) -> DataFrame:
    """Point estimates over zero or one group key: the min over the
    depth rows of each probe row's addressed counters, joined one depth
    row at a time on (group, column)."""
    key = F.col(key_col)
    g = [] if group_col is None else ["__g"]
    addressed = keys.select(
        *[F.col(group_col).alias(n) for n in g],
        key.alias("__k"),
        *[
            _cms_col(key, a, b, width).alias(f"__c{i}")
            for i, (a, b) in enumerate(CMS_PARAMS)
        ],
    )
    # left join + coalesce 0: a probed key whose addressed cell was
    # never touched (true count 0 — the sketch relation is sparse) must
    # still return an estimate, not vanish from the output.
    for i in range(len(CMS_PARAMS)):
        s = sketch.filter(F.col("row_id") == i).select(
            *[F.col(in_col).alias(n) for n in g],
            F.col("col_id").alias(f"__c{i}"),
            F.col("cnt").alias(f"__cnt{i}"),
        )
        addressed = addressed.join(
            F.broadcast(s) if broadcast else s, [*g, f"__c{i}"], "left"
        )
    est = F.least(
        *[F.coalesce(F.col(f"__cnt{i}"), F.lit(0)) for i in range(len(CMS_PARAMS))]
    )
    return addressed.select(
        *[F.col(n).alias(group_col) for n in g],
        F.col("__k").alias(key_col),
        est.cast("bigint").alias("est_count"),
    )


def cms_build(df: DataFrame, key_col: str, width: int = 256) -> DataFrame:
    """Count-min sketch of a key column as a (row_id, col_id, cnt)
    relation — depth = len(CMS_PARAMS) rows × ``width`` counters. NULL
    keys are counted, in a NULL-column cell of each depth row.

    The sketch IS a DataFrame, which makes it mergeable the
    map-reduce way: union two sketches and re-aggregate
    (``cms_merge``) — the per-source/per-day rollup shape. Build cost
    is one map-side explode (depth cells per row) plus one hash-agg on
    (row, col): fixed O(depth × width) state per source regardless of
    key cardinality, which is the entire point at 100 TB."""
    return _cms_cells(df, key_col, width)


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketches built with the same params: cell-wise sum."""
    return (
        reduce(DataFrame.unionByName, sketches)
        .groupBy("row_id", "col_id")
        .agg(F.sum("cnt").alias("cnt"))
    )


def cms_build_grouped(
    df: DataFrame, group_col: str, key_col: str, width: int = 256
) -> DataFrame:
    """Per-GROUP count-min sketch as a (g, row_id, col_id, cnt)
    relation — the grouped sibling of cms_build and the heavy-hitters
    half of the per-dimension dashboard pair (kmv_mins_grouped is the
    cardinality half): top users per event type / per day / per source
    at O(groups × depth × width) state instead of an exact per-group
    key count. NULL keys are dropped.

    Scale shape: one map-side explode (depth cells per row) and ONE
    hash-aggregation on (g, row, col) — partial aggregation bounds the
    exchange at O(groups × depth × width) rows regardless of stream
    length, and unlike a per-group top-k window there is no sort and
    no hot-group single-task hazard: a group receiving ~all events
    still occupies exactly depth × width cells."""
    return _cms_cells(df.filter(F.col(key_col).isNotNull()), key_col, width, group_col)


def cms_estimate_grouped(
    sketch: DataFrame,
    keys: DataFrame,
    group_col: str,
    key_col: str,
    width: int = 256,
    in_col: str = "g",
) -> DataFrame:
    """Per-group point estimates for (group, key) probe rows: min over
    the depth rows of the group's addressed counters. ``in_col`` names
    the sketch relation's group column (default 'g', the
    cms_build_grouped contract — same convention and loud-failure rule
    as kmv_estimate_grouped). The probe joins on (g, col) per depth
    row — never broadcast: the grouped sketch is O(groups × depth ×
    width) and groups can be many."""
    _require(sketch, "cms_estimate_grouped", "sketch", (in_col, "row_id", "col_id", "cnt"))
    return _cms_probe(sketch, keys, key_col, width, group_col, in_col, broadcast=False)


def cms_estimate(
    sketch: DataFrame, keys: DataFrame, key_col: str, width: int = 256
) -> DataFrame:
    """Point-estimate counts for ``keys``: min over the depth rows of
    the addressed counters, each depth row of the sketch broadcast.
    CMS never under-counts; collisions only inflate, bounded by
    ε = e/width of the total stream length with probability
    1 - (1/e)^depth."""
    return _cms_probe(sketch, keys, key_col, width, None, "g", broadcast=True)


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    group_col: str,
    quantile_pcts: tuple[int, ...] = (50, 90, 99),
    bin_scale: int = 8,
    value_range: tuple[float, float] | None = None,
) -> DataFrame:
    """Quantiles from a fixed-bin histogram sketch — the mergeable,
    DETERMINISTIC alternative to percentile_approx (whose GK sketch is
    engine-internal and not oracle-checkable) and to exact percentiles
    (a full sort per group at scale).

    Values land in bins of width 1/bin_scale via floor(value × scale);
    with scale a power of two the product is exact in binary floating
    point, so binning is bit-identical across engines. The estimate for
    quantile q is the lower bound of the first bin whose cumulative
    count reaches ceil(q·n) — error bounded by the bin width, state
    bounded by the value range × scale regardless of row count, and
    two sketches merge by summing bin counts.

    Rank thresholds use pure integer arithmetic ((n·pct + 99) div 100),
    no float rounding at the decision boundary.

    ``value_range`` forwards to histogram_bins' range contract (see
    there): declared bounds turn production value drift into a loud
    in-plan failure instead of unbounded cell state.

    Output: (group, n, p<pct> DOUBLE per requested percentile)."""
    bins = histogram_bins(df, value_col, group_col, bin_scale, value_range)
    return histogram_quantiles_from_bins(
        bins, group_col, quantile_pcts, bin_scale
    )


def histogram_bins(
    df: DataFrame,
    value_col: str,
    group_col: str,
    bin_scale: int = 8,
    value_range: tuple[float, float] | None = None,
) -> DataFrame:
    """The sketch half of histogram_quantiles: the (g, bin, cnt) cell
    relation. Exposed separately because this is the MERGEABLE state:
    two sketches merge by summing cnt per (g, bin).

    ``value_range`` is the RANGE CONTRACT: the fixed-bin sketch's state
    bound is O(groups × range × scale) —
    it holds only while production values stay inside the scale the
    bins were sized for. When the contract is declared, a value outside
    [lo, hi] raises IN-PLAN with the offending value in the message
    (the winnowing ≥1e9-guard pattern: one O(1)-per-row when-branch on
    the already-cast double, never a separate validation scan), so a
    silent range drift becomes a loud ingest-time failure instead of an
    unbounded cell store and a degraded quantile read. NULLs pass
    through unchanged (null comparisons fall to the otherwise branch).
    The rangeless alternative for genuinely unbounded domains is a
    rank-based sketch (KLL-style) — documented, not implemented: its
    randomized compaction cannot be made bit-portable across engines
    under this module's oracle contract without a seeded determinism
    story the fixed-bin form doesn't need."""
    g = F.col(group_col)
    v = F.col(value_col).cast("double")
    if value_range is not None:
        lo, hi = float(value_range[0]), float(value_range[1])
        v = F.when(
            (v < F.lit(lo)) | (v > F.lit(hi)),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"histogram_bins: value outside the declared "
                        f"range contract [{lo}, {hi}] for column "
                        f"'{value_col}' (got "
                    ),
                    v.cast("string"),
                    F.lit(
                        "): production value drift breaks the "
                        "fixed-bin state bound — widen the contract "
                        "or re-bin the store"
                    ),
                )
            ).cast("double"),
        ).otherwise(v)
    b = F.floor(v * bin_scale).cast("bigint")
    return (
        df.select(g.alias("g"), b.alias("bin"))
        .groupBy("g", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_quantiles_from_bins(
    bins: DataFrame,
    group_col: str,
    quantile_pcts: tuple[int, ...] = (50, 90, 99),
    bin_scale: int = 8,
) -> DataFrame:
    """The read half of histogram_quantiles: quantile estimates off a
    (g, bin, cnt) cell relation — run it over a stored sketch at any
    time without touching the raw events."""
    w = Window.partitionBy("g").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = bins.select(
        "g",
        "bin",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("g")).alias("n"),
    )
    aggs = [F.max("n").alias("n")]
    for pct in quantile_pcts:
        aggs.append(
            (
                F.min(
                    F.when(
                        F.col("cum") >= F.expr(f"(n * {pct} + 99) div 100"),
                        F.col("bin"),
                    )
                )
                / F.lit(float(bin_scale))
            ).alias(f"p{pct}")
        )
    return cum.groupBy(F.col("g").alias(group_col)).agg(*aggs)


# ---------------------------------------------------------------------------
# HyperLogLog: the fixed-memory register-array distinct counter
# ---------------------------------------------------------------------------

HLL_P = 10  # 2^10 = 1024 registers — the production default precision


def _bitlen_tree(col: Column, width: int) -> Column:
    """Bit length of a positive integer in [1, 2^width) as a
    binary-search CASE tree over power-of-two thresholds — ~log2(width)
    codegen'd int64 comparisons per row, no string allocation (conv()
    to a binary string would parse each value through a decimal string
    and build an up to ``width``-char string per row). Exact-integer
    comparisons only, so the value is identical to length(bin(x)) for
    every input in range — the bit-portability contract is untouched
    (parity pinned over all 1024 live registers and by the register
    property tests)."""
    def tree(lo: int, hi: int) -> Column:
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        # bitlen > mid  iff  col >= 2^mid
        return F.when(col >= F.lit(1 << mid), tree(mid + 1, hi)).otherwise(
            tree(lo, mid)
        )

    return tree(1, width)


def _hll_bucket_r(hv: Column, p: int) -> tuple[Column, Column]:
    """(bucket, rank) registers from a 60-bit hash: bucket = top p
    bits; rank = position of the first 1-bit in the remaining w = 60-p
    bits (1-based), w+1 when they are all zero — Flajolet's rho. The
    bit-length is computed by exact integer comparisons (_bitlen_tree;
    value-identical to the minimal-binary-string length both engines
    produce) — no log2, no libm variance."""
    w = _HASH_BITS - p
    bucket = F.shiftright(hv, w)
    rest = hv.bitwiseAND(F.lit((1 << w) - 1))
    r = (
        F.when(rest == 0, F.lit(w + 1))
        .otherwise(F.lit(w + 1) - _bitlen_tree(rest, w))
        .cast("bigint")
    )
    return bucket, r


def _hll_max(rel: DataFrame, *keys: str) -> DataFrame:
    """Register-wise MAX over zero or one group key: the register build
    and the HLL union law."""
    return rel.groupBy(*keys, "bucket").agg(F.max("r").alias("r"))


def _hll_registers(
    df: DataFrame, c: Column | str, p: int, group_col: str | None = None
) -> DataFrame:
    """The register build over zero or one group key; a grouped build
    drops NULL groups as well as NULL values."""
    col = F.col(c) if isinstance(c, str) else c
    bucket, r = _hll_bucket_r(_hash60(col), p)
    g = [] if group_col is None else ["g"]
    keep = col.isNotNull()
    if group_col is not None:
        keep = keep & F.col(group_col).isNotNull()
    rows = df.filter(keep).select(
        *[F.col(group_col).alias(n) for n in g], bucket.alias("bucket"), r.alias("r")
    )
    return _hll_max(rows, *g)


def _hll_constant(p: int) -> float:
    """alpha_m * m^2 * 2^(w+1) — the raw-estimate numerator, computed
    driver-side ONCE so both engines divide the SAME double literal by
    the integer harmonic sum (one exactly-rounded IEEE division ⇒
    bit-identical estimates)."""
    m = 1 << p
    w = _HASH_BITS - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return alpha * m * m * float(1 << (w + 1))


def _hll_readout(
    registers: DataFrame, p: int, group_col: str | None = None, in_col: str = "g"
) -> DataFrame:
    """The HLL readout over zero or one group key; see hll_estimate."""
    m = 1 << p
    w = _HASH_BITS - p
    g = [] if group_col is None else ["__g"]
    agg = registers.groupBy(*[F.col(in_col).alias(n) for n in g]).agg(
        F.count(F.lit(1)).alias("__n_present"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {w + 1} - r)")).alias(
            "__s_present"
        ),
    )
    zeros = F.lit(m) - F.col("__n_present")
    # the global aggregate of an empty relation sums to NULL
    s = F.coalesce(F.col("__s_present"), F.lit(0)) + zeros * F.lit(1 << (w + 1))
    raw = F.lit(_hll_constant(p)) / s.cast("double")
    return agg.select(
        *[F.col(n).alias(group_col) for n in g],
        F.lit(m).cast("bigint").alias("m"),
        zeros.cast("bigint").alias("zero_registers"),
        s.cast("bigint").alias("s_scaled"),
        raw.alias("raw_estimate"),
        # the standard regime test (Flajolet: linear counting when
        # E_raw <= 5m/2 and zero registers exist) — a double-vs-literal
        # comparison, engine-exact; the correction itself is
        # m·ln(m/zero_registers), applied serving-side from the emitted
        # statistics because ln is not bit-portable
        ((raw <= F.lit(2.5 * m)) & (zeros > 0)).alias("use_linear_counting"),
    )


def hll_registers(df: DataFrame, c: Column | str, p: int = HLL_P) -> DataFrame:
    """HyperLogLog register relation: (bucket, r) with r the MAX rho
    over keys hashing to the bucket — at most 2^p rows regardless of
    stream length, the fixed-memory sibling of kmv_mins. One
    map-side-combined hash-agg (max is algebraic); untouched registers
    are sparse (absent row = register 0). Duplicates need no distinct:
    max over repeated keys is the key's own rho — which is also what
    makes the merge (register-wise max) IDEMPOTENT, the KMV-class
    replay-safety the CMS cell sums lack."""
    return _hll_registers(df, c, p)


def hll_merge(sketches: list[DataFrame]) -> DataFrame:
    """Register-wise MAX across sketches built with the same p — the
    HLL union law (sketch of the union of the streams), and a
    semantic no-op on re-merge: per-shard / per-day registers combine
    at O(2^p) cost on a 100 TB corpus, replay-safe."""
    return _hll_max(reduce(DataFrame.unionByName, sketches))


def hll_corrected_estimate(row) -> float:
    """SERVING-SIDE readout of one hll_estimate / hll_estimate_grouped
    row: applies the Flajolet small-range correction m·ln(m/V) (linear
    counting) when the row's regime flag says so, else returns the raw
    estimate. libm ln stays OUT of hash-compared engine columns (the
    bit-portability contract) — this is the documented driver/dashboard
    step that consumes the emitted (m, zero_registers, raw_estimate,
    use_linear_counting) sufficient statistics."""
    if row.use_linear_counting:
        return row.m * math.log(row.m / row.zero_registers)
    return row.raw_estimate


def _inclusion_exclusion(ea: float, eb: float, eu: float) -> dict:
    """|A∩B| ≈ est(A) + est(B) − est(A∪B), clamped at 0."""
    return {
        "est_a": ea,
        "est_b": eb,
        "est_union": eu,
        "intersection_estimate": max(0.0, ea + eb - eu),
    }


def hll_intersect_estimate(
    reg_a: DataFrame, reg_b: DataFrame, p: int = HLL_P
) -> dict:
    """Serving-side HLL set-INTERSECTION estimate by inclusion-
    exclusion over register relations: |A∩B| ≈ est(A) + est(B) −
    est(A∪B), with the union sketch from the idempotent register-wise
    max merge (hll_merge) — three O(2^p) readouts, never a raw-data
    join.

    ERROR CAVEAT vs the KMV θ-based estimate (kmv_intersect): each of
    the three HLL readouts carries ~1.04/√m relative error of ITS OWN
    cardinality, so the ABSOLUTE error of the difference scales with
    |A∪B| — for a small intersection of large sets the relative error
    is amplified by ~|A∪B|/|A∩B| and can exceed 100% (the estimate is
    clamped at 0). kmv_intersect's error scales with the intersection
    itself (hashes are sampled uniformly below θ), so prefer it when
    the intersection may be small relative to the union; use this form
    when only HLL register relations exist. Exact degenerations the
    algebra preserves: est(A∩A) = est(A) bit-identically (max-merge
    idempotence makes est(A∪A) = est(A)), and disjoint saturated sets
    read near 0.

    Returns a dict (est_a, est_b, est_union, intersection_estimate),
    each after the serving-side linear-counting correction."""
    return _inclusion_exclusion(
        *(
            hll_corrected_estimate(hll_estimate(regs, p).first())
            for regs in (reg_a, reg_b, hll_merge([reg_a, reg_b]))
        )
    )


def hll_intersect_estimate_grouped(
    reg_a: DataFrame, reg_b: DataFrame, p: int = HLL_P
) -> dict:
    """Per-GROUP serving-side HLL intersection by inclusion-exclusion —
    the grouped sibling of hll_intersect_estimate and the register-
    store counterpart of kmv_set_stats_grouped's intersection column:
    for every group present in EITHER grouped register relation,
    |A∩B|_g ≈ est(A_g) + est(B_g) − est(A_g ∪ B_g), the union from
    the idempotent grouped max-merge. Three O(groups × 2^p) readouts
    collected driver-side (the bounded serving-read posture), linear-
    counting correction applied per row from the emitted statistics.

    Same error caveat as the flat form (absolute error scales with the
    group's union, so prefer the KMV θ-based grouped column when small
    intersections matter); exact degenerations per group: a group on
    ONE side only reads exactly 0 (est_a + 0 − est_a), and A∩A reads
    est(A_g) bit-identically. Returns {g: {est_a, est_b, est_union,
    intersection_estimate}}."""
    ea, eb, eu = (
        {r.g: hll_corrected_estimate(r) for r in hll_estimate_grouped(regs, "g", p).collect()}
        for regs in (reg_a, reg_b, hll_merge_grouped([reg_a, reg_b]))
    )
    return {
        g: _inclusion_exclusion(ea.get(g, 0.0), eb.get(g, 0.0), u)
        for g, u in eu.items()
    }


def hll_estimate(registers: DataFrame, p: int = HLL_P) -> DataFrame:
    """One-row HLL readout: (m, zero_registers, s_scaled, raw_estimate,
    use_linear_counting).

    The harmonic sum Σ 2^(-r_j) is kept EXACT as the scaled BIGINT
    S = Σ 2^(w+1-r_j) (absent registers contribute 2^(w+1) each;
    max S = m·2^(w+1) = 2^61 at p=10 — inside int64), so the only
    floating-point step is the final division of a driver-computed
    double literal by S — exactly rounded, order-independent, and
    bit-identical across engines. raw_estimate is the uncorrected
    alpha_m·m²/Σ2^(-r_j); the standard small-range correction
    (m·ln(m/V) linear counting when E < 5m/2) needs libm ln, which is
    NOT bit-portable — serving layers apply it from the emitted
    (m, zero_registers) pair, exactly the reason those sufficient
    statistics ride the output row."""
    return _hll_readout(registers, p)


def hll_distinct(df: DataFrame, c: Column | str, p: int = HLL_P) -> DataFrame:
    """hll_registers ∘ hll_estimate — the one-shot distinct-count query
    shape (the approx_count_distinct role, but engine-portable and
    mergeable through the exposed register relation)."""
    return hll_estimate(hll_registers(df, c, p), p)


def hll_registers_grouped(
    df: DataFrame, group_col: str, c: Column | str, p: int = HLL_P
) -> DataFrame:
    """Per-GROUP register relation (g, bucket, r) — O(groups × 2^p)
    state, the per-dimension dashboard shape; same single
    map-combined hash-agg, no sort, no hot-group hazard (a group
    receiving ~all keys still occupies ≤ 2^p registers)."""
    return _hll_registers(df, c, p, group_col)


def hll_merge_grouped(sketches: list[DataFrame]) -> DataFrame:
    """Register-wise max within each group — the grouped union law."""
    return _hll_max(reduce(DataFrame.unionByName, sketches), "g")


def hll_estimate_grouped(
    registers: DataFrame,
    group_col: str,
    p: int = HLL_P,
    in_col: str = "g",
) -> DataFrame:
    """Per-group HLL readout: the hll_estimate row per group, led by the
    group column. ``in_col`` names the register relation's group column
    (default 'g', the hll_registers_grouped contract — same loud-failure
    rule as kmv_estimate_grouped)."""
    _require(registers, "hll_estimate_grouped", "register", (in_col, "bucket", "r"))
    return _hll_readout(registers, p, group_col, in_col)


# ---------------------------------------------------------------------------
# The KMV θ set algebra
# ---------------------------------------------------------------------------


def _side_stats(mins: DataFrame, side: str, *keys: str) -> DataFrame:
    """(__n_<side>, __kth_<side>) of a mins relation per group."""
    return mins.groupBy(*keys).agg(
        F.count(F.lit(1)).alias(f"__n_{side}"), F.max("hv").alias(f"__kth_{side}")
    )


def _theta(k: int, n_a: Column, n_b: Column) -> Column:
    """θ = min over the sides' thresholds: a saturated side (n ≥ k) is
    a complete census below its kth min, an unsaturated one everywhere
    (θ = the hash space)."""
    def side(n: Column, s: str) -> Column:
        return F.when(n >= k, F.col(f"__kth_{s}")).otherwise(F.lit(_SPACE))

    return F.least(side(n_a, "a"), side(n_b, "b")).cast("bigint").alias("theta")


def _flat_theta(mins_a: DataFrame, mins_b: DataFrame, k: int) -> DataFrame:
    """The one-row θ relation of two flat mins relations."""
    return _side_stats(mins_a, "a").crossJoin(_side_stats(mins_b, "b")).select(
        _theta(k, F.col("__n_a"), F.col("__n_b"))
    )


def _scaled(n: str) -> Column:
    """Inclusion scaling of a below-θ census count: n · 2^60 / θ, and
    n itself when θ is the whole space."""
    return F.when(
        F.col("theta") >= F.lit(_SPACE), F.col(n).cast("double")
    ).otherwise(
        F.col(n).cast("double") * F.lit(float(_SPACE)) / F.col("theta").cast("double")
    )


def _count_below(hv: DataFrame, stats: DataFrame, name: str) -> DataFrame:
    """Hashes strictly below θ, counted."""
    return hv.join(F.broadcast(stats), F.col("hv") < F.col("theta")).agg(
        F.count(F.lit(1)).alias(name)
    )


def _flat_set_op(
    mins_a: DataFrame, mins_b: DataFrame, k: int, how: str, n: str, est: str
) -> DataFrame:
    """(n, theta, est): A's hashes joined to B's with ``how``, counted
    strictly below θ and scaled by the inclusion fraction."""
    stats = _flat_theta(mins_a, mins_b, k)
    hv = mins_a.select("hv").join(mins_b.select("hv"), "hv", how)
    return _count_below(hv, stats, n).crossJoin(stats).select(
        F.col(n).cast("bigint").alias(n), "theta", _scaled(n).alias(est)
    )


def kmv_intersect(mins_a: DataFrame, mins_b: DataFrame, k: int = 64) -> DataFrame:
    """KMV set-INTERSECTION estimate — the Theta-sketch capability that
    completes the sketch set algebra beside kmv_union: distinct keys in
    BOTH of two segments (users who viewed AND clicked) from two O(k)
    `mins` relations, never a raw-data join.

    θ-rule: a saturated sketch (n == k) is a complete census of hashes
    ≤ its kth min; an unsaturated one is complete everywhere (θ = hash
    space). Below θ = min(θ_a, θ_b) BOTH sketches are complete, so the
    common hashes STRICTLY below θ are the intersection's hashes in
    that range, and the estimate scales by the inclusion fraction
    θ/space: estimate = n_common·space/θ. The strict bound keeps the
    family's (k-1)/kth convention: when θ is a saturated
    sketch's kth min, the kth value itself is the boundary and is
    EXCLUDED — so est(A∩A) on a saturated sketch reads (k-1)·space/kth,
    bit-identical to kmv_distinct(A), with no k/(k-1) upward bias.
    When neither sketch is saturated θ = space and every 60-bit hash
    is strictly below it, so the estimate IS the exact intersection
    count (the exact-below-k degeneration both kmv_distinct and
    kmv_union share). Determinism:
    n_common/θ are exact BIGINTs; the estimate is one multiply and one
    divide on doubles — exactly rounded, engine-identical (the
    kmv_union arithmetic contract).

    Inputs are kmv_mins()/kmv_merge_mins() relations built with the
    SAME k. Output: one row (n_common, theta, intersection_estimate)."""
    return _flat_set_op(mins_a, mins_b, k, "inner", "n_common", "intersection_estimate")


def kmv_a_not_b(mins_a: DataFrame, mins_b: DataFrame, k: int = 64) -> DataFrame:
    """KMV set-DIFFERENCE estimate (a-not-b) — the third Theta-sketch
    set operation, completing the serving algebra beside kmv_union and
    kmv_intersect: distinct keys in A but NOT in B (users who viewed
    but never clicked) from two O(k) `mins` relations, never a
    raw-data anti-join over the corpus.

    Same θ-rule and strict bound as kmv_intersect: below
    θ = min(θ_a, θ_b) BOTH sketches are complete censuses, so A's
    hashes strictly below θ that are absent from B's mins are exactly
    the difference's hashes in that range (B complete below θ means
    absent-from-mins ⟺ absent-from-B there), and the estimate scales
    by the inclusion fraction: estimate = n_diff·space/θ. With neither
    sketch saturated θ = space and the estimate IS the exact
    difference count. The strict bound keeps the family additive:
    n_common + n_diff counts exactly A's census strictly below θ, so
    est(A∩B) + est(A\\B) = est(A) bit-identically whenever θ = θ_a
    (in particular est(A\\A) = 0 and, against an unsaturated B,
    est(A\\∅) = est(A)). Determinism: n_diff/θ exact BIGINTs, one
    multiply + one divide on doubles — the family's arithmetic
    contract.

    Inputs are kmv_mins()/kmv_merge_mins() relations built with the
    SAME k. Output: one row (n_diff, theta, difference_estimate)."""
    return _flat_set_op(mins_a, mins_b, k, "left_anti", "n_diff", "difference_estimate")


def kmv_set_stats_grouped(
    mins_a: DataFrame, mins_b: DataFrame, k: int = 64
) -> DataFrame:
    """Per-GROUP Theta-sketch set algebra — ONE O(groups × k) pass
    over two grouped `mins` relations (kmv_mins_grouped) serving ALL
    the set reads per group: intersection, both a-not-b differences,
    and the Jaccard ratio. The dashboard's
    per-dimension segment-overlap primitive (viewers ∩ clickers per
    day) without a raw-data join: state in, state out.

    Per group, θ = min over the two sides' saturated kth mins (an
    UNSATURATED or ABSENT side is a complete census, θ = hash space —
    so a group present in only one relation reads intersection 0 and
    difference = that side's exact census, never a null). Below its θ
    each group's strict census partitions exactly into common + a-only
    + b-only (the flat algebra's additivity law, now per group), and
    each estimate scales by the inclusion fraction θ/space; the
    Jaccard ratio needs no scaling (the factor cancels). All counts
    are exact BIGINTs; each estimate is one multiply + one divide on
    doubles — the family's engine-identical arithmetic contract, and
    every law the flat ops obey (strict-θ self-consistency,
    exact-below-k degeneration) holds group-wise.

    Scale shape: two O(groups) aggregates over O(groups × k) rows,
    ONE full-outer (g, hv)-keyed join splitting the census, the
    O(groups) stats relation broadcast back per group — no raw-data
    scan, no per-group window. The broadcast suits the bounded group
    domains dashboards use (days, event types, sources). Inputs must
    share k. Output: one row per group present in EITHER relation —
    (g, theta, n_common, n_only_a, n_only_b, intersection_estimate,
    a_not_b_estimate, b_not_a_estimate, jaccard_estimate)."""
    stats = (
        _side_stats(mins_a, "a", "g")
        .join(_side_stats(mins_b, "b", "g"), "g", "full_outer")
        .select(
            "g",
            _theta(
                k,
                F.coalesce(F.col("__n_a"), F.lit(0)),
                F.coalesce(F.col("__n_b"), F.lit(0)),
            ),
        )
    )

    # ONE full-outer (g, hv) join + ONE aggregation splits the below-θ
    # census into common / a-only / b-only simultaneously — membership
    # flags survive the join as non-null markers, so three joins and
    # three agg rounds collapse into a single pass over the O(groups×k)
    # state (the base cost of this operator is tiny-stage overhead,
    # not data).
    a_tag = mins_a.select("g", "hv", F.lit(True).alias("__in_a"))
    b_tag = mins_b.select("g", "hv", F.lit(True).alias("__in_b"))
    in_a, in_b = F.col("__in_a"), F.col("__in_b")

    def n_where(cond: Column) -> Column:
        return F.sum(F.when(cond, 1).otherwise(0))

    counted = (
        a_tag.join(b_tag, ["g", "hv"], "full_outer")
        .join(F.broadcast(stats), "g")
        .filter(F.col("hv") < F.col("theta"))
        .groupBy("g")
        .agg(
            n_where(in_a.isNotNull() & in_b.isNotNull()).alias("n_common"),
            n_where(in_a.isNotNull() & in_b.isNull()).alias("n_only_a"),
            n_where(in_b.isNotNull() & in_a.isNull()).alias("n_only_b"),
        )
    )
    counts = ("n_common", "n_only_a", "n_only_b")
    out = stats.join(counted, "g", "left").select(
        "g",
        "theta",
        *[F.coalesce(F.col(n), F.lit(0)).cast("bigint").alias(n) for n in counts],
    )
    n_union = F.col("n_common") + F.col("n_only_a") + F.col("n_only_b")
    return out.select(
        "g",
        "theta",
        *counts,
        _scaled("n_common").alias("intersection_estimate"),
        _scaled("n_only_a").alias("a_not_b_estimate"),
        _scaled("n_only_b").alias("b_not_a_estimate"),
        F.when(
            n_union > 0,
            F.col("n_common").cast("double") / n_union.cast("double"),
        ).alias("jaccard_estimate"),
    )


def kmv_jaccard(mins_a: DataFrame, mins_b: DataFrame, k: int = 64) -> DataFrame:
    """KMV Jaccard-similarity estimate — the serving-side ratio the
    Theta-sketch algebra makes exact-by-construction: below
    θ = min(θ_a, θ_b) both sketches are complete censuses, so
    J = |A∩B|/|A∪B| restricted to hashes strictly below θ is a ratio
    of two EXACT integer counts over a uniform hash sample of the
    key space — n_common/n_union, no inclusion scaling needed (the
    θ/space factor cancels). With neither sketch saturated the ratio
    IS the exact Jaccard. Same strict bound as
    kmv_intersect/kmv_a_not_b, so the three stay mutually consistent:
    n_union = n_common + n_diff(A,B) + n_diff(B,A) on the same θ.
    Empty-union degeneration returns jaccard = NULL (0/0 is undefined,
    not 0 — the caller decides). Output: one row (n_common, n_union,
    theta, jaccard_estimate); determinism is one exactly-rounded
    BIGINT/BIGINT double division."""
    stats = _flat_theta(mins_a, mins_b, k)
    union_hv = mins_a.select("hv").unionByName(mins_b.select("hv")).distinct()
    common_hv = mins_a.select("hv").join(mins_b.select("hv"), "hv")
    return (
        _count_below(common_hv, stats, "n_common")
        .crossJoin(_count_below(union_hv, stats, "n_union"))
        .crossJoin(stats)
        .select(
            F.col("n_common").cast("bigint").alias("n_common"),
            F.col("n_union").cast("bigint").alias("n_union"),
            "theta",
            F.when(
                F.col("n_union") > 0,
                F.col("n_common").cast("double")
                / F.col("n_union").cast("double"),
            ).alias("jaccard_estimate"),
        )
    )
