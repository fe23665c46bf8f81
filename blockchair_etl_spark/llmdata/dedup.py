"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

All variants are pure DataFrame compositions (no UDFs): hashing is
md5-based so signatures are identical across engines and across cluster
runs — a requirement for incremental dedup where yesterday's signatures
must match today's.

Scale design (100 TB):

- Exact: one hash-aggregate shuffle on a 16-byte key. The canonical-id
  min() makes the survivor choice deterministic under any partitioning.
- MinHash+LSH: the candidate generator joins on (band_idx, band_key) —
  cost is O(Σ bucket²) not O(n²). Signature computation is one shuffle
  on doc_id over exploded distinct tokens; band keys are a map-side
  projection of the signature row. Hot buckets (boilerplate docs) are
  the skew risk — AQE skew-join splits them, and `max_bucket_size`
  drops degenerate buckets (a standard MinHash-at-scale guardrail).
- n-gram Jaccard: exact pair similarity; candidate pairs via shared
  shingles, so cost tracks true overlap. Use for verification of the
  LSH path or small/medium corpora; LSH is the scale path.
- SimHash: fingerprint is a fixed-width int computable map-side; near-
  dup = Hamming distance ≤ k over fingerprints (bucketable by bit
  blocks).
- Embedding cosine: pair join blocked on a coarse key (here: label /
  cluster id; at scale: an LSH or IVF bucket from similarity.py).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type-hint strings (PEP 563)
# must resolve through this module's globals
from pyspark.sql import DataFrame, functions as F

from ..caching import tracked_persist
from .stats import CorpusStats
from .text import tokens_col

DEC = "decimal(38,18)"


def exact_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", only_dups: bool = False
) -> DataFrame:
    """Exact dedup via content-hash group-by: one row per distinct
    content, with the deterministic canonical (minimum) id and group size."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    g = (
        df.select(F.md5(norm).alias("content_md5"), F.col(id_col))
        .groupBy("content_md5")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_docs"))
    )
    return g.filter(F.col("n_docs") > 1) if only_dups else g


def exploded_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int, distinct: bool = True
) -> DataFrame:
    """(doc, shingle) rows — distinct pairs by default (set semantics
    for Jaccard/containment); ``distinct=False`` skips that shuffle for
    consumers where the multiset is equivalent (MinHash: min over a
    multiset equals min over its set).

    Shape: tokenize ONCE per document into an array column, then build
    the shingle array with `transform(sequence, i -> concat_ws(slice))`
    and explode — zero shuffles (the r1-r6 shape composed shingles with
    lead() windows, paying a doc-keyed exchange + sort and an
    unconditional distinct; measured at sf0.1 the signature pipeline
    halves without them). Two hazards this formulation must dodge, both
    test-gated:
    - Catalyst's CollapseProject must NOT inline the tokenizer into the
      per-position lambda (that re-tokenizes per shingle = quadratic).
      It declines because the tokens column is referenced more than
      once and is non-cheap; tests/test_plans.py asserts the Generate
      operator carries no `split(` so a future optimizer change can't
      silently regress this.
    - `sequence(1, 0)` DESCENDS to [1, 0]; documents shorter than n
      tokens guard with an explicit empty array (explode then drops
      them, like the lead-window form's isNotNull filter did).

    The repartition matters too: a corpus often arrives as few large
    files (here: one), and without it the tokenize+explode runs in as
    many tasks as there are input splits."""
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = df.repartition(par).select(
        F.col(id_col).alias("doc"), tokens_col(text_col).alias("__toks")
    )
    if n == 1:
        out = toks.select("doc", F.explode("__toks").alias("feat"))
    else:
        positions = F.when(
            F.size("__toks") >= n,
            F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
        ).otherwise(F.array().cast("array<int>"))
        shingles = F.transform(
            positions,
            lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i, n)),
        )
        out = toks.select("doc", F.explode(shingles).alias("feat"))
    return out.distinct() if distinct else out


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard ≥ t).

    Candidates come from a self-join on shared shingles, so disjoint
    documents never meet. jaccard = |∩| / (|A| + |B| - |∩|) computed
    from integer counts — exact and engine-independent.
    """
    # sh feeds three plan branches (sizes, a-side, b-side); persist so
    # the tokenize/shingle pipeline runs once, not three times.
    sh = tracked_persist(
        exploded_shingles(df, text_col, id_col, n).withColumnRenamed("feat", "sh")
    )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc").alias("id_a"), "sh")
    b = sh.select(F.col("doc").alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz_a = sizes.select(F.col("doc").alias("id_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col("doc").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
    min_shared_terms: int = 1,
) -> DataFrame:
    """Directional n-gram CONTAINMENT pairs: containment(src in dst) =
    |S_src ∩ S_dst| / |S_src| over distinct n-token shingles — the
    one-sided overlap measure Jaccard cannot express. A short document
    quoted wholesale inside a long one scores containment ≈ 1.0 while
    its Jaccard ≈ |S_src|/|S_dst| stays tiny, so symmetric dedup never
    finds it; containment is the standard primitive for inclusion /
    quotation / boilerplate-envelope detection (Broder's original
    resemblance-and-containment pair).

    Same scale shape as ngram_jaccard_pairs: candidates from a shared-
    shingle self-join (disjoint docs never meet), one intersection
    count per unordered pair, then BOTH directions emitted from the
    same intersection relation (no second join pass). Integer counts,
    one IEEE division — exact and engine-independent.

    ``max_df`` is the scale lever (same contract as bow_cosine_pairs):
    candidate pairs come from shingles shared by at most ``max_df``
    documents — join fan-out Σ df² over rare shingles only, near-linear
    on Zipfian corpora — and the intersection is then re-counted over
    ALL shingles per candidate pair, so reported containments stay
    EXACT; only recall is traded (a pair sharing nothing but
    boilerplate shingles is missed — for inclusion detection, the
    desired cut). ``min_shared_terms`` further prunes candidates to
    pairs sharing at least that many rare shingles before the rescore.

    Output: (id_src, id_dst, n_common, containment) with id_src the
    contained side, containment >= threshold.
    """
    sh = tracked_persist(
        exploded_shingles(df, text_col, id_col, n).withColumnRenamed("feat", "sh")
    )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc").alias("id_a"), "sh")
    b = sh.select(F.col("doc").alias("id_b"), "sh")
    if max_df is None:
        inter = (
            a.join(b, "sh")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    else:
        rare = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("sh")
        )
        cand = (
            a.join(rare, "sh")
            .select("id_a", "sh")
            .join(b.join(rare, "sh").select("id_b", "sh"), "sh")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("__shared"))
            .filter(F.col("__shared") >= min_shared_terms)
            .select("id_a", "id_b")
        )
        # exact intersection re-count over ALL shingles per candidate
        inter = (
            cand.join(a, "id_a")
            .join(b, ["id_b", "sh"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    wsz = inter.join(
        sizes.select(F.col("doc").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a"
    ).join(
        sizes.select(F.col("doc").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b"
    )
    # BOTH directions from ONE pass over the intersection relation: a
    # fwd/rev unionByName would make `wsz` feed two plan branches, and
    # since `inter` (the shared-shingle self-join + pair aggregation —
    # the expensive part) is not persisted, the whole intersection
    # pipeline would execute twice (the r14 100x scaling flag traced
    # here: the containment family read alpha 1.12 while its
    # jaccard sibling — same core, one branch — read 0.96). The
    # 2-element explode emits the same rows in one scan, no persist,
    # no re-join.
    both = wsz.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("id_src"),
                    F.col("id_b").alias("id_dst"),
                    F.col("n_common").alias("n_common"),
                    (F.col("n_common") / F.col("n_a")).alias("containment"),
                ),
                F.struct(
                    F.col("id_b").alias("id_src"),
                    F.col("id_a").alias("id_dst"),
                    F.col("n_common").alias("n_common"),
                    (F.col("n_common") / F.col("n_b")).alias("containment"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    return both.filter(F.col("containment") >= threshold)


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature per document over n-token shingles: m_i = min
    over shingles of md5('{i}|' + shingle). String-min over md5 hex is
    deterministic, engine-independent, and needs no salted hash
    families. Shingles (not unigrams) are the feature: unigram sets
    saturate on small vocabularies and call everything a near-dup."""
    # distinct=False: min over the shingle multiset equals min over its
    # set, so the distinct's shuffle would buy nothing here
    feats = exploded_shingles(df, text_col, id_col, shingle_n, distinct=False)
    # ONE shuffle: hash every (doc, shingle) row inline (codegen, never
    # materialized) and min-aggregate by doc — the k per-doc minima
    # partial-aggregate map-side, so the exchange carries |docs|×k hash
    # partials, not the doc-shingle stream. The r4-r6 shape hashed each
    # corpus-DISTINCT shingle once and joined back ("10× less hash
    # work"), but md5 on short shingles is the cheap part and the join
    # re-shuffles the full doc-shingle stream by shingle key: measured
    # at sf0.1 (260k doc-shingle rows, 27k distinct) the join shape
    # costs 3.9 s vs 1.5 s for this one — and its shuffle-volume
    # disadvantage only grows with the corpus. Signatures are
    # bit-identical either way (same hash family, same min).
    return feats.groupBy("doc").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("feat")))).alias(f"m{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    salt: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: band signatures into num_hashes/band_size
    buckets, candidate pairs share ≥1 bucket, estimated Jaccard =
    fraction of matching minhashes ≥ threshold. Returns (id_a, id_b,
    est_jaccard) with id_a < id_b. ``max_bucket`` bounds degenerate
    band buckets via per-signature representative collapse — contract
    and parity guarantees in minhash_pairs_from_store.

    ``salt``: spread the band-bucket self-join over this many salt
    buckets (operators/skew.salted_join; same lever as
    connected_clusters(salt=...)) for POWER-LAW boilerplate corpora
    where a handful of band keys hold most documents and pin their
    shuffle partitions. MEASURED (r7, deliberately hub-skewed fixtures
    on local[32], AQE skew split ON — the session default): 12k docs /
    2500-doc identical-boilerplate hub: 5.3 s unsalted vs 4.7 s salt=8
    (~11%); 20k docs / 5000-doc hub: within run-to-run noise — AQE's
    map-range splitting already subdivides the hot band key for the
    sort-merge self-join, and the h² candidate materialization +
    distinct (salt-invariant) dominate. So: the knob is for clusters
    where AQE/skew splitting is unavailable or disabled, not a default;
    the b-side is replicated salt× and the pair set is bit-identical to
    the unsalted form (test_skew.py)."""
    assert num_hashes % band_size == 0
    # the signature+band relation feeds three plan branches (banding,
    # a-side, b-side); persist so shingling+hashing+aggregation runs
    # once. Pair detection itself is shared with the store-backed path.
    store = tracked_persist(
        minhash_band_store(df, num_hashes, band_size, text_col, id_col, shingle_n)
    )
    return minhash_pairs_from_store(
        store,
        num_hashes=num_hashes,
        threshold=threshold,
        salt=salt,
        max_bucket=max_bucket,
    )


def minhash_pairs_from_store(
    store: DataFrame,
    num_hashes: int = 16,
    threshold: float = 0.5,
    salt: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pair detection over a PREBUILT signature/band store
    (minhash_band_store output: doc, m0..m{k-1}, bands array) — the
    production shape at corpus scale: signatures are computed ONCE,
    written to parquet, and every dedup query reads them instead of
    re-shingling + re-hashing the corpus per run (the r6 verdict noted
    the five MinHash-family bench entries each rebuild signatures cold;
    this is the reuse path, and the md5-of-literal-seed hash family
    makes today's stored signatures comparable with tomorrow's).

    The store relation feeds three plan branches; when it's a parquet
    read, each branch is a column-pruned scan (bands for banding, the
    m-columns for scoring) — no cache needed. Same (id_a, id_b,
    est_jaccard) output, bit-identical to minhash_lsh_pairs on the
    same corpus; ``salt`` spreads the band self-join as there.

    ``max_bucket`` caps DEGENERATE band buckets (r14 review: salt
    spreads the shuffle and AQE splits the sort-merge, but an
    h-doc bucket still materializes h² candidates — 1M identical
    boilerplate docs at corpus scale is ~5·10¹¹ pairs before the
    distinct). Buckets over the cap are collapsed to ONE pair-
    generating representative per full signature (identical docs have
    identical signatures — the degenerate case IS the identical-
    signature case), and each collapsed identical-signature group
    additionally emits linear rep→member STAR pairs (est_jaccard 1.0
    by construction, scored through the same join). Contract:

    - buckets at or under the cap are untouched, so on corpora with no
      oversized bucket the output is bit-identical to the uncapped
      form (pair-set parity pytest);
    - in oversized buckets the all-pairs clique among same-signature
      docs is replaced by its star and cross-signature pairs are
      emitted between representatives only — the PAIR SET shrinks, but
      est_jaccard of every emitted pair is unchanged and the connected
      components / survivor sets are EXACTLY those of the uncapped
      form (same-sig members reach their rep at 1.0 ≥ any threshold,
      and a member's cross-sig pair has the same est_jaccard as its
      rep's, so an edge survives thresholding iff the rep's does);
    - candidate volume per oversized bucket drops from h² to
      (#distinct signatures)² + h star edges.

    The per-bucket counts are ONE map-side-combined aggregation over
    the banded projection (a column-pruned scan when the store is
    parquet — cheaper than a window sort over the full banded stream),
    and only the OVERSIZED keys join back, broadcast: there are at
    most banded_rows/max_bucket of them by construction. IO note for
    the capped path: the collapse branches need each doc's full-
    signature key; if the store already carries a ``sig_key`` column
    (write it once:  store.withColumn("sig_key",
    md5(concat_ws("|", m0..m{k-1})))  — the plan-audited way to keep
    every pair-generation branch a NARROW (doc, sig_key, bands) scan
    at corpus scale) it is used as-is, otherwise it is derived inline,
    which re-reads the m-columns in the generation branches too."""
    if max_bucket is not None:
        if "sig_key" in store.columns:
            sig_key = F.col("sig_key")
        else:
            sig_key = F.md5(
                F.concat_ws("|", *[F.col(f"m{i}") for i in range(num_hashes)])
            ).alias("sig_key")
        banded = store.select(
            "doc", sig_key, F.posexplode("bands").alias("band_idx", "band_key")
        )
        big_keys = (
            banded.groupBy("band_idx", "band_key")
            .agg(F.count(F.lit(1)).alias("__bucket_n"))
            .filter(F.col("__bucket_n") > int(max_bucket))
            .select("band_idx", "band_key", F.lit(True).alias("__big"))
        )
        # the marked band stream feeds SIX plan branches (small and the
        # reps on BOTH self-join sides, plus the two star aggregations)
        # — unpersisted, each branch re-ran the explode + sig_key md5 +
        # count-agg + broadcast-join subtree (r18 plan audit: 39
        # Generate / 52 Exchange nodes in the capped driver entry).
        # One narrow (doc, sig_key, band_idx, band_key, __big) cache —
        # the same rows/bytes class as the band store persist itself —
        # collapses them to InMemoryTableScans.
        marked = tracked_persist(
            banded.join(F.broadcast(big_keys), ["band_idx", "band_key"], "left")
        )
        small = marked.filter(F.col("__big").isNull())
        big = marked.filter(F.col("__big").isNotNull())
        reps = big.groupBy("band_idx", "band_key", "sig_key").agg(
            F.min("doc").alias("doc")
        )
        gen = small.select("doc", "band_idx", "band_key").unionByName(
            reps.select("doc", "band_idx", "band_key")
        )
        # identical-signature groups touching any oversized bucket emit
        # rep→member stars (linear) in place of their all-pairs clique;
        # min-doc rep keeps the id_a < id_b output convention
        star_members = big.select("sig_key", "doc").distinct()
        grp_rep = star_members.groupBy("sig_key").agg(F.min("doc").alias("rep"))
        stars = (
            star_members.join(grp_rep, "sig_key")
            .filter(F.col("doc") != F.col("rep"))
            .select(F.col("rep").alias("id_a"), F.col("doc").alias("id_b"))
        )
    else:
        gen = store.select(
            "doc", F.posexplode("bands").alias("band_idx", "band_key")
        )
        stars = None
    a = gen.select(F.col("doc").alias("id_a"), "band_idx", "band_key")
    b = gen.select(F.col("doc").alias("id_b"), "band_idx", "band_key")
    if salt:
        from ..operators.skew import salted_join

        joined = salted_join(a, b, on=["band_idx", "band_key"], salt=salt)
    else:
        joined = a.join(b, ["band_idx", "band_key"])
    cand = joined.filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    if stars is not None:
        cand = cand.unionByName(stars)
    cand = cand.distinct()
    sig_a = store.select(F.col("doc").alias("id_a"), *[F.col(f"m{i}").alias(f"a{i}") for i in range(num_hashes)])
    sig_b = store.select(F.col("doc").alias("id_b"), *[F.col(f"m{i}").alias(f"b{i}") for i in range(num_hashes)])
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(num_hashes)
    )
    return (
        cand.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn("est_jaccard", matches / F.lit(float(num_hashes)))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def simhash_fingerprints(
    df: DataFrame, bits: int = 32, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash: per-token 32-bit hash from the md5 hex prefix; each bit
    contributes +freq/−freq; fingerprint bit j is the sign. All-integer
    arithmetic (nibble decode from hex chars), bit-exact across engines.
    One doc-keyed aggregate over the occurrence stream (see
    simhash_over_occurrences), no UDFs.
    """
    occ = _fanout_parallel(df).select(
        F.col(id_col).alias("doc"), F.explode(tokens_col(text_col)).alias("token")
    )
    return simhash_over_occurrences(occ, bits=bits)


# shared with text.py via stats.fanout_parallel; kept under the old
# name for in-module callers
from .stats import fanout_parallel as _fanout_parallel  # noqa: E402


def media_byte_fingerprints(
    media: DataFrame,
    bits: int = 32,
    gram_bytes: int = 4,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """SimHash fingerprint of an opaque BINARY media column over sliding
    byte n-grams — the near-dup fingerprint for media payloads whose
    codecs aren't available (and the exact right thing for raw-byte
    near-dup regardless: re-encoded-but-mostly-identical payloads share
    most byte grams, so their fingerprints land within small Hamming
    distance and simhash_near_pairs' pigeonhole join finds them).

    Honest scope note: a true PERCEPTUAL hash (pHash) needs a codec —
    DCT over decoded pixels — which this environment does not ship
    (multimodal.decode_image is the stubbed boundary). Everything
    distributed about pHash dedup — fingerprint extraction in one scan,
    banded blocking, Hamming verify — is exercised for real here; only
    the per-item transform differs, and swapping it in is a local
    change to the gram extractor.

    Stays JVM-side end to end: bytes → lowercase hex (2 chars/byte),
    sliding ``gram_bytes``-byte windows as hex substrings (byte-aligned:
    start positions 1, 3, 5, …), then the shared SimHash machinery over
    (media, gram) occurrences. Media shorter than ``gram_bytes`` yield
    no grams and therefore no fingerprint row (nothing to block on).
    """
    width = gram_bytes * 2
    # pre-explode parallelism, same contract as the token sibling: the
    # gram fan-out (~payload bytes per row) must run at cluster
    # parallelism, not file-count parallelism (_fanout_parallel skips
    # the shuffle when the scan is already wide enough)
    hx = _fanout_parallel(media).select(
        F.col(id_col).alias("doc"),
        F.lower(F.hex(F.col(content_col))).alias("hx"),
    )
    # sequence() raises on a negative stop with a positive step, so the
    # short-payload case must be guarded to an empty gram array.
    grams = (
        f"CASE WHEN length(hx) >= {width} THEN "
        f"transform(sequence(1, length(hx) - {width - 1}, 2), "
        f"i -> substring(hx, i, {width})) "
        f"ELSE array() END"
    )
    occ = hx.select("doc", F.explode(F.expr(grams)).alias("token"))
    return simhash_over_occurrences(occ, bits=bits)


def simhash_over_occurrences(occ: DataFrame, bits: int = 32) -> DataFrame:
    """Shared SimHash core over (doc, token) OCCURRENCE rows: the
    frequency-weighted sign-of-bit-sum fold, computed directly on the
    occurrence stream. Callers differ only in how they produce
    occurrences (whitespace tokens, byte grams, …).

    Scale shape (r8): ONE shuffle, keyed on doc, carrying only
    partial-agg rows. The previous form paid a (doc, token) pre-
    aggregation shuffle (one row per distinct gram — ~the full
    occurrence stream for byte grams), a 32× bit-row explode, and a
    (doc, j) shuffle. The frequency weighting is distributive
    (Σ_tokens ±w == Σ_occurrences ±1), so the per-bit sums are now
    ``bits`` aggregate columns of groupBy(doc) computed directly on
    the occurrence stream: map-side combine collapses each partition
    to one 32-int row per doc before anything ships, and the
    fingerprint folds in a projection. The md5 runs once per
    occurrence instead of once per distinct (doc, token) — a ~25%
    hash overhead on gram streams, far cheaper than the shuffle it
    replaces.

    Per-row form (r17, guide §1.2 step 2): the md5 hex prefix decodes
    through ONE conv() per 8 hex chars (a 32-bit integer each) instead
    of per-nibble substring+instr columns, and each per-bit aggregate
    is a plain sum of (v >> shift) & 1 — the ±1 CASE is algebraically
    equivalent to 2·ones_j − n with n = count(*) riding the same agg,
    so the sign test becomes 2·Σbit_j ≥ n in the fingerprint fold.
    Fewer expression nodes per occurrence (1 conv vs 8 substr+instr,
    no CASE per bit) and a ~6× smaller driver-side expression tree
    (the py4j construction cost of this plan was measurable — ~0.5 s
    per build at ANY scale). Bit semantics unchanged: bit j reads hex
    nibble j div 4 of md5(token) (most-significant first), lsb-first
    within the nibble — identical fingerprints to the exploded form
    and to the DuckDB oracle (parity pinned by
    test_simhash_conv_form_matches_md5_model_multiword)."""
    nib_chars = bits // 4
    # 8 hex chars = 32 bits per conv word (bigint-safe; conv of >15
    # chars would overflow the signed cast)
    n_words = (nib_chars + 7) // 8
    words = []
    for w in range(n_words):
        lo = 8 * w + 1
        ln = min(8, nib_chars - 8 * w)
        words.append(
            f"CAST(conv(substring(md5(token), {lo}, {ln}), 16, 10) AS BIGINT)"
            f" AS __v{w}"
        )
    vals = occ.selectExpr("doc", *words)

    def _shift(j: int) -> tuple[int, int]:
        c = j // 4  # hex char index within the whole prefix
        w, cc = c // 8, c % 8  # word index, char index within the word
        ln = min(8, nib_chars - 8 * w)  # chars in this word
        return w, (ln - 1 - cc) * 4 + (j % 4)

    sums = [
        # COUNT over a hash word, not COUNT(*): md5(NULL) is NULL, so a
        # NULL-token occurrence contributes to no bit sum — counting it
        # in __n would bias every sign test toward 0 where the old ±1
        # form was neutral (r17 advice). Current callers cannot emit
        # NULL tokens, but this core is documented for arbitrary
        # occurrence producers.
        "COUNT(__v0) AS __n",
        *[
            "SUM((__v{w} >> {s}) & 1) AS __s{j}".format(
                w=_shift(j)[0], s=_shift(j)[1], j=j
            )
            for j in range(bits)
        ],
    ]
    per_doc = vals.groupBy("doc").agg(
        *[F.expr(s) for s in sums[1:]], F.expr(sums[0])
    )
    # fingerprint = Σ bit_j · 2^j  (fits a bigint for bits ≤ 62);
    # bit j set ⇔ ±1-sum ≥ 0 ⇔ 2·ones_j ≥ n
    fold = " + ".join(
        f"(CASE WHEN 2 * __s{j} >= __n THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )
    return per_doc.selectExpr(
        "doc", f"CAST({fold} AS BIGINT) AS simhash"
    )


def embedding_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.99,
    block_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lsh_planes: int | None = None,
    lsh_seed: int = 7,
    dim: int | None = None,
    target_bucket_rows: int = 128,
    min_planes: int = 2,
    max_planes: int = 16,
    seeds: tuple[int, ...] | None = None,
    stats: "CorpusStats | None" = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs within a blocking key.

    Default blocking (``block_col=None``) computes a hyperplane-LSH
    bucket (similarity.lsh_bucket_col) — the scale path: near-identical
    vectors agree on every hyperplane sign, so true dups co-bucket and
    the join is O(Σ bucket²), never all-pairs.

    The plane count is SCALE-ADAPTIVE by default (``lsh_planes=None``):
    similarity.adaptive_n_planes picks the smallest p with
    target_bucket_rows · 2^p >= n, so bucket occupancy — and with it the
    within-bucket pair count per row — stays bounded as the corpus
    grows; a fixed plane count is quadratic in corpus size at fixed
    fan-out. Deriving n costs one count() job; pass ``lsh_planes``
    explicitly to skip it on a hot path, or pass ``stats`` (one shared
    stats.corpus_stats pass) so a COMPOSED pipeline pays a single
    corpus scan for every adaptive operator's scalars (r7 verdict #3).

    Recall caveat: a dup pair straddling a hyperplane (|dot| ≈ 0) lands
    in different buckets. ``seeds`` is the recall lever: pass several
    rotated plane seeds and the blocked join runs once per seed with the
    pair set unioned (a pair is found if ANY seed co-buckets it —
    recall 1-(1-r)^s for single-seed recall r), deduplicated before the
    exact re-score so each surviving pair is scored once.

    Passing an explicit ``block_col`` (a cluster/label column) keeps the
    same join shape with caller-supplied blocking. Cosine uses
    exact-decimal accumulation so pair scores are order- and
    engine-independent.

    ``max_bucket`` caps DEGENERATE buckets (r15 verdict #6): the
    adaptive plane count tunes occupancy, but hyperplanes cannot split
    IDENTICAL vectors — a megacluster of exact-duplicate embeddings
    (one image re-encoded 1M times) is h² in-bucket under EVERY seed.
    Buckets over the cap collapse to one pair-generating
    representative per EXACT VECTOR VALUE (grouped on the array
    itself — no hash, no collision risk), plus linear rep→member star
    pairs per collapsed identical-vector group, routed through the
    SAME exact-decimal rescore, so every emitted cosine — including
    the stars' — is bit-identical to the value the uncapped path
    computes for that pair (identical vectors ⇒ identical dot/norm
    subexpressions). Lossless for clustering: identical vectors have
    identical neighbors and identical scores, so a member's cross
    pair survives thresholding iff its rep's does, and the connected
    components / survivor sets equal the uncapped form exactly.
    Candidates per oversized bucket drop from h² to
    (#distinct vectors)² + h star edges. Embedding dedup usually runs
    AFTER exact dedup, but the operator contract must not rely on
    that (the cap is the in-operator guarantee)."""
    from .similarity import _fast_dot, adaptive_n_planes, lsh_bucket_col

    if dim is None and stats is not None:
        dim = stats.dim
    if dim is None:
        # a driver-side peek job; pass dim or stats on a hot path
        dim = len(emb.select(vec_col).head()[0])

    # Candidate pruning runs in primitive double math (codegen'd, ~10x
    # cheaper per pair than the boxed-decimal fold); the exact-decimal
    # cosine then re-scores only the survivors, so the OUTPUT is still
    # bit-identical: double cosine is within ~1e-13 of exact for unit-ish
    # vectors, and the prefilter keeps a 1e-9 margin below the threshold,
    # so no pair with exact cosine >= threshold can be pruned.
    # The fold stays a zip_with/aggregate lambda on purpose: unrolling
    # it into dim getItem products was measured (r6) to change NOTHING
    # at 2.9M candidate pairs — the join-side cost is row/array
    # materialization, not the arithmetic — while inflating every
    # fresh plan by ~2.5s of analysis/codegen. For truly pair-heavy
    # scale configurations use semantic_dedup_survivors_grouped, which
    # replaces the pair join with per-cluster BLAS gram matrices.
    vec = F.col(vec_col)
    fast_cosine = _fast_dot(F.col("va"), F.col("vb")) / (F.col("norm_a") * F.col("norm_b"))

    if block_col is not None:
        blks = [F.col(block_col)]
    else:
        if lsh_planes is None:
            # one job; pass lsh_planes or stats to skip
            n_rows = stats.n_rows if stats is not None else emb.count()
            lsh_planes = adaptive_n_planes(
                n_rows, target_bucket_rows, min_planes, max_planes
            )
        seed_list = tuple(seeds) if seeds else (lsh_seed,)
        blks = [
            lsh_bucket_col(F.col(vec_col), dim, n_planes=lsh_planes, seed=s)
            for s in seed_list
        ]
        # r17: the exact-decimal plane folds are the dominant per-row
        # cost of this operator (measured sf0.1: 1.9 s for the 2000-row
        # projection, single-task because the relation is one parquet
        # split) — widen the scan so the fold stage runs at cluster
        # parallelism (stats.fanout_parallel self-skips on wide scans).
        # The block_col path skips this: its bucket expression is a
        # plain column reference, nothing to widen here.
        from .stats import fanout_parallel

        emb = fanout_parallel(emb)

    # All seeds' bucket ids are computed in ONE scan and exploded to
    # (seed_idx, blk) rows, so multi-seed probing joins ONCE on the
    # composite key. The projection is tracked_persist'ed below because
    # the intended ReusedExchange between the two join sides does NOT
    # fire at runtime: Catalyst broadcasts one side, and the broadcast
    # build plans its own copy of the subtree, so the plane folds +
    # norms ran TWICE (measured r17: full query ≈ 2×pre + join). The
    # persist makes every consumer — both join sides and the max_bucket
    # branches — read the one materialization.
    from ..caching import tracked_persist
    from .similarity import dot_expr

    par = emb.sparkSession.sparkContext.defaultParallelism
    pre = emb.select(
        F.col(id_col).alias("id"),
        vec.alias("v"),
        F.posexplode(F.array(*blks)).alias("seed_idx", "blk"),
        F.sqrt(_fast_dot(vec, vec)).alias("norm"),  # once per ROW, not per pair
        # exact-decimal norm, ALSO once per row: the rescore below then
        # pays one decimal dot per surviving pair instead of three
        # (cosine_expr recomputes both norms per pair — measured 3x the
        # rescore wall at 10x scale). sqrt(dot_expr(v,v)) is the exact
        # subexpression cosine_expr uses, so the quotient is
        # BIT-IDENTICAL to cosine_expr's value.
        F.sqrt(dot_expr(vec, vec)).alias("norm_d"),
    )
    pre = tracked_persist(pre)
    stars = None
    if max_bucket is not None:
        cols = ["id", "v", "seed_idx", "blk", "norm", "norm_d"]
        big_keys = (
            pre.groupBy("seed_idx", "blk")
            .agg(F.count(F.lit(1)).alias("__bucket_n"))
            .filter(F.col("__bucket_n") > int(max_bucket))
            .select("seed_idx", "blk", F.lit(True).alias("__big"))
        )
        marked = pre.join(F.broadcast(big_keys), ["seed_idx", "blk"], "left")
        small = marked.filter(F.col("__big").isNull()).select(*cols)
        big = marked.filter(F.col("__big").isNotNull())
        # min() per column is deterministic: norm/norm_d are functions
        # of the grouping vector, only id varies within a group
        reps = big.groupBy("seed_idx", "blk", "v").agg(
            F.min("id").alias("id"),
            F.min("norm").alias("norm"),
            F.min("norm_d").alias("norm_d"),
        )
        pre = small.unionByName(reps.select(*cols))
        # identical-vector groups touching any oversized bucket emit
        # rep→member stars in place of their all-pairs clique; scored
        # through the same exact rescore below so the emitted cosine is
        # the uncapped pair's exact value. min-id rep keeps id_a < id_b
        star_members = big.select("v", "norm_d", "id").distinct()
        grp_rep = star_members.groupBy("v").agg(F.min("id").alias("rep"))
        stars = (
            star_members.join(grp_rep, "v")
            .filter(F.col("id") != F.col("rep"))
            .select(
                F.col("rep").alias("id_a"),
                F.col("id").alias("id_b"),
                F.col("v").alias("va"),
                F.col("v").alias("vb"),
                F.col("norm_d").alias("norm_da"),
                F.col("norm_d").alias("norm_db"),
            )
        )
    pre = pre.repartition(par, "seed_idx", "blk")
    a = pre.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        "seed_idx", "blk", F.col("norm").alias("norm_a"),
        F.col("norm_d").alias("norm_da"),
    )
    b = pre.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        "seed_idx", "blk", F.col("norm").alias("norm_b"),
        F.col("norm_d").alias("norm_db"),
    )
    cand = (
        a.join(b, ["seed_idx", "blk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(fast_cosine >= threshold - 1e-9)
        .select("id_a", "id_b", "va", "vb", "norm_da", "norm_db")
    )
    if stars is not None:
        # union BEFORE the pair dedup: an identical pair reachable both
        # through an under-cap bucket and a star must be scored once
        cand = cand.unionByName(stars)
    if len(blks) > 1 or stars is not None:
        # a pair co-bucketed under several seeds must be scored once
        cand = cand.dropDuplicates(["id_a", "id_b"])
    return (
        cand.withColumn(
            "cosine",
            dot_expr(F.col("va"), F.col("vb"))
            / (F.col("norm_da") * F.col("norm_db")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batches against a persisted signature store
# ---------------------------------------------------------------------------


def minhash_band_store(
    df: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Signature + band-key relation suitable for persisting as the
    corpus dedup index: one row per doc with its minhash columns and a
    band-key array. Because the hash family is md5-of-literal-seed,
    signatures computed tomorrow are comparable with signatures stored
    today — the property incremental dedup needs."""
    assert num_hashes % band_size == 0
    n_bands = num_hashes // band_size
    sig = minhash_signatures(df, num_hashes, text_col, id_col, shingle_n)
    band_keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"m{b * band_size + j}") for j in range(band_size)]
                )
            )
            for b in range(n_bands)
        ]
    )
    return sig.withColumn("bands", band_keys)


def _dedup_store_union(
    store: DataFrame, new_rows: DataFrame, key: str, broadcast_new: bool = True
) -> DataFrame:
    """store ∪ new batch with one row per ``key`` — the write-back side
    of every incremental dedup twin. An at-least-once replay (or a
    re-ingested id) presents rows already in the store; appending them
    blind grows the store with duplicates across replays (advisor r10).
    A key-wise dropDuplicates over the union would fix that but SHUFFLE
    the corpus-sized store every day — instead anti-join the store
    against the batch key set and union the batch's rows back: one
    store scan, the batch's version wins for re-ingested keys.

    ``broadcast_new`` (default True — daily batches are store-small)
    broadcasts the batch's key column into the anti-join; for a
    near-store-sized one-shot "batch" through the incremental API, pass
    False and the anti-join shuffles both sides instead of pushing a
    store-scale key set through the driver (the same knob
    simhash_cross_pairs carries, advisor r11).

    Semantics note (advisor r11): a key re-ingested with a CHANGED
    payload is silently adopted — the old row is dropped, no old-vs-new
    pair is emitted (the probes' id self-pair filter masks the
    comparison). That is the right contract for deterministic
    signatures over immutable payloads (this library's stores); a
    mutable-payload corpus needs a change-detection pass upstream."""
    keys = new_rows.select(key)
    if broadcast_new:
        keys = F.broadcast(keys)
    return store.join(keys, key, "left_anti").unionByName(new_rows)


def incremental_minhash_dedup(
    new_docs: DataFrame,
    store: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    broadcast_new: bool = True,
    max_bucket: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Dedup an arriving batch against the existing corpus index.

    Returns (pairs, updated_store):
      pairs — (new_id, existing_id, est_jaccard ≥ threshold); an empty
      `store` (or None) yields no pairs.
      updated_store — store ∪ the new batch's signatures (write this
      back; the next batch compares against it).

    Scale shape: only the NEW batch is shingled/hashed; the candidate
    join explodes band keys on both sides and meets on (band_idx,
    band_key) — the store side is a pre-computed narrow relation, so the
    daily cost is O(|batch|) hashing + one bucket join, never a corpus
    rescan. Within-batch duplicates are found by the same join applied
    batch-vs-batch (minhash_lsh_pairs).
    """
    # tracked (caching.py): released after the caller's action — in the
    # daily production loop, write `updated_store` out and reload it
    # rather than chaining unionByName over persisted batches, so
    # lineage and cached blocks stay bounded per day.
    new_store = tracked_persist(
        minhash_band_store(new_docs, num_hashes, band_size, text_col, id_col, shingle_n)
    )
    if store is None:
        # Pair-id types follow the doc-id type (string corpora exist);
        # a hard-coded bigint here would fail to union with later
        # batches' pairs.
        from pyspark.sql.types import DoubleType, StructField, StructType

        id_type = new_store.schema["doc"].dataType
        empty = new_store.sparkSession.createDataFrame(
            [],
            StructType(
                [
                    StructField("id_a", id_type),
                    StructField("id_b", id_type),
                    StructField("est_jaccard", DoubleType()),
                ]
            ),
        )
        return empty, new_store

    pairs = minhash_cross_pairs(
        new_store,
        store,
        num_hashes,
        threshold,
        broadcast_new=broadcast_new,
        max_bucket=max_bucket,
    )
    # one row per doc across replays/re-ingests, no store shuffle
    # (_dedup_store_union) — same contract as the media/embedding twins
    return pairs, _dedup_store_union(store, new_store, "doc", broadcast_new)


def minhash_cross_pairs(
    new_store: DataFrame,
    store: DataFrame,
    num_hashes: int = 16,
    threshold: float = 0.5,
    broadcast_new: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band-bucket pairs BETWEEN two signature stores (new batch vs
    existing index): id_a from ``new_store``, id_b from ``store``,
    est_jaccard ≥ threshold. The asymmetric half of incremental dedup —
    within-batch pairs come from minhash_pairs_from_store(new_store).
    With ``broadcast_new`` (the daily-ingest default) the small batch
    side's exploded bands broadcast, so the corpus-sized store NEVER
    shuffles — the probe is one broadcast hash join over the store's
    band scan (the same knob and rationale as simhash_cross_pairs;
    before r12 this relied on AQE size estimation, which a conservative
    store-side stat can defeat at scale). Disable for batch sizes near
    the store size.

    ``max_bucket`` is the cross-join sibling of the
    minhash_pairs_from_store cap: a degenerate STORE-side band bucket
    (h identical-boilerplate docs) scores h rows per matching batch
    doc; over the cap the store side collapses to one representative
    per full signature, so the probe scores (#signatures) rows
    instead. Pair-set contract: emitted est_jaccard values are
    unchanged (a collapsed member's signature equals its rep's), and
    the batch doc still reaches every affected CLUSTER — same-signature
    store members were pairwise connected when they were themselves
    ingested through this loop (within-batch star / earlier cross
    pairs), so connecting to the rep connects to the cluster. The
    equivalence assumes the store's history went through the dedup
    loop; a store seeded with never-connected identical docs would
    need one bootstrap pass of minhash_pairs_from_store over it."""

    # Each side carries its signature as ONE array column. Sixteen
    # per-column renames (m_i AS b_i) over a store whose bands/sig_key
    # columns are expressions of every m_i made the optimizer's
    # constraint propagation double its constraint set once per rename:
    # planning the capped probe took 15-45 s at any input size. Indexed
    # element reads keep the match count codegen'd.
    sig_cols = [F.col(f"m{i}") for i in range(num_hashes)]

    def banded(s: DataFrame, prefix: str) -> DataFrame:
        return s.select(
            F.col("doc").alias(f"{prefix}_doc"),
            F.posexplode("bands").alias("band_idx", "band_key"),
            F.array(*sig_cols).alias(f"{prefix}_sig"),
        )

    a = banded(new_store, "a")
    if broadcast_new:
        a = F.broadcast(a)
    b = banded(store, "b")
    if max_bucket is not None:
        big_keys = (
            b.groupBy("band_idx", "band_key")
            .agg(F.count(F.lit(1)).alias("__bucket_n"))
            .filter(F.col("__bucket_n") > int(max_bucket))
            .select("band_idx", "band_key", F.lit(True).alias("__big"))
        )
        # a store-borne sig_key column (the write-once narrow-scan
        # optimization — see minhash_pairs_from_store's IO note) rides
        # the banded explode; derive inline from the signature otherwise
        # (concat_ws over the array joins the same strings as over the
        # m-columns)
        if "sig_key" in store.columns:
            keyed = store.select(
                F.col("doc").alias("b_doc"),
                F.col("sig_key").alias("__sig_key"),
                F.posexplode("bands").alias("band_idx", "band_key"),
                F.array(*sig_cols).alias("b_sig"),
            )
        else:
            keyed = b.select(
                "*", F.md5(F.concat_ws("|", F.col("b_sig"))).alias("__sig_key")
            )
        marked = keyed.join(
            F.broadcast(big_keys), ["band_idx", "band_key"], "left"
        )
        small = marked.filter(F.col("__big").isNull()).drop("__big", "__sig_key")
        # min() per column is deterministic here: the signature is
        # constant within a (band, signature) group, only b_doc varies
        reps = (
            marked.filter(F.col("__big").isNotNull())
            .groupBy("band_idx", "band_key", "__sig_key")
            .agg(F.min("b_doc").alias("b_doc"), F.min("b_sig").alias("b_sig"))
            .drop("__sig_key")
        )
        b = small.unionByName(reps.select(*small.columns))
    matches = sum(
        F.when(F.col("a_sig")[i] == F.col("b_sig")[i], 1).otherwise(0)
        for i in range(num_hashes)
    )
    return (
        a.join(b, ["band_idx", "band_key"])
        # a doc present on BOTH sides (an at-least-once replay whose
        # earlier attempt already registered the batch in the store, or
        # a re-ingested id) must not emit a spurious (X, X) self-pair
        .filter(F.col("a_doc") != F.col("b_doc"))
        .select(
            F.col("a_doc").alias("id_a"),
            F.col("b_doc").alias("id_b"),
            (matches / F.lit(float(num_hashes))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .distinct()
    )


def simhash_near_pairs(
    fingerprints: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    id_col: str = "doc",
    fp_col: str = "simhash",
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Pigeonhole block index: split the fingerprint into (max_hamming+1)
    bit blocks — any pair within the distance bound must agree exactly
    on ≥1 block, so candidates come from equality joins on
    (block_idx, block_value) instead of an all-pairs scan. The exact
    Hamming filter (bit_count of xor) then prunes false candidates.
    This is the standard web-scale simhash dedup shape: the block join
    is O(Σ bucket²) on 8-bit buckets, never O(n²).

    ``max_bucket`` caps DEGENERATE pigeonhole buckets — the simhash
    sibling of the minhash_pairs_from_store cap (r15 verdict #2). At
    32-bit/4-block each block has only 2^8 values, so background
    occupancy alone is n/256 per bucket (64-bit widens that — "width
    is the scale knob" — but width cannot split a megacluster of
    IDENTICAL fingerprints: 1M copies of one image is h² candidates
    per block regardless). Buckets over the cap collapse to ONE
    pair-generating representative per FULL fingerprint, plus linear
    rep→member STAR pairs per collapsed identical-fingerprint group.
    Unlike minhash (where est_jaccard 1.0 merely clears any
    threshold), the collapse here is LOSSLESS BY IDENTITY: identical
    fingerprints have hamming 0 — star pairs carry the exact distance
    — and a member's hamming to any third doc equals its rep's
    (xor against equal fingerprints), so:

    - buckets at or under the cap are untouched — no oversized bucket
      ⇒ output bit-identical to the uncapped form (parity pytest);
    - in oversized buckets the same-fingerprint all-pairs clique is
      replaced by its star (hamming 0, exact) and cross-fingerprint
      pairs are emitted between representatives only — the PAIR SET
      shrinks but every emitted hamming is exact and the connected
      components / survivor sets are EXACTLY the uncapped ones;
    - candidate volume per oversized bucket drops from h² to
      (#distinct fingerprints)² + h star edges.

    The per-bucket counts are one map-side-combined aggregation over
    the block projection, and only the OVERSIZED keys join back,
    broadcast (at most block_rows/max_bucket of them by construction).
    No sig_key derivation is needed — the fingerprint column itself is
    the full-signature key, which is why this cap is cheaper than its
    minhash sibling.
    """
    exploded = _simhash_blocks(fingerprints, max_hamming, bits, id_col, fp_col)
    stars = None
    if max_bucket is not None:
        big_keys = (
            exploded.groupBy("bi", "bv")
            .agg(F.count(F.lit(1)).alias("__bucket_n"))
            .filter(F.col("__bucket_n") > int(max_bucket))
            .select("bi", "bv", F.lit(True).alias("__big"))
        )
        # same six-branch fan-out as the minhash cap (r18): persist the
        # narrow (doc, fp, bi, bv, __big) block stream so the upstream
        # fingerprint aggregation + block explode + count/broadcast-join
        # run once instead of per branch
        marked = tracked_persist(
            exploded.join(F.broadcast(big_keys), ["bi", "bv"], "left")
        )
        small = marked.filter(F.col("__big").isNull()).select(
            "doc", "fp", "bi", "bv"
        )
        big = marked.filter(F.col("__big").isNotNull())
        reps = big.groupBy("bi", "bv", "fp").agg(F.min("doc").alias("doc"))
        exploded = small.unionByName(reps.select("doc", "fp", "bi", "bv"))
        # identical-fingerprint groups touching any oversized bucket
        # emit rep→member stars (linear, hamming 0 exact) in place of
        # their all-pairs clique; min-doc rep keeps id_a < id_b
        star_members = big.select("fp", "doc").distinct()
        grp_rep = star_members.groupBy("fp").agg(F.min("doc").alias("rep"))
        stars = (
            star_members.join(grp_rep, "fp")
            .filter(F.col("doc") != F.col("rep"))
            .select(
                F.col("rep").alias("id_a"),
                F.col("doc").alias("id_b"),
                F.col("fp").alias("fp_a"),
                F.col("fp").alias("fp_b"),
            )
        )
    a = exploded.select(
        F.col("doc").alias("id_a"), F.col("fp").alias("fp_a"), "bi", "bv"
    )
    b = exploded.select(
        F.col("doc").alias("id_b"), F.col("fp").alias("fp_b"), "bi", "bv"
    )
    cand = (
        a.join(b, ["bi", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fp_a", "fp_b")
    )
    if stars is not None:
        # union BEFORE the distinct: a same-fingerprint pair reachable
        # through both a small bucket and a star must emit once
        cand = cand.unionByName(stars)
    return (
        cand.distinct()
        .withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming"))
    )


def _simhash_blocks(
    fingerprints: DataFrame,
    max_hamming: int,
    bits: int,
    id_col: str,
    fp_col: str,
) -> DataFrame:
    """(doc, fp, bi, bv) pigeonhole block rows — the shared explode of
    simhash_near_pairs/simhash_cross_pairs."""
    n_blocks = max_hamming + 1
    block_bits = bits // n_blocks
    mask = (1 << block_bits) - 1
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("block_idx"),
                F.shiftright(F.col(fp_col), i * block_bits)
                .bitwiseAND(mask)
                .alias("block_val"),
            )
            for i in range(n_blocks)
        ]
    )
    return fingerprints.select(
        F.col(id_col).alias("doc"),
        F.col(fp_col).alias("fp"),
        F.explode(blocks).alias("b"),
    ).select(
        "doc", "fp", F.col("b.block_idx").alias("bi"), F.col("b.block_val").alias("bv")
    )


def simhash_cross_pairs(
    new_fp: DataFrame,
    store: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    id_col: str = "doc",
    fp_col: str = "simhash",
    broadcast_new: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """Hamming-ball pairs BETWEEN two fingerprint relations (arriving
    batch vs persisted index): id_a from ``new_fp``, id_b from
    ``store``, hamming ≤ max_hamming — the asymmetric half of
    incremental media dedup (within-batch pairs come from
    simhash_near_pairs over the batch alone).

    Scale shape: both sides explode to (max_hamming+1) pigeonhole block
    rows and meet on (block_idx, block_value); with ``broadcast_new``
    (the daily-ingest default) the small batch side broadcasts, so the
    corpus-sized store NEVER shuffles — the probe is one broadcast hash
    join over the store's block scan, the index analog of
    minhash_cross_pairs. Disable for batch sizes near the store size
    (one-shot-corpus territory — use simhash_near_pairs instead).

    ``max_bucket`` is the cross-probe sibling of the simhash_near_pairs
    cap: a degenerate STORE-side pigeonhole bucket (h identical
    fingerprints) Hamming-checks h rows per matching batch doc; over
    the cap the store side collapses to one representative per FULL
    fingerprint, so the probe checks (#fingerprints) rows instead.
    Emitted hamming values are exact (a collapsed member's fingerprint
    equals its rep's), and the batch doc still reaches every affected
    CLUSTER — same-fingerprint store members were pairwise connected
    (hamming 0) when they were themselves ingested through this loop.
    Same bootstrap precondition as minhash_cross_pairs: the
    equivalence assumes the store's history went through the dedup
    loop; a store SEEDED with never-connected identical fingerprints
    would need one bootstrap pass of simhash_near_pairs over it."""
    a = _simhash_blocks(new_fp, max_hamming, bits, id_col, fp_col).select(
        F.col("doc").alias("id_a"), F.col("fp").alias("fp_a"), "bi", "bv"
    )
    if broadcast_new:
        a = F.broadcast(a)
    b = _simhash_blocks(store, max_hamming, bits, id_col, fp_col).select(
        F.col("doc").alias("id_b"), F.col("fp").alias("fp_b"), "bi", "bv"
    )
    if max_bucket is not None:
        big_keys = (
            b.groupBy("bi", "bv")
            .agg(F.count(F.lit(1)).alias("__bucket_n"))
            .filter(F.col("__bucket_n") > int(max_bucket))
            .select("bi", "bv", F.lit(True).alias("__big"))
        )
        marked = b.join(F.broadcast(big_keys), ["bi", "bv"], "left")
        small = marked.filter(F.col("__big").isNull()).select(
            "id_b", "fp_b", "bi", "bv"
        )
        # the fingerprint IS the full-signature key — no sig_key column
        # to derive (cheaper than the minhash cross cap)
        reps = (
            marked.filter(F.col("__big").isNotNull())
            .groupBy("bi", "bv", "fp_b")
            .agg(F.min("id_b").alias("id_b"))
        )
        b = small.unionByName(reps.select("id_b", "fp_b", "bi", "bv"))
    return (
        a.join(b, ["bi", "bv"])
        # same-doc-on-both-sides guard (at-least-once replay / re-ingest
        # — see minhash_cross_pairs): never emit a self-pair
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", "fp_a", "fp_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming"))
    )


def incremental_media_dedup(
    new_media: DataFrame,
    store: DataFrame | None,
    max_hamming: int = 3,
    bits: int = 32,
    gram_bytes: int = 4,
    id_col: str = "media_id",
    content_col: str = "content",
    broadcast_new: bool = True,
    max_bucket: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Dedup an arriving media batch against the persisted fingerprint
    index — the media twin of incremental_minhash_dedup /
    incremental_embedding_dedup, completing the incremental family
    across the three modalities.

    Returns (pairs, updated_store): pairs = (new_id, existing_id,
    hamming ≤ max_hamming), new-vs-store only; updated_store = store ∪
    the batch's fingerprints (one (doc, simhash) row per payload —
    write it back for tomorrow). The store relation is exactly what
    media_byte_fingerprints emits, so a corpus fingerprinted once is
    probed forever; only the NEW batch pays the byte-gram explode.
    SimHash fingerprints are seed-free md5 folds, so signatures
    computed tomorrow are comparable with signatures stored today —
    the same portability contract as the minhash band store.

    ``max_bucket`` forwards to simhash_cross_pairs' store-side
    degenerate-bucket cap, including its bootstrap precondition (the
    store's history went through this loop)."""
    new_fp = tracked_persist(
        media_byte_fingerprints(
            new_media,
            bits=bits,
            gram_bytes=gram_bytes,
            id_col=id_col,
            content_col=content_col,
        )
    )
    if store is None:
        return (
            new_fp.select(
                F.col("doc").alias("id_a"),
                F.col("doc").alias("id_b"),
                F.lit(0).cast("bigint").alias("hamming"),
            ).filter(F.lit(False)),
            new_fp,
        )
    pairs = simhash_cross_pairs(
        new_fp,
        store,
        max_hamming,
        bits,
        broadcast_new=broadcast_new,
        max_bucket=max_bucket,
    )
    return pairs, _dedup_store_union(store, new_fp, "doc", broadcast_new)


def bow_cosine_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.99,
    max_df: int | None = None,
    min_shared_terms: int = 1,
) -> DataFrame:
    """Near-duplicate pairs by exact bag-of-words cosine similarity.

    The dot product accumulates only over SHARED terms, so it is computed
    as a term-keyed self-join of the (doc, term, tf) relation — one
    shuffle on term, never an all-pairs cross join. The join fan-out is
    sum(df^2) over terms, which stopword-frequency terms dominate; at
    corpus scale pass ``max_df`` to generate candidate pairs from rare
    terms only (sum over df<=max_df is near-linear) and the full vectors
    are then re-joined per candidate pair, so reported scores stay EXACT
    — only recall is traded (pairs sharing nothing but ultra-common
    terms are missed, which for near-dup detection is the desired cut).

    ``min_shared_terms`` (df-bounded path only) prunes candidates to
    pairs sharing at least that many distinct rare terms before the
    exact rescore. On a Zipfian corpus most of the candidate set is
    pairs that coincide on a single hapax; a high-cosine near-dup
    shares dozens of rare terms, so ≥2 cuts the rescore fan-out by an
    order of magnitude at negligible recall cost — the same
    "minimum shared features" rule LSH banding applies structurally.

    Determinism: tf/df/dot/norms are exact BIGINTs; the score performs
    sqrt and divide on doubles — both exactly rounded IEEE ops, so the
    result is bit-identical across engines and partitionings. Norms are
    multiplied as sqrt(na)*sqrt(nb) (not sqrt(na*nb)) so the bigint
    product cannot exceed 2^53 on large documents.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_col(text_col)).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    norms = tf.groupBy("doc_id").agg(F.sum(F.col("tf") * F.col("tf")).alias("n2"))
    left = tf.select(
        F.col("doc_id").alias("id_a"), "term", F.col("tf").alias("tf_a")
    )
    right = tf.select(
        F.col("doc_id").alias("id_b"), "term", F.col("tf").alias("tf_b")
    )
    if max_df is None:
        dots = (
            left.join(right, "term")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
        )
    else:
        rare = (
            tf.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("term")
        )
        cand = (
            left.join(rare, "term")
            .select("id_a", "term")
            .join(right.join(rare, "term").select("id_b", "term"), "term")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("__shared"))
            .filter(F.col("__shared") >= min_shared_terms)
            .select("id_a", "id_b")
        )
        # exact rescore: full vectors re-joined per candidate pair
        dots = (
            cand.join(left.select("id_a", "term", "tf_a"), "id_a")
            .join(right, ["id_b", "term"])
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
        )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("n2").alias("n2_a"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("n2").alias("n2_b"))
    cos = (
        F.col("dot").cast("double")
        / (F.sqrt(F.col("n2_a").cast("double")) * F.sqrt(F.col("n2_b").cast("double")))
    )
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def bench_shingle_set(
    bench: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """The benchmark's DISTINCT shingle relation (one ``feat`` column) —
    the broadcast side of every contamination check. Exposed so
    repeated consumers scoring several batches against the same eval
    set compute and persist it once instead of re-shingling the
    benchmark per batch."""
    return exploded_shingles(bench, text_col, id_col, n).select("feat").distinct()


def contamination_scores(
    docs: DataFrame,
    bench: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bench_shingles: DataFrame | None = None,
) -> DataFrame:
    """Benchmark-contamination check: for every training document, the
    fraction of its distinct n-gram shingles that also appear in the
    benchmark/eval set — the decontamination pass every serious training
    pipeline runs before the corpus ships.

    Shape at scale: training shingles are the linear exploded_shingles
    relation; the benchmark side collapses to its DISTINCT shingle set
    (eval suites are tiny relative to the corpus, so the join
    broadcasts); one hash-agg per side. Scores are exact integer ratios
    (one exactly-rounded division), so thresholding is reproducible.

    ``bench_shingles``: precomputed :func:`bench_shingle_set` relation;
    when given, ``bench`` is ignored (pass None) — a repeat-scoring
    caller builds the set once and reuses it."""
    train_sh = exploded_shingles(docs, text_col, id_col, n)
    if bench_shingles is not None:
        bench_sh = bench_shingles
    else:
        if bench is None:
            raise ValueError("need bench or bench_shingles")
        bench_sh = bench_shingle_set(bench, text_col, id_col, n)
    sizes = train_sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        train_sh.join(F.broadcast(bench_sh), "feat")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        sizes.join(hits, "doc", "left")
        .select(
            "doc",
            "n_shingles",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.col("n_shingles")
            ).alias("contamination"),
        )
    )


def decontaminate(
    docs: DataFrame,
    bench: DataFrame | None,
    threshold: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bench_shingles: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination as an ACTION: drop every training
    document whose eval-set shingle overlap reaches ``threshold`` —
    the removal step on top of :func:`contamination_scores`'
    measurement, the same measure→act pairing as repeated_ngram_stats
    → remove_duplicated_spans (r9 verdict #6).

    Returns ``docs`` with all columns intact, minus contaminated rows.
    A document with no n-gram shingles (shorter than ``n`` tokens) or
    with ZERO eval-set hits is trivially clean — the n_hits > 0 guard
    makes threshold=0.0 the GPT-3/PaLM-style strict rule ("drop on any
    overlap") instead of vacuously dropping the whole corpus (a
    zero-overlap doc scores contamination 0.0, which >= 0.0 alone
    would catch); a document at EXACTLY a positive threshold is
    dropped (>= semantics).

    Scale shape: contamination scoring is one broadcast join of the
    linear training-shingle stream against the benchmark's distinct
    shingle set (eval suites are tiny relative to the corpus) plus a
    doc-keyed hash-agg; the removal is one left_anti join on the
    contaminated id set — no second pass over text. Composes into any
    prep pipeline as a predicate stage between normalization and
    dedup (test_decontaminate_composes_into_prep pins the v4-shape
    composition). ``bench_shingles`` as in :func:`contamination_scores`
    (precomputed set; ``bench`` may then be None)."""
    contaminated = (
        contamination_scores(
            docs,
            bench,
            id_col=id_col,
            text_col=text_col,
            n=n,
            bench_shingles=bench_shingles,
        )
        .filter((F.col("n_hits") > 0) & (F.col("contamination") >= threshold))
        .select(F.col("doc").alias(id_col))
    )
    return docs.join(contaminated, id_col, "left_anti")


def semantic_dedup_survivors(
    emb: DataFrame,
    centroids,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    pruned_assign: bool = False,
    seed: int = 7,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023 shape):
    cluster the embedding space with a k-means codebook, then inside
    each cluster drop every vector whose cosine to ANY lower-id cluster
    member reaches the threshold — one deterministic representative
    (the minimum id) survives per near-duplicate neighborhood.

    The paper keeps an arbitrary/centroid-farthest member per epsilon-
    ball; min-id is the engine-portable choice (no float tiebreaks).
    The drop rule is greedy-by-id, evaluated against ALL lower-id
    members (dropped or not), so it needs no iteration: membership is
    one blocked pair join, never a sequential scan.

    Scale shape: cluster assignment is a scan-side Column argmin against
    broadcast-by-value centroid literals (ivf.assign_cluster); the pair
    step reuses embedding_dup_pairs with the cluster as the blocking
    key, so pair work is O(sum cluster^2) bounded by codebook size — at
    100 TB you raise n_centroids (paper uses ~100k clusters) to keep
    cluster occupancy flat, exactly like the adaptive LSH plane count.
    BUT flat assignment is O(k·dim) per row, so k ∝ n makes the assign
    stage itself quadratic (measured: alpha 1.08 at 10×) — pass
    ``pruned_assign=True`` (requires ``dim``) for the hierarchical
    LSH-pruned assignment (ivf.assign_cluster_pruned) whose per-row
    cost stays O(target_cands·dim) regardless of k; that is the 100 TB
    configuration. Survivors come back via one left_anti join on id.

    Returns (id, sem_cluster) survivors. For the vectorized scale
    twin (numpy assignment + per-cluster BLAS gram pairs, no pair
    join) see semantic_dedup_survivors_grouped.
    """
    from ..caching import tracked_persist
    from .ivf import assign_cluster, assign_cluster_pruned
    from .stats import fanout_parallel

    if pruned_assign:
        if dim is None:
            raise ValueError("pruned_assign requires dim")
        assigned = assign_cluster_pruned(F.col(vec_col), centroids, dim=dim, seed=seed)
    else:
        assigned = assign_cluster(F.col(vec_col), centroids)
    # r17: the exact-decimal argmin is ~0.6 ms/row and the plan
    # evaluated it THREE times (both pair-join sides + the survivor
    # join-back), each single-task on sf0.1's one-split scan — widen
    # the scan so the argmin runs distributed, and persist so every
    # consumer reads the one materialization (measured 3.9 → ~1.5 s
    # isolated; output unchanged — persist/repartition are
    # semantics-free and the min-id survivor rule is order-independent)
    indexed = tracked_persist(
        fanout_parallel(emb).withColumn("sem_cluster", assigned)
    )
    pairs = embedding_dup_pairs(
        indexed,
        threshold=threshold,
        block_col="sem_cluster",
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return indexed.join(dropped, id_col, "left_anti").select(id_col, "sem_cluster")


def assign_clusters_vectorized(
    centroids,
    dim: int,
    n_planes: int | None = None,
    seed: int = 7,
    target_cands: int = 16,
):
    """Arrow-batched (pandas_udf) twin of ivf.assign_cluster_pruned.

    Returns a callable usable as ``emb.withColumn("c", f(F.col(vec)))``.
    Same pruning scheme — hyperplane-LSH bucket over vector AND
    centroids, argmin within the bucket's candidate set, ``-1 - bucket``
    fallback for empty buckets — but executed as numpy batch linear
    algebra: bucket bits from one V @ planesᵀ matmul, distances from
    ‖v‖² + ‖c‖² − 2·V @ Cᵀ masked to the bucket's candidates. Per-row
    cost is a BLAS row, ~100-1000x cheaper than the interpreted
    per-element Column evaluation (r6 profile: the Column form spent
    ~3 ms/row just traversing candidate structs — the math was never
    the bottleneck). float64 math: a ~1e-14 plane or argmin near-tie
    can differ from the exact-decimal Column form, so keep the Column
    form wherever a cross-engine oracle re-derives the assignment; this
    is the 100 TB hot path (see semantic_dedup_survivors_grouped).
    """
    import math

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from .similarity import _planes

    C = np.asarray(centroids, dtype=np.float64)
    k = len(C)
    if n_planes is None:
        n_planes = max(0, math.ceil(math.log2(max(k / target_cands, 1))))
    planes = _planes(dim, n_planes, seed) if n_planes else np.zeros((0, dim))
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    cbuckets = ((C @ planes.T >= 0) @ weights).astype(np.int64) if n_planes else np.zeros(k, dtype=np.int64)
    nb = 1 << n_planes
    mask = np.zeros((nb, k), dtype=bool)
    mask[cbuckets, np.arange(k)] = True
    cnorm2 = (C * C).sum(axis=1)

    @pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        # Arrow can hand a ZERO-ROW batch (empty partition / empty
        # filter residue): np.stack([]) raises, so short-circuit. Null
        # vectors get an explicit error — a silent sentinel cluster
        # would quietly exclude those rows from dedup; the caller must
        # filter or impute nulls deliberately.
        if len(vs) == 0:
            return pd.Series([], dtype="int32")
        if vs.isna().any():
            raise ValueError(
                "assign_clusters_vectorized: null embedding in batch — "
                "filter null vectors (or impute) before cluster "
                "assignment; a silent sentinel would drop them from "
                "semantic dedup"
            )
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        if n_planes:
            vb = ((V @ planes.T >= 0) @ weights).astype(np.int64)
        else:
            vb = np.zeros(len(V), dtype=np.int64)
        d = (V * V).sum(axis=1)[:, None] + cnorm2[None, :] - 2.0 * (V @ C.T)
        allowed = mask[vb]
        d = np.where(allowed, d, np.inf)
        best = d.argmin(axis=1)
        has = allowed.any(axis=1)
        return pd.Series(np.where(has, best, -1 - vb).astype(np.int32))

    return assign


def semantic_dedup_survivors_grouped(
    emb: DataFrame,
    centroids,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    seed: int = 7,
    n_planes: int | None = None,
    target_cands: int = 16,
    max_cluster_rows: int = 65_536,
    stats: CorpusStats | None = None,
) -> DataFrame:
    """SemDeDup scale twin: vectorized assignment + per-cluster BLAS
    gram matrices instead of a pair join.

    Same semantics as :func:`semantic_dedup_survivors` (drop every
    vector whose cosine to ANY lower-id cluster member reaches the
    threshold; min-id survives), but the within-cluster pair step runs
    as ONE applyInPandas over each cluster group: sort by id, normalize
    rows, G = V̂ V̂ᵀ, a vector is dropped iff any strict-upper-triangle
    entry in its column reaches the threshold. This is the shape the
    SemDeDup paper itself computes (per-cluster gram matrices on
    accelerators — Abbas et al. 2023, §3) and it removes the dominant
    10x-scale cost of the join formulation, which was materializing
    millions of (va, vb) array-pair rows only to filter them (r6
    profile: ~11 s of the 22 s total; the arithmetic was negligible).

    Scale shape: one shuffle on sem_cluster; per-group work is
    O(occupancy²) BLAS flops and O(occupancy²) bools of memory — with
    k ∝ n the occupancy is a constant you choose (256 rows ≈ 0.5 MB of
    gram per group). ``max_cluster_rows`` guards the degenerate case (a
    cluster so hot its gram would not fit an executor — raise
    n_centroids, or fix the codebook); the guard RAISES rather than
    silently truncating.

    float64 scores (deterministic per platform/BLAS, not engine-
    portable): the exact-decimal join form remains the driver-oracle
    twin at fixed scale; the scaling bench runs THIS form because at
    10x+ the join form's materialization cost is the measurement.

    Returns (id, sem_cluster) survivors like the exact form.
    """
    import numpy as np

    if dim is None and stats is not None:
        dim = stats.dim
    if dim is None:
        dim = len(emb.select(vec_col).head()[0])
    assign = assign_clusters_vectorized(
        centroids, dim=dim, n_planes=n_planes, seed=seed, target_cands=target_cands
    )
    assigned = emb.select(
        F.col(id_col), F.col(vec_col), assign(F.col(vec_col)).alias("sem_cluster")
    )
    id_type = assigned.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, sem_cluster int"

    def drop_group(pdf):
        import pandas as pd

        if len(pdf) > max_cluster_rows:
            raise ValueError(
                f"sem_cluster group of {len(pdf)} rows exceeds "
                f"max_cluster_rows={max_cluster_rows}; raise n_centroids "
                "(k ∝ n keeps occupancy flat) or max_cluster_rows"
            )
        pdf = pdf.sort_values(id_col)
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        norms = np.sqrt((V * V).sum(axis=1))
        norms[norms == 0.0] = np.inf  # zero vectors: cosine undefined → never dup
        Vn = V / norms[:, None]
        G = Vn @ Vn.T
        dropped = np.triu(G >= threshold, k=1).any(axis=0)
        return pdf.loc[~dropped, [id_col, "sem_cluster"]]

    return assigned.groupBy("sem_cluster").applyInPandas(drop_group, out_schema)


def repeated_ngram_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Per-document duplicated n-gram-SPAN statistics — the window-level
    analog of exact-substring training-data dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a
    window is 'duplicated' iff its n-token shingle occurs in at least
    one OTHER document, and a document's dup_fraction is the share of
    its windows that are duplicated. Within-doc repetition is
    deliberately excluded (that is text.repetition_stats' job) — this
    measures cross-document boilerplate/contamination at span level,
    finer than line_dedup's exact lines.

    Unlike exploded_shingles this keeps EVERY window position (no
    distinct): the fraction weighs a shingle by how often the doc uses
    it. Linear shape: one tokenize per doc with ROW-LOCAL window
    construction (r17, guide §2.4: the windows are slices of the
    per-row token array — transform(sequence)+slice, the winnowing
    array-space pattern — where the previous lead()-window form paid a
    partition-by-doc shuffle AND a per-doc sort, twice, since this
    relation feeds both the df agg and the join-back branch), one
    groupBy on the shingle for the document-frequency, one join back.
    At 100 TB the shingle df agg is the big shuffle — same key
    distribution as every shingle pipeline here, and the join back is
    shuffle-on-shingle too, so AQE can co-plan them.

    Output: (id, n_windows, n_dup_windows, dup_fraction) — one row per
    input document, zeros for docs shorter than n tokens.
    """
    from .text import tokens_col

    par = df.sparkSession.sparkContext.defaultParallelism
    toks = df.repartition(par).select(
        F.col(id_col).alias("doc"), tokens_col(text_col).alias("__t")
    )
    # one n-token window string per start position, built in-row; docs
    # shorter than n yield an empty array (sequence() must be guarded:
    # a stop below the start would count DOWN, not return empty)
    windows = toks.select(
        "doc",
        F.explode(
            F.expr(
                f"CASE WHEN size(__t) >= {n} THEN "
                f"transform(sequence(1, size(__t) - {n - 1}), "
                f"i -> array_join(slice(__t, i, {n}), ' ')) "
                "ELSE CAST(array() AS array<string>) END"
            )
        ).alias("feat"),
    )
    docs_per_feat = windows.groupBy("feat").agg(
        F.count_distinct("doc").alias("n_docs")
    )
    flagged = windows.join(docs_per_feat, "feat").select(
        "doc", (F.col("n_docs") >= 2).cast("int").alias("is_dup")
    )
    per_doc = flagged.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("is_dup").cast("bigint").alias("n_dup_windows"),
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, F.col(id_col) == F.col("doc"), "left")
        .select(
            F.col(id_col),
            F.coalesce("n_windows", F.lit(0)).cast("bigint").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("bigint").alias("n_dup_windows"),
            F.when(
                F.coalesce("n_windows", F.lit(0)) > 0,
                F.col("n_dup_windows") / F.col("n_windows"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_fraction"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Cross-document exact-substring span REMOVAL — the action step on
    top of :func:`repeated_ngram_stats`' measurement (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    token covered by an n-token window whose shingle occurs in ≥ 2
    distinct documents is cut from the document, UNLESS the document is
    the shingle's canonical owner (minimum doc id) — each duplicated
    span survives exactly once corpus-wide, the paper's keep-one rule
    made deterministic. Within-doc repetition is untouched (the
    canonical doc keeps every occurrence; that axis is
    text.repetition_stats' job), and overlapping duplicated windows
    merge into one cut region, so adjacent survivors splice — the same
    artifact the paper documents.

    Shape at scale (all linear, no pair fan-out): the tokenize +
    in-row window prefix runs TWICE — once under the shingle hash-agg
    for (df, canonical), once on the cut side of the join — the same
    2×-scan-over-persist trade line_dedup documents (persisting the
    window relation would hold O(corpus tokens)). Window strings are
    built ROW-LOCALLY from the token array (r17, guide §2.4:
    transform-with-index + slice — the previous lead()-window form
    paid a partition-by-doc shuffle and a per-doc sort on BOTH
    branches purely to assemble them); the join back is
    shuffle-on-shingle, position coverage is a single rows-between max
    over the per-doc sort (posexplode emits dense positions, so row
    frames equal position frames — no n× explode of covered
    positions), and reassembly is one ordered hash-agg per doc. The
    shingle agg + join shuffle full window strings like every shingle
    pipeline here; hashing feats to 64 bits would cut that volume but
    admits birthday-collision over-cutting at 10^12-shingle scale, so
    the exact strings stay.

    Output: (doc_id, clean_text, n_tokens_kept, n_tokens_removed) —
    one row per input document (anchored on the input ids: zero-token
    docs and docs cut to nothing keep a row with clean_text = '').
    """
    from pyspark.sql import Window

    from .text import tokens_col

    par = df.sparkSession.sparkContext.defaultParallelism
    toks = df.repartition(par).select(
        F.col(id_col).alias("doc"), tokens_col(text_col).alias("__t")
    )
    # (pos, token, feat): feat is the n-token window STARTING at pos,
    # NULL where fewer than n tokens remain — one posexplode of an
    # in-row struct array, no lead() window, no per-doc sort
    wins = toks.select(
        "doc",
        F.posexplode(
            F.expr(
                "transform(__t, (tok, i) -> struct(tok AS token, "
                f"CASE WHEN i + {n} <= size(__t) THEN "
                f"array_join(slice(__t, i + 1, {n}), ' ') END AS feat))"
            )
        ).alias("pos", "__w"),
    ).select("doc", "pos", F.col("__w.token").alias("token"), F.col("__w.feat").alias("feat"))
    feat_stats = (
        wins.filter(F.col("feat").isNotNull())
        .groupBy("feat")
        .agg(
            F.count_distinct("doc").alias("n_docs"),
            F.min("doc").alias("canon"),
        )
    )
    flagged = wins.join(feat_stats, "feat", "left").select(
        "doc",
        "pos",
        "token",
        (
            F.col("feat").isNotNull()
            & (F.col("n_docs") >= 2)
            & (F.col("doc") != F.col("canon"))
        )
        .cast("int")
        .alias("dup_start"),
    )
    cover = Window.partitionBy("doc").orderBy("pos").rowsBetween(-(n - 1), 0)
    kept = flagged.withColumn("cut", F.max("dup_start").over(cover)).filter(
        F.col("cut") == 0
    )
    kept_agg = kept.groupBy("doc").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token"))),
                lambda s: s.getField("token"),
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("bigint").alias("n_tokens_kept"),
    )
    all_docs = df.select(
        F.col(id_col).alias("doc"),
        # NULL text: F.size(NULL array) is -1, which would surface as
        # n_tokens_removed=-1 (a silent negative count, diverging from
        # SQL NULL semantics) — treat a NULL document as 0 tokens.
        F.when(F.col(text_col).isNotNull(), F.size(tokens_col(text_col)))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_tokens"),
    )
    return all_docs.join(kept_agg, "doc", "left").select(
        F.col("doc").alias(id_col),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_tokens_kept", F.lit(0)).cast("bigint").alias("n_tokens_kept"),
        (F.col("n_tokens") - F.coalesce("n_tokens_kept", F.lit(0)))
        .cast("bigint")
        .alias("n_tokens_removed"),
    )


def build_embedding_store(
    emb: DataFrame,
    dim: int,
    n_planes: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed embedding index: (id, v, blk, norm, norm_d) — the
    persisted side of incremental_embedding_dedup. Buckets and both
    norms (double, for the prefilter; exact-decimal, for the rescore)
    are computed ONCE when a batch enters the store, so later batches
    never re-scan, re-hash, or re-norm the corpus — the rescore then
    pays one decimal dot per surviving pair instead of three (same
    per-row-norm refactor as embedding_dup_pairs).

    The plane count is pinned by the store (bucket ids from different
    plane counts are incompatible) — the adaptive count used for
    one-shot dedup doesn't apply incrementally; pick planes for the
    corpus size you expect and re-shard the store when you outgrow it
    (same operational contract as any partitioned index; a store
    written before the norm_d column can be upgraded by re-running
    build_embedding_store over its (id, v) projection)."""
    from .similarity import _fast_dot, dot_expr, lsh_bucket_col

    vec = F.col(vec_col)
    return emb.select(
        F.col(id_col).alias("id"),
        vec.alias("v"),
        lsh_bucket_col(vec, dim, n_planes=n_planes, seed=seed).alias("blk"),
        F.sqrt(_fast_dot(vec, vec)).alias("norm"),
        F.sqrt(dot_expr(vec, vec)).alias("norm_d"),
    )


def incremental_embedding_dedup(
    new_emb: DataFrame,
    store: DataFrame | None,
    dim: int,
    threshold: float = 0.99,
    n_planes: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_new: bool = True,
    max_bucket: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Dedup an arriving embedding batch against the persisted bucketed
    store — the embedding-space twin of incremental_minhash_dedup (the
    cross-day production path; one-shot corpus dedup is
    embedding_dup_pairs).

    ``max_bucket`` is the cross-probe sibling of embedding_dup_pairs'
    identical-vector cap: a degenerate STORE-side bucket (h exact-
    duplicate embeddings hyperplanes cannot split) rescores h rows per
    matching batch vector; over the cap the store side collapses to
    one representative per EXACT vector value, so the probe scores
    (#distinct vectors) rows instead — emitted cosines unchanged (a
    collapsed member's vector equals its rep's). Same bootstrap
    precondition as minhash_cross_pairs: cluster equivalence assumes
    the store's history went through the dedup loop (identical store
    vectors were pairwise connected at cosine 1.0 when ingested); a
    store seeded with never-connected duplicates needs one bootstrap
    pass of embedding_dup_pairs over it.

    Returns (pairs, updated_store): pairs = (new_id, existing_id,
    cosine >= threshold), new-vs-store only (within-batch dups are the
    one-shot operator's job); updated_store = store ∪ batch index, to
    be written back for tomorrow.

    Scale shape: O(|batch|) hashing, then a bucket equi-join against
    the narrow store relation — never a corpus rescan; the double-math
    prefilter + exact-decimal rescore mirrors embedding_dup_pairs, so
    scores are bit-identical to the one-shot path."""

    # tracked (caching.py): same store-write-back contract as
    # incremental_minhash_dedup above.
    new_store = tracked_persist(
        build_embedding_store(new_emb, dim, n_planes, seed, id_col, vec_col)
    )
    if store is None:
        from pyspark.sql.types import DoubleType, StructField, StructType

        id_type = new_store.schema["id"].dataType
        empty = new_store.sparkSession.createDataFrame(
            [],
            StructType(
                [
                    StructField("new_id", id_type),
                    StructField("existing_id", id_type),
                    StructField("cosine", DoubleType()),
                ]
            ),
        )
        return empty, new_store

    from .similarity import _fast_dot, dot_expr

    a = new_store.select(
        F.col("id").alias("new_id"), F.col("v").alias("va"),
        "blk", F.col("norm").alias("norm_a"), F.col("norm_d").alias("norm_da"),
    )
    b = store.select(
        F.col("id").alias("existing_id"), F.col("v").alias("vb"),
        "blk", F.col("norm").alias("norm_b"), F.col("norm_d").alias("norm_db"),
    )
    if max_bucket is not None:
        bcols = ["existing_id", "vb", "blk", "norm_b", "norm_db"]
        big_keys = (
            b.groupBy("blk")
            .agg(F.count(F.lit(1)).alias("__bucket_n"))
            .filter(F.col("__bucket_n") > int(max_bucket))
            .select("blk", F.lit(True).alias("__big"))
        )
        marked = b.join(F.broadcast(big_keys), ["blk"], "left")
        small = marked.filter(F.col("__big").isNull()).select(*bcols)
        # collapse per EXACT vector value (grouped on the array itself
        # — no hash, no collision risk); norms are functions of vb
        reps = (
            marked.filter(F.col("__big").isNotNull())
            .groupBy("blk", "vb")
            .agg(
                F.min("existing_id").alias("existing_id"),
                F.min("norm_b").alias("norm_b"),
                F.min("norm_db").alias("norm_db"),
            )
        )
        b = small.unionByName(reps.select(*bcols))
    fast = _fast_dot(F.col("va"), F.col("vb")) / (F.col("norm_a") * F.col("norm_b"))
    # rescore with the store-carried exact norms: one decimal dot per
    # surviving pair (cosine_expr would recompute both norms per pair);
    # bit-identical quotient — same subexpressions, evaluated per row
    # at store build instead of per pair here
    pairs = (
        a.join(b, "blk")
        # same-id-on-both-sides guard (at-least-once replay / re-ingest
        # — see minhash_cross_pairs): never emit a (X, X, 1.0) self-pair
        .filter(F.col("new_id") != F.col("existing_id"))
        .filter(fast >= threshold - 1e-9)
        .withColumn(
            "cosine",
            dot_expr(F.col("va"), F.col("vb")) / (F.col("norm_da") * F.col("norm_db")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("new_id", "existing_id", "cosine")
    )
    # one row per id across replays/re-ingests, no store shuffle
    # (_dedup_store_union) — same contract as the minhash/media twins
    return pairs, _dedup_store_union(store, new_store, "id", broadcast_new)


def survivors_from_edges(
    docs: DataFrame, edges: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """docs rows that survive min-id dedup over a duplicate edge set
    (id_a, id_b): one connected-components pass, drop every doc that is
    not its cluster's minimum. The joint-cluster rule shared by the
    batch cross-modal composition (queryset.joint_dedup_survivors) and
    the incremental joint twin (incremental_joint_dedup) — one body, so
    the survivor semantics cannot drift between the oracle'd entry and
    the store-backed path."""
    from .clusters import connected_clusters

    clusters = connected_clusters(edges.select("id_a", "id_b"))
    removed = clusters.filter(F.col("doc") != F.col("cluster_id")).select("doc")
    return docs.join(removed, docs[id_col] == removed.doc, "left_anti")


def joint_edge_set(
    new_text_store: DataFrame,
    new_fp: DataFrame,
    old_text_store: DataFrame | None,
    old_media_store: DataFrame | None,
    num_hashes: int = 16,
    threshold: float = 0.5,
    max_hamming: int = 3,
    bits: int = 32,
    broadcast_new: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """THE joint duplicate-edge rule over prebuilt modality relations:
    (id_a, id_b), distinct, the union across both modalities of
    within-batch pairs and batch-vs-store pairs (a None store
    contributes no cross pairs — the bootstrap case). The edge rule of
    the incremental twin (incremental_joint_dedup), kept as its own
    function so it is testable alone — the edge half of the guarantee
    survivors_from_edges gives the survivor half. ``distinct`` because
    a duplicate found by both modalities must not ride the CC
    propagation joins twice.

    ``max_bucket`` forwards the degenerate-bucket cap to all four pair
    generators (minhash within/cross, simhash within/cross). The CROSS
    halves carry the documented bootstrap precondition: their
    cluster-equivalence under the cap assumes each old store's history
    went through the dedup loop (same-signature / same-fingerprint
    members were pairwise connected when ingested). A store SEEDED
    with never-connected identical docs silently loses cluster edges
    under the cap — run one bootstrap pass of the within-batch
    operator (minhash_pairs_from_store / simhash_near_pairs) over such
    a store before capping the probes."""
    edges = minhash_pairs_from_store(
        new_text_store,
        num_hashes=num_hashes,
        threshold=threshold,
        max_bucket=max_bucket,
    ).select("id_a", "id_b")
    if old_text_store is not None:
        edges = edges.unionByName(
            minhash_cross_pairs(
                new_text_store,
                old_text_store,
                num_hashes,
                threshold,
                broadcast_new=broadcast_new,
                max_bucket=max_bucket,
            ).select("id_a", "id_b")
        )
    edges = edges.unionByName(
        simhash_near_pairs(
            new_fp, max_hamming=max_hamming, bits=bits, max_bucket=max_bucket
        ).select("id_a", "id_b")
    )
    if old_media_store is not None:
        edges = edges.unionByName(
            simhash_cross_pairs(
                new_fp,
                old_media_store,
                max_hamming=max_hamming,
                bits=bits,
                broadcast_new=broadcast_new,
                max_bucket=max_bucket,
            ).select("id_a", "id_b")
        )
    return edges.distinct()


def incremental_joint_dedup(
    new_docs: DataFrame,
    new_media: DataFrame,
    text_store: DataFrame | None,
    media_store: DataFrame | None,
    num_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    shingle_n: int = 3,
    max_hamming: int = 3,
    width: int = 4,
    height: int = 8,
    decoder: str = "bytegrid",
    broadcast_new: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Cross-modal joint dedup for an ARRIVING batch against BOTH
    persisted modality indexes (r11 verdict #5) — the incremental twin
    of the batch joint composition (queryset.joint_dedup_survivors):
    text MinHash-LSH pairs ∪ pixel aHash pigeonhole pairs over one
    batch, probing the text band store and the pixel fingerprint store.

    ``new_docs`` carries (doc_id, text); ``new_media`` the SAME ids as
    (media_id, content, width, height, kind) — the two modality views
    of one arriving corpus slice, exactly how the batch operator
    derives them. The pixel side is the aHash pipeline (decode →
    resize to width×height → JVM aHash), NOT byte-gram SimHash: joint
    parity requires the same fingerprints the batch composition hashes,
    and width·height derives the pigeonhole bits so callers can't
    mismatch the blocks (same guard as joint_dedup_survivors).

    Returns (edges, updated_text_store, updated_media_store):

    - ``edges`` — (id_a, id_b), distinct, the union across BOTH
      modalities of within-batch pairs AND batch-vs-store pairs. Unlike
      the single-modality twins (which leave within-batch pairs to the
      one-shot operator), the joint twin must emit them: the joint
      CLUSTER rule spans modalities, so a within-batch text pair can
      bridge two pixel clusters — dropping it would split a joint
      cluster. Every duplicate pair of the growing corpus is emitted
      exactly once, in the batch where its later member arrives — so
      the UNION of edges across batches fed to
      :func:`survivors_from_edges` reproduces the batch operator's
      survivors exactly (pytest cumulative-parity contract).
    - both stores updated through :func:`_dedup_store_union` — one row
      per key across at-least-once replays, no store shuffle.

    Bootstrap: pass None for both stores (or either, for a corpus
    whose modality indexes were seeded at different times); a None
    store contributes no cross pairs and is seeded with the batch.

    Scale shape: O(|batch|) shingling/hashing/decoding; two bucket
    joins probe the stores (band keys; pigeonhole blocks) with the
    batch side broadcast (``broadcast_new`` — pass False for a
    near-store-sized backfill batch); the stores never shuffle, never
    rescan. Per-day cost is independent of corpus size — the measured
    bigstore contract of the single-modality twins, composed."""
    from . import multimodal as _mm

    bits = width * height
    new_text_store = tracked_persist(
        minhash_band_store(
            new_docs, num_hashes, band_size, text_col, doc_id_col, shingle_n
        )
    )
    new_fp = tracked_persist(
        _mm.ahash_fingerprints(
            _mm.resize_images(new_media, width=width, height=height, decoder=decoder)
        )
    )

    edges = joint_edge_set(
        new_text_store,
        new_fp,
        text_store,
        media_store,
        num_hashes=num_hashes,
        threshold=threshold,
        max_hamming=max_hamming,
        bits=bits,
        broadcast_new=broadcast_new,
    )

    updated_text = (
        new_text_store
        if text_store is None
        else _dedup_store_union(text_store, new_text_store, "doc", broadcast_new)
    )
    updated_media = (
        new_fp
        if media_store is None
        else _dedup_store_union(media_store, new_fp, "doc", broadcast_new)
    )
    return edges, updated_text, updated_media
