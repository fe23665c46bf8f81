"""Behavioral tests for the LLM-data operators beyond oracle parity:
approximation quality (LSH recall), multimodal plumbing, simhash
locality."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from blockchair_etl_spark.io.sources import load_table
from blockchair_etl_spark.llmdata import multimodal as mm
from blockchair_etl_spark.llmdata import similarity as sim
from blockchair_etl_spark.llmdata.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


def test_lsh_ann_correct_within_bucket(spark, emb):
    # On uniform random unit vectors the nearest neighbors sit at ~72°,
    # so absolute recall of hyperplane LSH is necessarily low — the
    # testable contract is (a) the query's own bucket contains it,
    # (b) the approximate result IS the exact ranking restricted to the
    # bucket's candidates, (c) the candidate set actually shrinks.
    dim = len(emb.head()["embedding"])
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    approx = sim.lsh_ann_topk(emb, qv, k=10, n_planes=4).collect()
    got = [r.vec_id for r in approx]
    assert 0 in got

    import numpy as np

    planes = sim._planes(dim, 4)
    qbucket = sum(
        1 << p for p in range(4) if float(np.dot(planes[p], np.asarray(qv))) >= 0
    )
    cand = emb.filter(
        sim.lsh_bucket_col(F.col("embedding"), dim, 4) == F.lit(qbucket)
    )
    n_cand, n_total = cand.count(), emb.count()
    assert n_cand < n_total / 4, f"bucket too large: {n_cand}/{n_total}"
    exact_in_bucket = [r.vec_id for r in sim.cosine_topk(cand, qv, k=10).collect()]
    assert got == exact_in_bucket


def test_lsh_bucket_count(spark, emb):
    dim = len(emb.head()["embedding"])
    buckets = emb.select(
        sim.lsh_bucket_col(F.col("embedding"), dim, n_planes=4).alias("b")
    )
    counts = buckets.groupBy("b").count().collect()
    # 16 buckets, roughly balanced for random hyperplanes on random data
    assert len(counts) == 16
    assert max(c["count"] for c in counts) < 4 * min(c["count"] for c in counts)


def test_adaptive_n_planes_bounds_bucket_occupancy():
    # smallest p with 128·2^p >= n, clamped; doubling data adds ~1 plane
    assert sim.adaptive_n_planes(1) == 2
    assert sim.adaptive_n_planes(512) == 2
    assert sim.adaptive_n_planes(513) == 3
    assert sim.adaptive_n_planes(2000) == 4
    assert sim.adaptive_n_planes(20_000) == 8
    assert sim.adaptive_n_planes(10**12) == 16  # max clamp
    # expected bucket occupancy never exceeds the target by more than 2×
    for n in (100, 1000, 10_000, 100_000, 1_000_000):
        p = sim.adaptive_n_planes(n)
        if p < 16:
            assert n / (1 << p) <= 2 * 128


def test_embedding_dup_recall_multiprobe(spark):
    """Rotated-seed union recall vs the brute-force truth on a corpus
    with PLANTED near-dups (cosine >= ~0.99 — the dedup regime; the
    parquet fixture has no high-cosine pairs). Single-seed sign-LSH
    misses pairs that straddle a hyperplane; 3 seeds must recover most
    of them and never exceed 100% (no false pairs — exact re-score)."""
    from blockchair_etl_spark.llmdata.dedup import embedding_dup_pairs
    from blockchair_etl_spark.llmdata.similarity import brute_force_pairs_cosine

    rng = np.random.default_rng(11)
    dim, n_base = 16, 120
    base = rng.standard_normal((n_base, dim))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # one near-dup per base vector: tiny perturbation → cosine ~0.999
        rows.append((n_base + i, [float(x) for x in v + rng.standard_normal(dim) * 0.02]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    truth = {
        (r.id_a, r.id_b)
        for r in brute_force_pairs_cosine(emb, threshold=0.99).collect()
    }
    assert len(truth) >= n_base * 0.9, "fixture must contain planted dups"

    one = {
        (r.id_a, r.id_b)
        for r in embedding_dup_pairs(
            emb, threshold=0.99, dim=dim, lsh_planes=4
        ).collect()
    }
    multi = {
        (r.id_a, r.id_b)
        for r in embedding_dup_pairs(
            emb, threshold=0.99, dim=dim, lsh_planes=4, seeds=(7, 19, 41)
        ).collect()
    }
    # no false positives ever (exact re-score inside the same blocks)
    assert one <= truth and multi <= truth
    # the union is the recall lever: strictly no worse, and high in absolute
    assert one <= multi
    assert len(multi) / len(truth) >= 0.9
    assert len(one) / len(truth) >= 0.5


def test_knn_join_is_exact_within_buckets(spark, emb):
    """The kNN join's per-vector result must BE the exact cosine top-k
    restricted to that vector's LSH bucket (same contract the
    single-query ANN test asserts, across all rows at once)."""
    from blockchair_etl_spark.llmdata.similarity import (
        adaptive_n_planes,
        knn_join_lsh,
        lsh_bucket_col,
    )

    dim = len(emb.head()["embedding"])
    n = emb.count()
    p = adaptive_n_planes(n)
    rows = emb.select(
        "vec_id",
        "embedding",
        lsh_bucket_col(F.col("embedding"), dim, n_planes=p).alias("blk"),
    ).collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=float) for r in rows}
    blks = {r.vec_id: r.blk for r in rows}

    got = knn_join_lsh(emb, k=3, dim=dim).collect()
    by_a = {}
    for r in got:
        by_a.setdefault(r.id_a, []).append(r)
    for id_a, neigh in list(by_a.items())[:50]:
        neigh.sort(key=lambda r: r.rank)
        assert [r.rank for r in neigh] == list(range(1, len(neigh) + 1))
        # exact top-k among co-bucketed candidates (cosine desc, id asc)
        va = vecs[id_a]
        cand = [
            (float(np.dot(va, vecs[i]) / (np.linalg.norm(va) * np.linalg.norm(vecs[i]))), i)
            for i in vecs
            if i != id_a and blks[i] == blks[id_a]
        ]
        want = sorted(cand, key=lambda t: (-t[0], t[1]))[: len(neigh)]
        assert [r.id_b for r in neigh] == [i for _, i in want]


def test_crossmodal_knn_is_exact_and_asymmetric(spark, emb):
    """crossmodal_knn_join (r14 verdict stretch #7): each probe
    vector's result must BE the exact cosine top-k among INDEX vectors
    in its bucket — never probe-side vectors — with plane count
    adapted to the INDEX size (per-modality stats: a huge probe side
    must not change bucket geometry)."""
    from blockchair_etl_spark.llmdata.similarity import (
        adaptive_n_planes,
        crossmodal_knn_join,
        lsh_bucket_col,
    )

    dim = len(emb.head()["embedding"])
    cap = emb.filter(F.col("vec_id") % 2 == 0)
    img = emb.filter(F.col("vec_id") % 2 == 1)
    p = adaptive_n_planes(img.count())
    rows = emb.select(
        "vec_id",
        "embedding",
        lsh_bucket_col(F.col("embedding"), dim, n_planes=p).alias("blk"),
    ).collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=float) for r in rows}
    blks = {r.vec_id: r.blk for r in rows}

    got = crossmodal_knn_join(cap, img, k=3, dim=dim).collect()
    assert got, "fixture should co-bucket some cross-modal vectors"
    by_a = {}
    for r in got:
        assert r.id_a % 2 == 0 and r.id_b % 2 == 1  # probe→index only
        by_a.setdefault(r.id_a, []).append(r)
    for id_a, neigh in list(by_a.items())[:40]:
        neigh.sort(key=lambda r: r.rank)
        assert [r.rank for r in neigh] == list(range(1, len(neigh) + 1))
        va = vecs[id_a]
        cand = [
            (
                float(
                    np.dot(va, vecs[i])
                    / (np.linalg.norm(va) * np.linalg.norm(vecs[i]))
                ),
                i,
            )
            for i in vecs
            if i % 2 == 1 and blks[i] == blks[id_a]
        ]
        want = sorted(cand, key=lambda t: (-t[0], t[1]))[: len(neigh)]
        assert [r.id_b for r in neigh] == [i for _, i in want]
    # a probe co-bucketed ONLY with probe-side vectors is absent
    probe_only = {
        r.vec_id
        for r in rows
        if r.vec_id % 2 == 0
        and not any(
            i % 2 == 1 and blks[i] == blks[r.vec_id] for i in vecs
        )
    }
    assert probe_only.isdisjoint(by_a.keys())


def test_knn_join_max_bucket_exact(spark, emb):
    """The kNN form of the identical-vector cap (r15 verdict #6): the
    capped path must be BIT-IDENTICAL to the uncapped form on every
    input — collapsing per exact vector value and expanding the k+1
    smallest member ids after one fast-cosine eval per group cannot
    change any top-k (group members share one cosine; ranking ties
    break by id). Checked on a planted 40-copy megacluster (probes
    inside AND outside the collapsed group, self-exclusion exercised)
    and on the real fixture with max_bucket=1 — every bucket oversized,
    so the collapse path carries ALL candidates and must still match."""
    import numpy as np

    from blockchair_etl_spark.llmdata.similarity import knn_join_lsh

    rng = np.random.default_rng(11)
    dim = 8
    v0 = [float(x) for x in rng.standard_normal(dim)]
    rows = [(i, v0) for i in range(40)]
    rows += [
        (200 + j, [float(x) for x in rng.standard_normal(dim)])
        for j in range(12)
    ]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    def out(df):
        return {(r.id_a, r.rank, r.id_b, r.cosine) for r in df.collect()}

    uncapped = out(knn_join_lsh(e, k=3, dim=dim, n_planes=4))
    capped = out(knn_join_lsh(e, k=3, dim=dim, n_planes=4, max_bucket=10))
    assert capped == uncapped and capped
    # megacluster probes get exactly their 3 smallest-id same-group
    # peers (self excluded) — the k+1 member expansion at work
    by_a = {}
    for a, rank, b, _ in capped:
        by_a.setdefault(a, []).append((rank, b))
    for probe in (0, 2, 10):
        got = [b for _, b in sorted(by_a[probe])]
        want = [i for i in range(4) if i != probe][:3]
        assert got == want, (probe, got, want)

    # real fixture, every bucket forced through the collapse branch
    fix_unc = out(knn_join_lsh(emb, k=3, dim=64, n_planes=4))
    fix_cap = out(knn_join_lsh(emb, k=3, dim=64, n_planes=4, max_bucket=1))
    assert fix_cap == fix_unc and fix_cap


def test_crossmodal_knn_max_bucket_exact(spark, emb):
    """Crossmodal form of the kNN identical-vector cap: index-side
    megacluster collapses, output bit-identical (no self-exclusion in
    the cross form — two modalities)."""
    import numpy as np

    from blockchair_etl_spark.llmdata.similarity import crossmodal_knn_join

    rng = np.random.default_rng(13)
    dim = 8
    v0 = [float(x) for x in rng.standard_normal(dim)]
    idx_rows = [(i, v0) for i in range(40)] + [
        (200 + j, [float(x) for x in rng.standard_normal(dim)])
        for j in range(12)
    ]
    # probe 1000 is a scaled copy of the megacluster vector (same
    # bucket, cosine ~1.0); the rest are random
    probe_rows = [(1000, [2.0 * x for x in v0])] + [
        (1100 + j, [float(x) for x in rng.standard_normal(dim)])
        for j in range(5)
    ]
    idx = spark.createDataFrame(idx_rows, "vec_id bigint, embedding array<float>")
    probes = spark.createDataFrame(
        probe_rows, "vec_id bigint, embedding array<float>"
    )

    def out(df):
        return {(r.id_a, r.rank, r.id_b, r.cosine) for r in df.collect()}

    uncapped = out(crossmodal_knn_join(probes, idx, k=3, dim=dim, n_planes=4))
    capped = out(
        crossmodal_knn_join(
            probes, idx, k=3, dim=dim, n_planes=4, max_bucket=10
        )
    )
    assert capped == uncapped and capped
    # the megacluster probe retrieves exactly the 3 smallest member ids
    mega = sorted((rank, b) for a, rank, b, _ in capped if a == 1000)
    assert [b for _, b in mega] == [0, 1, 2]
    # real fixture, collapse branch carrying all candidates
    cap_q = emb.filter(F.col("vec_id") % 2 == 0)
    img = emb.filter(F.col("vec_id") % 2 == 1)
    fix_unc = out(crossmodal_knn_join(cap_q, img, k=3, dim=64, n_planes=4))
    fix_cap = out(
        crossmodal_knn_join(cap_q, img, k=3, dim=64, n_planes=4, max_bucket=1)
    )
    assert fix_cap == fix_unc and fix_cap


def test_crossmodal_knn_empty_index_contract(spark, emb):
    """r15 advice: an EMPTY index must raise a pointed ValueError when
    dim has to be inferred from it (head() returning None used to
    surface as an opaque TypeError) — and with BOTH dim and n_planes
    passed explicitly (the production call) no stats are inferred, so
    the same empty index plans fine and yields zero neighbors."""
    from blockchair_etl_spark.llmdata.similarity import crossmodal_knn_join

    dim = len(emb.head()["embedding"])
    probe = emb.limit(5)
    empty = emb.filter(F.lit(False))
    with pytest.raises(ValueError, match="index is empty"):
        crossmodal_knn_join(probe, empty, k=3)
    got = crossmodal_knn_join(probe, empty, k=3, dim=dim, n_planes=4)
    assert got.count() == 0


def test_winnowing_matches_reference_and_guarantee(spark, docs):
    """winnowing_fingerprints == the pure-python MOSS reference
    (per-window argmin over k-gram hashes, rightmost tiebreak, full
    windows plus the short-doc single window) on the fixture corpus,
    and the winnowing GUARANTEE holds: two documents sharing a
    substring of length >= window + k - 1 share at least one selected
    fingerprint."""
    import hashlib
    import re

    from blockchair_etl_spark.llmdata.text import winnowing_fingerprints

    K, W = 5, 4

    def ref(text):
        norm = re.sub(r"[^a-z0-9]+", "", (text or "").lower())
        n = len(norm) - K + 1
        if n <= 0:
            return set()
        hs = [
            int(hashlib.md5(norm[i : i + K].encode()).hexdigest()[:15], 16)
            for i in range(n)
        ]
        out = set()
        for j in range(max(n - W + 1, 1)):
            win = range(j, min(j + W, n))
            best = min(win, key=lambda i: (hs[i], -i))
            out.add((best + 1, hs[best]))
        return out

    sample = docs.limit(40).collect()
    got_rows = winnowing_fingerprints(
        spark.createDataFrame(sample), k=K, window=W
    ).collect()
    got = {}
    for r in got_rows:
        got.setdefault(r.doc, set()).add((r.pos, r.fp))
    for row in sample:
        assert got.get(row.doc_id, set()) == ref(row.text), row.doc_id

    # the guarantee, adversarially: a long shared substring planted at
    # DIFFERENT offsets inside otherwise-different documents must
    # produce overlapping fingerprint HASH sets (positions differ)
    shared = "thequickbrownfoxjumpsover"
    a = "xxxxy" + shared + "zzzzw"
    b = "completely other prefix material " + shared
    fps = winnowing_fingerprints(
        spark.createDataFrame(
            [(1, a), (2, b)], "doc_id bigint, text string"
        ),
        k=K,
        window=W,
    ).collect()
    hs = {}
    for r in fps:
        hs.setdefault(r.doc, set()).add(r.fp)
    assert hs[1] & hs[2], "shared >= w+k-1 substring must share a fingerprint"


def test_winnowing_pairs_offset_quotes_and_max_df(spark, docs):
    """winnowing_pairs semantics: (a) catches the fixture's strong
    shingle-level near-dups; (b) catches a passage QUOTED AT A
    DIFFERENT OFFSET (position-independent hash-set Jaccard — the
    claim that distinguishes it from positional diffing); (c) the
    max_df rare-fingerprint lever keeps reported scores EXACT for the
    pairs it emits (the ngram_containment contract: recall traded,
    never precision)."""
    from blockchair_etl_spark.llmdata.text import winnowing_pairs

    strong = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.8).collect()
    }
    got = {
        (r.id_a, r.id_b): (r.n_shared, r.jaccard)
        for r in winnowing_pairs(docs, threshold=0.2).collect()
    }
    missed = strong - set(got)
    assert not missed, f"winnowing missed strong near-dups: {missed}"

    passage = "a very distinctive passage about winnowing fingerprints"
    quoted = spark.createDataFrame(
        [
            (1, passage + " padded with trailing filler words here"),
            (2, "an entirely different long preamble comes first " + passage),
            (3, "nothing in common with either of those documents at all"),
        ],
        "doc_id bigint, text string",
    )
    qp = {
        (r.id_a, r.id_b)
        for r in winnowing_pairs(quoted, threshold=0.2).collect()
    }
    assert (1, 2) in qp and not any(3 in p for p in qp)

    capped = {
        (r.id_a, r.id_b): (r.n_shared, r.jaccard)
        for r in winnowing_pairs(docs, threshold=0.2, max_df=50).collect()
    }
    assert set(capped) <= set(got)
    assert all(got[p] == v for p, v in capped.items())


def test_winnowing_pairs_from_parquet_store_match_direct(spark, docs, tmp_path):
    """The production reuse path: fingerprints written ONCE to parquet,
    pair detection reading the store must be bit-identical to the
    compute-from-text form — including after the parquet round trip."""
    from blockchair_etl_spark.llmdata.text import (
        winnowing_fingerprints,
        winnowing_pairs,
        winnowing_pairs_from_store,
    )

    path = str(tmp_path / "winnow_store")
    winnowing_fingerprints(docs).select("doc", "fp").distinct().write.mode(
        "overwrite"
    ).parquet(path)
    store = spark.read.parquet(path)
    from_store = {
        (r.id_a, r.id_b, r.n_shared, r.jaccard)
        for r in winnowing_pairs_from_store(
            store, threshold=0.2, max_df=50
        ).collect()
    }
    direct = {
        (r.id_a, r.id_b, r.n_shared, r.jaccard)
        for r in winnowing_pairs(docs, threshold=0.2, max_df=50).collect()
    }
    assert from_store == direct and from_store


def test_incremental_winnowing_dedup(spark, docs):
    """The MOSS twin of incremental_minhash_dedup (r15 verdict stretch
    #7): cross pairs vs the persisted fingerprint store equal the
    full-corpus winnowing pairs restricted to new-vs-old (exact
    n_shared and jaccard — Jaccard denominators ride the stored n_fp
    column, never a store-wide per-doc aggregation); the batch side of
    the probe join is BROADCAST so the store never shuffles; with
    max_df the drained set is a superset of one-shot's with exact
    scores; an empty store yields no pairs and seeds the index."""
    from blockchair_etl_spark.llmdata.text import (
        incremental_winnowing_dedup,
        winnowing_fingerprint_store,
        winnowing_pairs,
    )

    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    store = winnowing_fingerprint_store(old)
    pairs, updated = incremental_winnowing_dedup(new, store)
    got = {(r.id_a, r.id_b, r.n_shared, r.jaccard) for r in pairs.collect()}

    full = winnowing_pairs(docs)
    want = {
        (a, b, n, j) if a % 2 == 1 else (b, a, n, j)
        for a, b, n, j in (
            (r.id_a, r.id_b, r.n_shared, r.jaccard) for r in full.collect()
        )
        if (a % 2) != (b % 2)  # cross-split only; id_a is the NEW side
    }
    assert got == want and got

    # updated store == fingerprint rows of the union, n_fp intact
    up = {(r.doc, r.fp, r.n_fp) for r in updated.collect()}
    allfp = {
        (r.doc, r.fp, r.n_fp)
        for r in winnowing_fingerprint_store(docs).collect()
    }
    assert up == allfp

    # df-bounded probe: subset of the unbounded cross pairs, every
    # score exact, and a superset of one-shot-at-same-max_df's
    # cross-split (corpus df >= df-as-of-probe)
    capped_pairs, _ = incremental_winnowing_dedup(new, store, max_df=20)
    capped = {
        (r.id_a, r.id_b, r.n_shared, r.jaccard)
        for r in capped_pairs.collect()
    }
    assert capped <= got
    oneshot_capped = {
        (a, b, n, j) if a % 2 == 1 else (b, a, n, j)
        for a, b, n, j in (
            (r.id_a, r.id_b, r.n_shared, r.jaccard)
            for r in winnowing_pairs(docs, max_df=20).collect()
        )
        if (a % 2) != (b % 2)
    }
    assert oneshot_capped <= capped

    # empty-store seeding
    p0, s0 = incremental_winnowing_dedup(new, None)
    assert p0.count() == 0
    assert {(r.doc, r.fp, r.n_fp) for r in s0.collect()} == {
        (r.doc, r.fp, r.n_fp)
        for r in winnowing_fingerprint_store(new).collect()
    }

    # plan gate: the probe join broadcasts the batch side
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_quantize_embeddings_int8_error_bound(spark):
    from blockchair_etl_spark.llmdata.similarity import quantize_embeddings_int8

    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in rng.uniform(-1.0, 1.0, 8)]) for i in range(64)
    ]
    # pin the exact range endpoints so lo/hi are known
    rows.append((900, [-1.0] * 8))
    rows.append((901, [1.0] * 8))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {r.vec_id: r for r in quantize_embeddings_int8(emb).collect()}
    assert all(r.n_dims == 8 for r in out.values())
    # endpoint vectors hit the exact code extremes with zero error
    assert out[900].sum_code == 0 and out[900].max_err_q20 == 0
    assert out[901].sum_code == 255 * 8 and out[901].max_err_q20 == 0
    # reconstruction error never exceeds half a quantization step:
    # step = (hi-lo)/255 = 2/255; half-step in q20 ≈ 4112
    half_step_q20 = int((2.0 / 255 / 2) * (1 << 20)) + 1
    assert all(r.max_err_q20 <= half_step_q20 for r in out.values())


def test_exploded_shingles_short_docs_and_set_parity(spark, docs):
    """Documents shorter than n tokens must yield NO shingles (the
    sequence(1, 0)-descends-to-[1,0] trap), and the multiset form's
    distinct-set must equal the distinct form exactly."""
    from blockchair_etl_spark.llmdata.dedup import exploded_shingles

    short = spark.createDataFrame(
        [(1, "only two"), (2, "a"), (3, ""), (4, "one two three four")],
        "doc_id bigint, text string",
    )
    got = {(r.doc, r.feat) for r in exploded_shingles(short, "text", "doc_id", 3).collect()}
    assert got == {
        (4, "one two three"),
        (4, "two three four"),
    }
    multiset = exploded_shingles(docs, "text", "doc_id", 3, distinct=False)
    dset = exploded_shingles(docs, "text", "doc_id", 3)
    assert {(r.doc, r.feat) for r in multiset.collect()} == {
        (r.doc, r.feat) for r in dset.collect()
    }


def test_minhash_catches_strong_near_dups(docs):
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.8).collect()
    }
    assert exact, "fixture corpus should contain strong near-dups"
    lsh = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    missed = exact - lsh
    assert not missed, f"LSH missed strong near-dups: {missed}"


def test_minhash_pairs_from_parquet_store_match_direct(spark, docs, tmp_path):
    """The production reuse path (r6 verdict #8): signatures written
    ONCE to parquet, pair detection reading the store must be
    bit-identical to the compute-from-text form — including after the
    parquet round trip (column order, nullability, band array)."""
    from blockchair_etl_spark.llmdata.dedup import (
        minhash_band_store,
        minhash_pairs_from_store,
    )

    path = str(tmp_path / "mh_store")
    minhash_band_store(docs).write.mode("overwrite").parquet(path)
    store = spark.read.parquet(path)
    from_store = {
        (r.id_a, r.id_b, r.est_jaccard)
        for r in minhash_pairs_from_store(store, threshold=0.5).collect()
    }
    direct = {
        (r.id_a, r.id_b, r.est_jaccard)
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert from_store == direct and from_store


def _uf_clusters(pairs, nodes):
    """Test-oracle union-find: partition of ``nodes`` under ``pairs``."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return frozenset(
        frozenset(n for n in nodes if find(n) == r)
        for r in {find(n) for n in nodes}
    )


def test_minhash_max_bucket_parity_under_cap(spark, docs, tmp_path):
    """r14 verdict: with max_bucket set ABOVE every observed bucket
    size, minhash_pairs_from_store's capped path (counts + broadcast
    marker join + rep/star branches, all live in the plan) must be
    bit-identical to the uncapped form — the cap only changes behavior
    when a bucket actually exceeds it."""
    from blockchair_etl_spark.llmdata.dedup import (
        minhash_band_store,
        minhash_pairs_from_store,
    )

    path = str(tmp_path / "mh_store_cap")
    minhash_band_store(docs).write.mode("overwrite").parquet(path)
    store = spark.read.parquet(path)
    biggest = (
        store.select(F.posexplode("bands").alias("band_idx", "band_key"))
        .groupBy("band_idx", "band_key")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    capped = {
        (r.id_a, r.id_b, r.est_jaccard)
        for r in minhash_pairs_from_store(
            store, threshold=0.5, max_bucket=int(biggest)
        ).collect()
    }
    uncapped = {
        (r.id_a, r.id_b, r.est_jaccard)
        for r in minhash_pairs_from_store(store, threshold=0.5).collect()
    }
    assert capped == uncapped and capped
    # production IO shape: a store carrying a precomputed sig_key
    # column (one narrow write-time md5) is used as-is by the collapse
    # branches — and must change nothing about the output
    keyed = store.withColumn(
        "sig_key",
        F.md5(F.concat_ws("|", *[F.col(f"m{i}") for i in range(16)])),
    )
    with_key = {
        (r.id_a, r.id_b, r.est_jaccard)
        for r in minhash_pairs_from_store(
            keyed, threshold=0.5, max_bucket=2
        ).collect()
    }
    low_cap = {
        (r.id_a, r.id_b, r.est_jaccard)
        for r in minhash_pairs_from_store(
            store, threshold=0.5, max_bucket=2
        ).collect()
    }
    assert with_key == low_cap


def test_minhash_max_bucket_bounds_megabucket(spark):
    """The planted-megabucket fixture (r14 verdict / What's wrong #1):
    a 40-doc identical-boilerplate clique whose band buckets all blow
    past max_bucket=10. The capped path must (a) replace the clique's
    780 all-pairs with its 39-edge star at est_jaccard 1.0, (b) keep
    every emitted pair's est_jaccard equal to the uncapped value, and
    (c) leave the connected components / near-dup clusters EXACTLY
    equal to the uncapped form — including near-dup variants that share
    the oversized buckets but not the clique signature (they pair via
    representatives)."""
    from blockchair_etl_spark.llmdata.dedup import minhash_lsh_pairs

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, boiler) for i in range(40)]
    # near-dup variants: same boilerplate with one token appended —
    # high Jaccard on 3-shingles, but a distinct signature
    rows += [(100 + j, boiler + " extra") for j in range(3)]
    # unrelated background docs
    rows += [
        (200 + j, f"completely different text number {j} about topic {j * 7}")
        for j in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    uncapped = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs, threshold=0.5, max_bucket=10).collect()
    }
    clique = set(range(40))
    # uncapped: the full 40-choose-2 clique materializes
    assert {p for p in uncapped if p[0] in clique and p[1] in clique} == {
        (a, b) for a in clique for b in clique if a < b
    }
    # capped: exactly the min-doc star, every edge at est_jaccard 1.0
    clique_pairs = {p for p in capped if p[0] in clique and p[1] in clique}
    assert clique_pairs == {(0, b) for b in range(1, 40)}
    assert all(capped[p] == 1.0 for p in clique_pairs)
    # every emitted pair keeps its uncapped score (subset, same values)
    assert all(uncapped[p] == est for p, est in capped.items())
    # cluster equivalence over the whole corpus: the variants must stay
    # attached to the clique through representative pairs
    nodes = {r[0] for r in rows}
    assert _uf_clusters(capped.keys(), nodes) == _uf_clusters(
        uncapped.keys(), nodes
    )
    var_cluster = next(
        c for c in _uf_clusters(capped.keys(), nodes) if 0 in c
    )
    assert {100, 101, 102} <= var_cluster


def test_cross_pairs_never_emit_self_pairs(spark, docs):
    """At-least-once replay / re-ingest hazard: a doc present on BOTH
    sides of the cross probe (its earlier attempt already registered it
    in the store) must not emit a spurious (X, X) self-pair — for both
    the SimHash and the MinHash cross operators."""
    from blockchair_etl_spark.llmdata.dedup import (
        media_byte_fingerprints,
        minhash_band_store,
        minhash_cross_pairs,
        simhash_cross_pairs,
    )

    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("content"),
    )
    fp = media_byte_fingerprints(media.limit(60))
    sp = simhash_cross_pairs(fp, fp)  # store == batch: worst replay
    assert sp.filter(F.col("id_a") == F.col("id_b")).count() == 0

    store = minhash_band_store(docs.limit(60))
    mp = minhash_cross_pairs(store, store)
    assert mp.filter(F.col("id_a") == F.col("id_b")).count() == 0


def test_minhash_cross_pairs_max_bucket(spark):
    """The cross-probe sibling of the hot-bucket cap: a degenerate
    STORE-side band bucket (30 identical boilerplate docs) collapses to
    one representative per signature, so a probing batch doc scores
    ONE row for the clique instead of 30 — but every emitted pair keeps
    its uncapped est_jaccard, pairs are a subset of the uncapped form,
    and the batch doc still reaches the clique's cluster (via its min
    doc, the same representative the within-batch star elects)."""
    from blockchair_etl_spark.llmdata.dedup import (
        minhash_band_store,
        minhash_cross_pairs,
    )

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    store_rows = [(i, boiler) for i in range(30)] + [
        (200 + j, f"unrelated store text number {j} about {j * 3}")
        for j in range(8)
    ]
    batch_rows = [(500, boiler + " extra"), (501, "nothing shared at all here")]
    store = minhash_band_store(
        spark.createDataFrame(store_rows, "doc_id bigint, text string")
    )
    batch = minhash_band_store(
        spark.createDataFrame(batch_rows, "doc_id bigint, text string")
    )

    uncapped = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_cross_pairs(batch, store, threshold=0.5).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_cross_pairs(
            batch, store, threshold=0.5, max_bucket=10
        ).collect()
    }
    # uncapped: the near-dup batch doc pairs with the whole clique
    assert {b for (a, b) in uncapped if a == 500} >= set(range(30))
    # capped: exactly the min-doc representative stands in for it
    assert {b for (a, b) in capped if a == 500 and b < 200} == {0}
    # subset with unchanged scores
    assert all(uncapped[p] == est for p, est in capped.items())
    # non-degenerate store buckets are untouched: pairs not involving
    # the clique agree exactly between the two forms
    assert {p for p in uncapped if p[1] >= 200} == {
        p for p in capped if p[1] >= 200
    }
    # a store carrying the write-once sig_key column takes the
    # narrow-scan branch and must change nothing about the output
    keyed_store = store.withColumn(
        "sig_key",
        F.md5(F.concat_ws("|", *[F.col(f"m{i}") for i in range(16)])),
    )
    keyed = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_cross_pairs(
            batch, keyed_store, threshold=0.5, max_bucket=10
        ).collect()
    }
    assert keyed == capped


def test_ahash_guards(spark):
    """aHash edge guards: >64 cells raises in-plan instead of silently
    wrapping fingerprint bits; an empty pixels array hashes to 0 (the
    sequence(0,-1)-is-not-empty trap); a typo'd decoder name raises."""
    import pytest

    rows = [(1, [0.5] * (16 * 8 * 3)), (2, [])]
    df = spark.createDataFrame(rows, "media_id bigint, pixels array<float>")
    big = mm.ahash_fingerprints(df.filter("media_id = 1"))
    with pytest.raises(Exception, match="grid exceeds 64 cells"):
        big.collect()
    empty = mm.ahash_fingerprints(df.filter("media_id = 2"))
    assert empty.first().simhash == 0

    media = spark.createDataFrame(
        [(1, "image", bytearray(b"x"), "m", 4, 4, None, "u")], schema=mm.MEDIA_SCHEMA
    )
    with pytest.raises(ValueError, match="unknown decoder"):
        mm.resize_images(media, decoder="byte_grid")


def test_simhash_conv_form_matches_md5_model_multiword(spark):
    """r17 per-row form: the md5 hex prefix decodes through one conv()
    per 8 hex chars. bits=32 is one conv word; bits=64 exercises the
    MULTI-WORD split (two conv words, per-word shift arithmetic) that
    no 32-bit caller reaches — pin both against the python md5 model,
    including repeated tokens (frequency weighting). 48 (not 64)
    because the fingerprint fold needs 1 << j to fit a BIGINT (bits
    <= 62, same bound as the docstring), and 48 additionally covers a
    SHORT second conv word (4 hex chars)."""
    import hashlib
    from collections import Counter

    from blockchair_etl_spark.llmdata.dedup import simhash_over_occurrences

    toks = [
        (0, ["alpha", "beta", "alpha", "gamma"]),
        (1, ["beta"] * 7 + ["delta"]),
        (2, ["x"]),
        (3, [f"t{i}" for i in range(50)] + ["t0", "t1", "t1"]),
    ]
    occ = spark.createDataFrame(
        [(d, t) for d, ts in toks for t in ts], "doc bigint, token string"
    )
    for bits in (32, 48):
        got = {
            r.doc: r.simhash
            for r in simhash_over_occurrences(occ, bits=bits).collect()
        }
        exp = {}
        for d, ts in toks:
            acc = [0] * bits
            for w, freq in Counter(ts).items():
                hexd = hashlib.md5(w.encode()).hexdigest()
                for j in range(bits):
                    nib = int(hexd[j // 4], 16)
                    acc[j] += freq if (nib >> (j % 4)) & 1 else -freq
            exp[d] = sum(1 << j for j in range(bits) if acc[j] >= 0)
        assert got == exp, f"bits={bits}"


def test_simhash_locality(docs):
    # near-dup docs (jaccard >= 0.8) should have small hamming distance
    fp = {r.doc: r.simhash for r in simhash_fingerprints(docs).collect()}
    strong = ngram_jaccard_pairs(docs, n=3, threshold=0.8).collect()
    rng = np.random.default_rng(0)
    all_ids = list(fp)
    rand_hd = [
        bin(fp[a] ^ fp[b]).count("1")
        for a, b in zip(rng.choice(all_ids, 200), rng.choice(all_ids, 200))
        if a != b
    ]
    for r in strong:
        hd = bin(fp[r.id_a] ^ fp[r.id_b]).count("1")
        assert hd <= 6, f"near-dup pair {r.id_a},{r.id_b} hamming {hd}"
    assert np.mean(rand_hd) > 8, "random pairs should be far apart"


def test_simhash_max_bucket_parity_under_cap(spark, docs):
    """r15 verdict #2 (the simhash sibling of the minhash cap): with
    max_bucket set ABOVE every observed pigeonhole-bucket size,
    simhash_near_pairs' capped path (counts + broadcast marker join +
    rep/star branches, all live in the plan) must be bit-identical to
    the uncapped form — the cap only changes behavior when a bucket
    actually exceeds it."""
    from blockchair_etl_spark.llmdata.dedup import (
        _simhash_blocks,
        simhash_near_pairs,
    )

    fp = simhash_fingerprints(docs, bits=32)
    biggest = (
        _simhash_blocks(fp, 3, 32, "doc", "simhash")
        .groupBy("bi", "bv")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    capped = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_pairs(
            fp, max_hamming=3, bits=32, max_bucket=int(biggest)
        ).collect()
    }
    uncapped = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_pairs(fp, max_hamming=3, bits=32).collect()
    }
    assert capped == uncapped and capped


def test_simhash_max_bucket_bounds_megacluster(spark):
    """The planted identical-fingerprint megacluster (r15 verdict #2):
    40 copies of ONE fingerprint (1M re-encodes of one image at 100 TB
    — the degenerate case pigeonhole width cannot split) blow past
    max_bucket=10 in every block. The capped path must (a) replace the
    clique's 780 all-pairs with its 39-edge star at hamming 0 — exact,
    not just threshold-clearing: identical fingerprints ARE hamming 0,
    so the collapse is lossless by identity, (b) keep every emitted
    pair's hamming equal to the uncapped value, and (c) leave the
    connected components EXACTLY equal to the uncapped form — near-dup
    variants sharing the oversized buckets but not the fingerprint
    (one bit flipped) pair via representatives."""
    from blockchair_etl_spark.llmdata.dedup import simhash_near_pairs

    mega = 0x12345678
    rows = [(i, mega) for i in range(40)]
    # near-dup variants: bit 0 flipped — hamming 1, blocks 1-3 shared
    rows += [(100 + j, mega ^ 1) for j in range(3)]
    # far-apart background: every block differs from the megacluster's
    rows += [(200 + j, (0x9E3779B9 * (j + 1)) & 0xFFFFFFFF) for j in range(10)]
    fp = spark.createDataFrame(rows, "doc bigint, simhash bigint")

    uncapped = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_pairs(fp, max_hamming=3, bits=32).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_pairs(
            fp, max_hamming=3, bits=32, max_bucket=10
        ).collect()
    }
    clique = set(range(40))
    # uncapped: the full 40-choose-2 clique materializes at hamming 0
    assert {p for p in uncapped if p[0] in clique and p[1] in clique} == {
        (a, b) for a in clique for b in clique if a < b
    }
    # capped: exactly the min-doc star, every edge at exact hamming 0
    clique_pairs = {p for p in capped if p[0] in clique and p[1] in clique}
    assert clique_pairs == {(0, b) for b in range(1, 40)}
    assert all(capped[p] == 0 for p in clique_pairs)
    # every emitted pair keeps its uncapped hamming (subset, same values)
    assert all(uncapped[p] == hd for p, hd in capped.items())
    # the variants' own identical-fingerprint group also collapses to
    # its star, and its rep pairs with the megacluster's rep at
    # hamming 1 — clusters equal the uncapped form corpus-wide
    assert (0, 100) in capped and capped[(0, 100)] == 1
    nodes = {r[0] for r in rows}
    assert _uf_clusters(capped.keys(), nodes) == _uf_clusters(
        uncapped.keys(), nodes
    )
    var_cluster = next(c for c in _uf_clusters(capped.keys(), nodes) if 0 in c)
    assert {100, 101, 102} <= var_cluster


def test_simhash_cross_pairs_max_bucket(spark):
    """The cross-probe sibling: a degenerate STORE-side pigeonhole
    bucket (30 identical fingerprints) collapses to one representative
    per FULL fingerprint, so a probing batch doc Hamming-checks ONE row
    for the clique instead of 30 — emitted hammings exact and
    unchanged, pairs a subset of the uncapped form, the batch doc still
    reaching the clique's cluster via its min-doc representative (the
    same rep the within-batch star elects, per the documented
    store-history bootstrap precondition)."""
    from blockchair_etl_spark.llmdata.dedup import simhash_cross_pairs

    mega = 0x12345678
    store_rows = [(i, mega) for i in range(30)] + [
        (200 + j, (0x9E3779B9 * (j + 1)) & 0xFFFFFFFF) for j in range(8)
    ]
    batch_rows = [(500, mega ^ 1), (501, 0x0F0F0F0F)]
    store = spark.createDataFrame(store_rows, "doc bigint, simhash bigint")
    batch = spark.createDataFrame(batch_rows, "doc bigint, simhash bigint")

    uncapped = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_cross_pairs(batch, store, max_hamming=3).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_cross_pairs(
            batch, store, max_hamming=3, max_bucket=10
        ).collect()
    }
    # uncapped: the near-dup batch doc pairs with the whole clique
    assert {b for (a, b) in uncapped if a == 500} >= set(range(30))
    # capped: exactly the min-doc representative stands in for it
    assert {b for (a, b) in capped if a == 500 and b < 200} == {0}
    assert capped[(500, 0)] == 1
    # subset with unchanged exact hammings
    assert all(uncapped[p] == hd for p, hd in capped.items())
    # non-degenerate store buckets are untouched
    assert {p for p in uncapped if p[1] >= 200} == {
        p for p in capped if p[1] >= 200
    }


def test_embedding_max_bucket_parity_under_cap(spark, emb):
    """r15 verdict #6: with max_bucket above every observed LSH-bucket
    size, embedding_dup_pairs' capped path (counts + broadcast marker
    join + exact-vector rep/star branches, all live in the plan) must
    be bit-identical — ids AND cosines — to the uncapped form."""
    from blockchair_etl_spark.llmdata.dedup import embedding_dup_pairs
    from blockchair_etl_spark.llmdata.similarity import lsh_bucket_col

    dim = len(emb.head()["embedding"])
    biggest = (
        emb.select(
            lsh_bucket_col(F.col("embedding"), dim, n_planes=4, seed=7).alias(
                "blk"
            )
        )
        .groupBy("blk")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    capped = {
        (r.id_a, r.id_b, r.cosine)
        for r in embedding_dup_pairs(
            emb, threshold=0.3, dim=dim, lsh_planes=4, max_bucket=int(biggest)
        ).collect()
    }
    uncapped = {
        (r.id_a, r.id_b, r.cosine)
        for r in embedding_dup_pairs(
            emb, threshold=0.3, dim=dim, lsh_planes=4
        ).collect()
    }
    assert capped == uncapped and capped


def test_embedding_max_bucket_bounds_identical_megacluster(spark):
    """The planted identical-VECTOR megacluster (r15 verdict #6): 40
    exact copies of one embedding — the case adaptive plane count
    cannot help, because hyperplanes cannot split identical vectors
    under ANY seed. The capped path must (a) replace the clique's 780
    all-pairs with its 39-edge min-id star, (b) emit every pair at the
    cosine the uncapped path computes for it (stars ride the same
    exact-decimal rescore), and (c) keep connected components exactly
    equal to the uncapped form — a second identical-vector group (the
    2x-scaled copies: same direction, distinct value) collapses to its
    own star and its rep pairs with the clique's rep."""
    import numpy as np

    from blockchair_etl_spark.llmdata.dedup import embedding_dup_pairs

    rng = np.random.default_rng(3)
    dim = 8
    v0 = [float(x) for x in rng.standard_normal(dim)]
    rows = [(i, v0) for i in range(40)]
    # same direction, EXACT float scaling by 2 — identical buckets and
    # cosine, but a distinct vector value: its own identical group
    rows += [(100 + j, [2.0 * x for x in v0]) for j in range(3)]
    rows += [
        (200 + j, [float(x) for x in rng.standard_normal(dim)])
        for j in range(10)
    ]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    uncapped = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_dup_pairs(
            e, threshold=0.99, dim=dim, lsh_planes=4
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_dup_pairs(
            e, threshold=0.99, dim=dim, lsh_planes=4, max_bucket=10
        ).collect()
    }
    clique = set(range(40))
    assert {p for p in uncapped if p[0] in clique and p[1] in clique} == {
        (a, b) for a in clique for b in clique if a < b
    }
    clique_pairs = {p for p in capped if p[0] in clique and p[1] in clique}
    assert clique_pairs == {(0, b) for b in range(1, 40)}
    # subset with bit-identical cosines (stars scored by the same path)
    assert all(uncapped[p] == c for p, c in capped.items())
    # the scaled group's star and its rep's bridge to the clique's rep
    assert (100, 101) in capped and (100, 102) in capped
    assert (0, 100) in capped
    nodes = {r[0] for r in rows}
    assert _uf_clusters(capped.keys(), nodes) == _uf_clusters(
        uncapped.keys(), nodes
    )
    var_cluster = next(c for c in _uf_clusters(capped.keys(), nodes) if 0 in c)
    assert {100, 101, 102} <= var_cluster


def test_embedding_cross_max_bucket(spark):
    """The cross-probe sibling: a degenerate STORE-side bucket (30
    exact-duplicate embeddings) collapses to one representative per
    exact vector value, so a probing batch vector rescores ONE row for
    the clique instead of 30 — cosines unchanged, pairs a subset, the
    batch vector still reaching the clique's cluster via its min-id
    representative (per the documented store-history bootstrap
    precondition)."""
    import numpy as np

    from blockchair_etl_spark.llmdata.dedup import (
        build_embedding_store,
        incremental_embedding_dedup,
    )

    rng = np.random.default_rng(5)
    dim = 8
    v0 = [float(x) for x in rng.standard_normal(dim)]
    store_rows = [(i, v0) for i in range(30)] + [
        (200 + j, [float(x) for x in rng.standard_normal(dim)])
        for j in range(8)
    ]
    batch_rows = [(500, [2.0 * x for x in v0])]
    store = build_embedding_store(
        spark.createDataFrame(store_rows, "vec_id bigint, embedding array<float>"),
        dim, 4, 7, "vec_id", "embedding",
    )
    batch = spark.createDataFrame(
        batch_rows, "vec_id bigint, embedding array<float>"
    )

    un_pairs, _ = incremental_embedding_dedup(
        batch, store, dim, threshold=0.99, n_planes=4
    )
    uncapped = {(r.new_id, r.existing_id): r.cosine for r in un_pairs.collect()}
    cap_pairs, _ = incremental_embedding_dedup(
        batch, store, dim, threshold=0.99, n_planes=4, max_bucket=10
    )
    capped = {(r.new_id, r.existing_id): r.cosine for r in cap_pairs.collect()}
    assert {b for (a, b) in uncapped if a == 500} >= set(range(30))
    assert {b for (a, b) in capped if a == 500 and b < 200} == {0}
    assert all(uncapped[p] == c for p, c in capped.items())


def test_multimodal_features_batch_shape(spark, docs):
    media = docs.limit(20).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("text").cast("binary").alias("content"),
        F.lit("image/fake").alias("mime_type"),
        F.lit(8).cast("bigint").alias("width"),
        F.lit(8).cast("bigint").alias("height"),
        F.lit(None).cast("bigint").alias("duration_ms"),
        F.lit("synthetic://x").alias("source_uri"),
    )
    feats = mm.extract_features(media, feature_dim=16, fake_decode=True)
    rows = feats.collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r.features) == 16
        assert len(r.content_sha256) == 64
    # determinism: same content → same features
    again = {r.media_id: r.features for r in feats.collect()}
    for r in rows:
        assert again[r.media_id] == r.features


def test_multimodal_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"bytes", fake=False)


def test_hash_sampling_deterministic_and_salted(spark, docs):
    from blockchair_etl_spark.llmdata.sampling import hash_sample, hash_split

    s1 = sorted(r.doc_id for r in hash_sample(docs, "doc_id").select("doc_id").collect())
    s2 = sorted(r.doc_id for r in hash_sample(docs, "doc_id").select("doc_id").collect())
    assert s1 == s2 and 0 < len(s1) < docs.count()  # reproducible, nontrivial
    # a different salt draws an independent sample
    s3 = sorted(
        r.doc_id
        for r in hash_sample(docs, "doc_id", salt="v2").select("doc_id").collect()
    )
    assert s3 != s1
    # splits: total partition, stable under re-run
    splits = {r.doc_id: r.split for r in hash_split(docs, "doc_id").collect()}
    assert set(splits.values()) == {"train", "val", "test"}
    assert len(splits) == docs.count()


def test_pack_assignment_invariants(spark, docs):
    from blockchair_etl_spark.llmdata.packing import assign_packs

    budget = 500
    packs = assign_packs(docs, budget=budget, n_shards=4).collect()
    assert len(packs) == docs.count()
    by_shard: dict = {}
    for r in sorted(packs, key=lambda r: (r.shard, r.doc_id)):
        assert 0 <= r.pack_offset < budget
        assert r.shard == r.doc_id % 4
        prev = by_shard.get(r.shard)
        if prev is None:
            # first doc of a shard opens pack 0 at offset 0
            assert (r.pack_id, r.pack_offset) == (0, 0)
        else:
            # cumulative reconstruction: this doc starts where the
            # previous one ended
            cum = prev["cum"] + prev["n_tokens"]
            assert r.pack_id == cum // budget and r.pack_offset == cum % budget
        by_shard[r.shard] = {"cum": r.pack_id * budget + r.pack_offset, "n_tokens": r.n_tokens}


def test_multimodal_null_content_and_jvm_side_hash(spark):
    import hashlib

    media = spark.createDataFrame(
        [(1, "image", None, "image/fake", None, None, None, "u"),
         (2, "image", bytearray(b"abc"), "image/fake", None, None, None, "u")],
        schema=mm.MEDIA_SCHEMA,
    )
    feats = mm.extract_features(media, feature_dim=4, fake_decode=True)
    # sha256/n_bytes are Column expressions before the Python stage, so
    # they appear in the analyzed plan (not computed inside mapInPandas)
    assert "sha2" in feats._jdf.queryExecution().analyzed().toString()
    rows = {r.media_id: r for r in feats.collect()}
    assert rows[1].n_bytes == 0
    assert rows[1].content_sha256 == hashlib.sha256(b"").hexdigest()
    assert rows[2].n_bytes == 3
    assert rows[2].content_sha256 == hashlib.sha256(b"abc").hexdigest()
    assert len(rows[1].features) == 4


def test_multimodal_resize_deterministic_and_pruned(spark):
    import hashlib

    import numpy as np

    media = spark.createDataFrame(
        [
            (1, "image", bytearray(b"img-a"), "image/fake", 2, 2, None, "u"),
            (2, "image", None, "image/fake", None, None, None, "u"),
            (3, "video", bytearray(b"vid"), "video/fake", None, None, 1000, "u"),
        ],
        schema=mm.MEDIA_SCHEMA,
    )
    out = mm.resize_images(media, width=4, height=4)
    rows = {r.media_id: r for r in out.collect()}
    # non-image rows pruned Spark-side, before the Python stage
    assert set(rows) == {1, 2}
    for r in rows.values():
        assert (r.out_width, r.out_height) == (4, 4)
        assert len(r.pixels) == 4 * 4 * 3
        assert all(0.0 <= p <= 1.0 for p in r.pixels)
    # determinism: a second execution reproduces the pixels exactly
    again = {r.media_id: r.pixels for r in out.collect()}
    assert again == {k: r.pixels for k, r in rows.items()}
    # nearest-index upscale 2x2 -> 4x4 duplicates each source pixel into
    # a 2x2 block: reconstruct the fake-decoded source and check
    seed = int.from_bytes(hashlib.sha256(b"img-a").digest()[:8], "big")
    src = np.random.default_rng(seed).integers(0, 256, size=(2, 2, 3), dtype=np.uint8)
    got = np.array(rows[1].pixels, dtype=np.float32).reshape(4, 4, 3)
    idx = (np.arange(4) * 2) // 4  # [0, 0, 1, 1]
    want = (src[idx][:, idx].astype(np.float32) / 255.0)
    assert np.allclose(got, want)


def test_bytegrid_decoder_locality_and_ahash_parity(spark):
    """The bytegrid stub decoder must (a) preserve locality — payloads
    differing in a few bytes decode to grids differing in a few cells,
    so pixel near-dup detection exercises 0 < hamming <= k for real —
    and (b) match a plain-python reference bit-exactly (the property
    the DuckDB oracle relies on). Also pins the float32 round-trip:
    v/255 recovers v exactly for every byte value."""
    import numpy as np

    vals = (np.arange(256, dtype=np.uint8).astype(np.float32) / 255.0) * 255.0
    assert (np.round(vals.astype(np.float64)).astype(int) == np.arange(256)).all()

    base = b"hello world this is a payload with enough bytes"
    rows = [
        (1, "image", bytearray(base), "image/fake", 7, 9, None, "u"),
        # one byte differs -> at most a few grid cells differ
        (2, "image", bytearray(base[:-2] + b"Xs"), "image/fake", 7, 9, None, "u"),
        (3, "image", bytearray(b"completely different content entirely here!!!!!"),
         "image/fake", 7, 9, None, "u"),
        (4, "image", bytearray(b""), "image/fake", 5, 5, None, "u"),
    ]
    media = spark.createDataFrame(rows, schema=mm.MEDIA_SCHEMA)
    fp = mm.ahash_fingerprints(
        mm.resize_images(media, width=4, height=8, decoder="bytegrid")
    )
    got = {r.doc: r.simhash for r in fp.collect()}

    def ref_fp(payload, sw, sh, ow=4, oh=8):
        n_src = sw * sh
        if payload:
            raw = np.frombuffer(bytes(payload), dtype=np.uint8)
            gray = raw[(np.arange(n_src) * len(raw)) // n_src]
        else:
            gray = np.zeros(n_src, dtype=np.uint8)
        img = gray.reshape(sh, sw)
        g = img[(np.arange(oh) * sh) // oh][:, (np.arange(ow) * sw) // ow]
        g = g.reshape(-1).astype(int)
        return sum((1 << k) for k in range(len(g)) if g[k] * len(g) > g.sum())

    for mid, _, payload, _, sw, sh, _, _ in rows:
        assert got[mid] == ref_fp(payload, sw, sh), mid
    # locality: the 1-byte variant lands within a small Hamming ball;
    # the unrelated payload does not
    assert bin(got[1] ^ got[2]).count("1") <= 3
    assert bin(got[1] ^ got[3]).count("1") > 3
    assert got[4] == 0  # empty payload -> zero grid -> zero hash

    # 64-bit (8x8) scale configuration: the bit-63 cell rides the sign
    # bit via the OR fold — parity vs the same python reference with
    # two's-complement wrap, and the 64-bit pigeonhole block split
    # finds the near-dup pair
    from blockchair_etl_spark.llmdata.dedup import simhash_near_pairs

    fp64 = mm.ahash_fingerprints(
        mm.resize_images(media, width=8, height=8, decoder="bytegrid")
    )
    got64 = {r.doc: r.simhash for r in fp64.collect()}

    def to_i64(u):
        return u - (1 << 64) if u >= (1 << 63) else u

    for mid, _, payload, _, sw, sh, _, _ in rows:
        assert got64[mid] == to_i64(ref_fp(payload, sw, sh, ow=8, oh=8)), mid
    assert any(v < 0 for v in got64.values())  # bit 63 exercised
    pairs64 = {
        (r.id_a, r.id_b)
        for r in simhash_near_pairs(fp64, max_hamming=3, bits=64).collect()
    }
    want64 = {
        (a, b)
        for a in got64
        for b in got64
        if a < b and bin((got64[a] ^ got64[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    assert pairs64 == want64 and (1, 2) in pairs64


def test_incremental_media_dedup(spark, docs):
    """The media twin of incremental_minhash_dedup: cross pairs vs the
    persisted fingerprint store equal the full-corpus pigeonhole pairs
    restricted to new-vs-old; the batch side of the probe join is
    BROADCAST so the store never shuffles; an empty store yields no
    pairs and seeds the index."""
    from blockchair_etl_spark.llmdata.dedup import (
        incremental_media_dedup,
        media_byte_fingerprints,
        simhash_near_pairs,
    )

    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("content"),
    )
    old = media.filter(F.col("media_id") % 2 == 0)
    new = media.filter(F.col("media_id") % 2 == 1)
    store = media_byte_fingerprints(old)
    pairs, updated = incremental_media_dedup(new, store)
    got = {(r.id_a, r.id_b, r.hamming) for r in pairs.collect()}

    full = simhash_near_pairs(media_byte_fingerprints(media))
    want = {
        (a, b, h) if a % 2 == 1 else (b, a, h)
        for a, b, h in ((r.id_a, r.id_b, r.hamming) for r in full.collect())
        if (a % 2) != (b % 2)  # cross-split only; id_a is the NEW side
    }
    assert got == want and got  # non-trivial cross pairs exercised

    # updated store == fingerprints of the union, one row per payload
    up = {(r.doc, r.simhash) for r in updated.collect()}
    allfp = {(r.doc, r.simhash) for r in media_byte_fingerprints(media).collect()}
    assert up == allfp

    # empty-store seeding
    p0, s0 = incremental_media_dedup(new, None)
    assert p0.count() == 0
    assert {(r.doc, r.simhash) for r in s0.collect()} == {
        (r.doc, r.simhash) for r in media_byte_fingerprints(new).collect()
    }

    # plan gate: the probe join broadcasts the batch side
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_ahash_rgb_luma_sum(spark):
    """On true-RGB input (the rng decoder — channels differ), the aHash
    brightness test must use the per-cell CHANNEL SUM R+G+B, not channel
    0 alone (advisor r10: a channel-0 hash silently becomes an R-channel
    hash once a real codec lands). Pinned against a numpy reference; at
    least one image must witness sum != channel-0 so the assertion has
    teeth."""
    import hashlib

    import numpy as np

    rows = [
        (i, "image", bytearray(f"rgb payload {i}".encode()), "image/fake",
         5 + i, 6 + i, None, "u")
        for i in range(6)
    ]
    media = spark.createDataFrame(rows, schema=mm.MEDIA_SCHEMA)
    fp = mm.ahash_fingerprints(
        mm.resize_images(media, width=4, height=8, decoder="rng")
    )
    got = {r.doc: r.simhash for r in fp.collect()}

    def decode_resize(payload, sw, sh, ow=4, oh=8):
        seed = int.from_bytes(hashlib.sha256(bytes(payload)).digest()[:8], "big")
        img = np.random.default_rng(seed).integers(
            0, 256, size=(sh, sw, 3), dtype=np.uint8
        )
        r = img[(np.arange(oh) * sh) // oh][:, (np.arange(ow) * sw) // ow]
        # the float32 v/255 round-trip is exact, so the reference works
        # on the raw bytes directly
        return r.reshape(-1, 3).astype(int)

    def hash_of(cells):
        sums = cells.sum(axis=1)
        return sum(
            (1 << k) for k in range(len(sums)) if sums[k] * len(sums) > sums.sum()
        )

    witnessed = False
    for mid, _, payload, _, sw, sh, _, _ in rows:
        cells = decode_resize(payload, sw, sh)
        assert got[mid] == hash_of(cells), mid
        ch0 = cells[:, 0]
        ch0_hash = sum(
            (1 << k) for k in range(len(ch0)) if ch0[k] * len(ch0) > ch0.sum()
        )
        witnessed = witnessed or ch0_hash != hash_of(cells)
    assert witnessed  # at least one image distinguishes sum from channel 0


def test_incremental_media_store_replay_no_dup(spark, docs):
    """At-least-once replay: re-ingesting docs already in the store must
    not grow it — updated_store keeps one (doc, simhash) row per payload
    (advisor r10: unionByName alone duplicated replayed rows)."""
    from blockchair_etl_spark.llmdata.dedup import (
        incremental_media_dedup,
        media_byte_fingerprints,
    )

    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("content"),
    ).limit(40)
    store = media_byte_fingerprints(media)
    n = store.count()
    # replay the exact same batch against its own store
    _, updated = incremental_media_dedup(media, store)
    assert updated.count() == n
    assert updated.groupBy("doc").count().filter("count > 1").count() == 0
    # and the surviving rows are still the true fingerprints
    assert {(r.doc, r.simhash) for r in updated.collect()} == {
        (r.doc, r.simhash) for r in store.collect()
    }
    # scale gate: the replay-dedup must not shuffle the store — the
    # anti-join broadcasts the batch key set (no SortMergeJoin anywhere
    # in the write-back plan)
    plan = updated._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" in plan


def test_multimodal_joint_dedup_transitivity(spark, sf_dir):
    """The joint survivor rule is CC over the UNION edge set: a row must
    drop when a path of alternating-modality edges reaches a smaller id,
    even though neither modality alone links the endpoints. Pinned with
    an independent python union-find over the two per-modality pair
    sets (not the SQL oracle — this checks the composition semantics,
    not engine parity)."""
    from blockchair_etl_spark.llmdata import multimodal as mm_
    from blockchair_etl_spark.llmdata.dedup import (
        minhash_lsh_pairs,
        simhash_near_pairs,
    )
    from blockchair_etl_spark.queryset import (
        load_table,
        multimodal_joint_dedup_survivors,
    )

    docs_df = load_table(spark, sf_dir, "documents")
    tpairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs_df, num_hashes=16, band_size=4, threshold=0.5
        ).collect()
    }
    media = docs_df.selectExpr(
        "doc_id AS media_id",
        "CAST(text AS BINARY) AS content",
        "CAST(4 + doc_id % 13 AS LONG) AS width",
        "CAST(4 + doc_id % 11 AS LONG) AS height",
        "'image' AS kind",
    ).filter("length(content) > 0")
    ppairs = {
        (r.id_a, r.id_b)
        for r in simhash_near_pairs(
            mm_.ahash_fingerprints(
                mm_.resize_images(media, width=4, height=8, decoder="bytegrid")
            ),
            max_hamming=3,
            bits=32,
        ).collect()
    }

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in tpairs | ppairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    all_ids = {r.doc_id for r in docs_df.select("doc_id").collect()}
    want = {i for i in all_ids if find(i) == i}

    got = {
        r.doc_id for r in multimodal_joint_dedup_survivors(spark, sf_dir).collect()
    }
    assert got == want
    # the composition must be STRICTER than either modality alone on
    # this fixture, and the union must contain genuinely cross-modal
    # clusters (an edge set where neither side covers the other)
    assert tpairs - ppairs and ppairs - tpairs


def _joint_media_view(docs_df):
    """The synthetic (payload, metadata) media stand-in of the batch
    joint composition (queryset.joint_dedup_survivors) — the incremental
    tests must hash the SAME pixel inputs for cumulative parity."""
    return docs_df.selectExpr(
        "doc_id AS media_id",
        "CAST(text AS BINARY) AS content",
        "CAST(4 + doc_id % 13 AS LONG) AS width",
        "CAST(4 + doc_id % 11 AS LONG) AS height",
        "'image' AS kind",
    ).filter("length(content) > 0")


def test_joint_edge_set_max_bucket_both_modalities(spark):
    """r15 verdict #2 plumbing: joint_edge_set forwards max_bucket to
    ALL FOUR pair generators. A corpus with a planted identical-TEXT
    clique AND a planted identical-PAYLOAD media clique must, under a
    binding cap, emit far fewer edges while keeping the connected
    components exactly equal to the uncapped edge set — and the media
    cross probe (incremental_media_dedup) must collapse the store-side
    clique to its min-id representative."""
    from blockchair_etl_spark.llmdata.dedup import (
        incremental_media_dedup,
        joint_edge_set,
        media_byte_fingerprints,
        minhash_band_store,
    )

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, boiler) for i in range(20)]
    rows += [
        (200 + j, f"completely different text number {j} about topic {j * 7}")
        for j in range(6)
    ]
    docs_df = spark.createDataFrame(rows, "doc_id bigint, text string")
    media = docs_df.select(
        F.col("doc_id").alias("media_id"),
        # identical texts -> identical payloads -> identical byte-gram
        # fingerprints: the media-side megacluster
        F.col("text").cast("binary").alias("content"),
    )
    text_store = minhash_band_store(docs_df)
    fp = media_byte_fingerprints(media)

    uncapped = {
        (r.id_a, r.id_b)
        for r in joint_edge_set(text_store, fp, None, None).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in joint_edge_set(text_store, fp, None, None, max_bucket=8).collect()
    }
    clique = set(range(20))
    # uncapped: the 190-edge clique materializes (through either
    # modality); capped: the clique collapses to its min-id star
    assert {p for p in uncapped if p[0] in clique and p[1] in clique} == {
        (a, b) for a in clique for b in clique if a < b
    }
    assert {p for p in capped if p[0] in clique and p[1] in clique} == {
        (0, b) for b in range(1, 20)
    }
    nodes = {r[0] for r in rows}
    assert _uf_clusters(capped, nodes) == _uf_clusters(uncapped, nodes)

    # media cross probe under the cap: a store-side identical clique is
    # probed through one representative
    store = media_byte_fingerprints(
        media.filter(F.col("media_id") < 200)
    )
    batch = media.filter(F.col("media_id") == 200).unionByName(
        media.filter(F.col("media_id") == 0).select(
            F.lit(500).alias("media_id"), "content"
        )
    )
    pairs_unc, _ = incremental_media_dedup(batch, store)
    pairs_cap, _ = incremental_media_dedup(batch, store, max_bucket=8)
    unc = {(r.id_a, r.id_b, r.hamming) for r in pairs_unc.collect()}
    cap = {(r.id_a, r.id_b, r.hamming) for r in pairs_cap.collect()}
    assert {b for (a, b, h) in unc if a == 500} >= clique
    assert {b for (a, b, h) in cap if a == 500} == {0}
    assert cap <= unc


def test_incremental_joint_dedup_cumulative_parity(spark, sf_dir):
    """r11 verdict #5: the incremental cross-modal twin. Feeding the
    corpus through in two batches (bootstrap, then probe-both-stores)
    and unioning the emitted edge sets must reproduce the batch joint
    operator's survivors EXACTLY via the shared survivor rule."""
    from blockchair_etl_spark.llmdata.dedup import (
        incremental_joint_dedup,
        survivors_from_edges,
    )
    from blockchair_etl_spark.queryset import joint_dedup_survivors, load_table

    docs_df = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs_df.filter(F.col("doc_id") % 2 == 0)
    b2 = docs_df.filter(F.col("doc_id") % 2 == 1)

    e1, ts1, ms1 = incremental_joint_dedup(b1, _joint_media_view(b1), None, None)
    e2, ts2, ms2 = incremental_joint_dedup(
        b2, _joint_media_view(b2), ts1, ms1
    )
    cum = e1.unionByName(e2).distinct()
    got = {r.doc_id for r in survivors_from_edges(docs_df, cum).collect()}
    want = {
        r.doc_id for r in joint_dedup_survivors(docs_df, width=4, height=8).collect()
    }
    assert got == want
    # both modalities must contribute cross-batch edges on this fixture
    # (otherwise the test isn't exercising the store probes)
    b2_ids = {r.doc_id for r in b2.select("doc_id").collect()}
    cross = [
        (r.id_a, r.id_b)
        for r in e2.collect()
        if (r.id_a in b2_ids) != (r.id_b in b2_ids)
    ]
    assert cross


def test_incremental_joint_dedup_replay_idempotent(spark, sf_dir):
    """At-least-once replay of a batch against the already-updated
    stores: no self-pairs, no NEW pairs beyond the cumulative set (as
    unordered pairs — the replayed batch meets its own registered rows
    in the store, so orientation can flip), both stores keep exactly
    one row per key (the _dedup_store_union contract, now ×2), and the
    survivor set is unchanged."""
    from blockchair_etl_spark.llmdata.dedup import (
        incremental_joint_dedup,
        survivors_from_edges,
    )
    from blockchair_etl_spark.queryset import load_table

    docs_df = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs_df.filter(F.col("doc_id") % 2 == 0)
    b2 = docs_df.filter(F.col("doc_id") % 2 == 1)
    e1, ts1, ms1 = incremental_joint_dedup(b1, _joint_media_view(b1), None, None)
    e2, ts2, ms2 = incremental_joint_dedup(b2, _joint_media_view(b2), ts1, ms1)
    cum = {
        frozenset((r.id_a, r.id_b))
        for r in e1.unionByName(e2).distinct().collect()
    }

    er, tsr, msr = incremental_joint_dedup(b2, _joint_media_view(b2), ts2, ms2)
    replay_edges = er.collect()
    assert not [r for r in replay_edges if r.id_a == r.id_b]
    assert {frozenset((r.id_a, r.id_b)) for r in replay_edges} <= cum

    n_docs = docs_df.count()
    n_media = _joint_media_view(docs_df).count()
    for store, n in ((tsr, n_docs), (msr, n_media)):
        assert store.count() == n
        assert store.groupBy("doc").count().filter("count > 1").count() == 0

    base = {r.doc_id for r in survivors_from_edges(docs_df, e1.unionByName(e2).distinct()).collect()}
    with_replay = {
        r.doc_id
        for r in survivors_from_edges(
            docs_df, e1.unionByName(e2).unionByName(er).distinct()
        ).collect()
    }
    assert with_replay == base


def test_frame_sampling_plan(spark):
    media = spark.createDataFrame(
        [(1, "video", None, "video/fake", None, None, 3500, "u")],
        schema=mm.MEDIA_SCHEMA,
    )
    frames = mm.sample_frames(media, every_ms=1000).collect()
    assert [r.frame_ts_ms for r in frames] == [0, 1000, 2000, 3000]


def test_incremental_minhash_dedup(spark, docs):
    from blockchair_etl_spark.llmdata.dedup import (
        incremental_minhash_dedup,
        minhash_band_store,
        minhash_lsh_pairs,
    )

    # split the corpus into "yesterday" and "today"
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    store = minhash_band_store(old)
    pairs, updated = incremental_minhash_dedup(new, store)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}

    # ground truth: full-corpus LSH pairs that cross the old/new split
    full = minhash_lsh_pairs(docs, threshold=0.5).collect()
    cross = {
        (r.id_a, r.id_b) if r.id_a % 2 == 1 else (r.id_b, r.id_a)
        for r in full
        if (r.id_a % 2) != (r.id_b % 2)
    }
    assert got == cross
    assert updated.count() == docs.count()

    # bootstrap: no store yet → no pairs, store seeded
    first_pairs, first_store = incremental_minhash_dedup(new, None)
    assert first_pairs.count() == 0
    assert first_store.count() == new.count()

    # at-least-once replay: re-presenting today's batch against the
    # already-updated store must emit no self-pairs and not grow the
    # store (one row per doc — advisor r10 contract, all three twins)
    rp, rs = incremental_minhash_dedup(new, updated)
    assert not [r for r in rp.collect() if r.id_a == r.id_b]
    assert rs.count() == docs.count()
    assert rs.groupBy("doc").count().filter("count > 1").count() == 0

    # broadcast_new=False (advisor r11: the near-store-sized-batch
    # escape hatch) must be a pure strategy knob — identical pairs,
    # identical store, and no broadcast on the write-back anti-join
    pairs_nb, updated_nb = incremental_minhash_dedup(
        new, store, broadcast_new=False
    )
    assert {(r.id_a, r.id_b) for r in pairs_nb.collect()} == cross
    assert updated_nb.exceptAll(updated).count() == 0
    assert updated.exceptAll(updated_nb).count() == 0
    # the knob removes the forced broadcast HINT (size-based planning
    # may still pick one on a tiny fixture — that's AQE's call, the
    # point is a store-sized batch is no longer FORCED through it)
    assert "ResolvedHint" not in updated_nb._jdf.queryExecution().analyzed().toString()
    # ...and with the default the probe DOES force the batch side's
    # broadcast (r12: the cross probe no longer trusts AQE size
    # estimation — the corpus-sized band store must never shuffle),
    # same for the write-back anti-join
    assert "ResolvedHint" in pairs._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in updated._jdf.queryExecution().analyzed().toString()


def test_repetition_stats_edge_cases(spark):
    from blockchair_etl_spark.llmdata.text import repetition_stats

    df = spark.createDataFrame(
        [(1, ""), (2, "word"), (3, "a a a b")], "doc_id bigint, text string"
    )
    rep = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert rep[1].n_words == 0 and rep[1].dup_word_ratio == 0.0
    assert rep[2].n_words == 1 and rep[2].dup_bigram_ratio == 0.0
    assert rep[3].dup_word_ratio == 0.5 and rep[3].top_word_ratio == 0.75
    assert abs(rep[3].dup_bigram_ratio - 1 / 3) < 1e-12  # [a a, a a, a b]


def test_pii_scrub_replaces_and_counts(spark):
    from blockchair_etl_spark.llmdata.text import pii_scrub

    df = spark.createDataFrame(
        [(1, "mail a.b@c.de card 4111222233334444 ok x1")],
        "doc_id bigint, text string",
    )
    row = pii_scrub(df, "text", "doc_id").first()
    assert row.n_emails == 1 and row.n_numbers == 1
    assert "<EMAIL>" in row.scrubbed and "<NUM>" in row.scrubbed
    assert "4111" not in row.scrubbed and "a.b@c.de" not in row.scrubbed
    assert "x1" in row.scrubbed  # single digits survive


def test_stratified_sample_rates_and_determinism(spark, docs):
    from blockchair_etl_spark.llmdata.sampling import stratified_sample

    thresholds = {"en": "40", "de": "ff"}
    s1 = stratified_sample(docs, "lang", thresholds, "doc_id")
    s2 = stratified_sample(docs, "lang", thresholds, "doc_id")
    got1 = {r.doc_id for r in s1.select("doc_id").collect()}
    got2 = {r.doc_id for r in s2.select("doc_id").collect()}
    assert got1 == got2  # reproducible selection
    rates = {
        r.lang: r.n
        for r in s1.groupBy("lang").count().withColumnRenamed("count", "n").collect()
    }
    totals = {
        r.lang: r.n
        for r in docs.groupBy("lang").count().withColumnRenamed("count", "n").collect()
    }
    # 'ff' keeps ~all of de, '40' keeps ~25% of en, others dropped entirely
    assert set(rates) <= {"en", "de"}
    assert rates["de"] >= 0.9 * totals["de"]
    assert 0.1 * totals["en"] < rates["en"] < 0.45 * totals["en"]


def test_reservoir_per_group_deterministic_and_sized(spark, docs):
    from blockchair_etl_spark.llmdata.sampling import reservoir_per_group

    s1 = reservoir_per_group(docs, "lang", "doc_id", k=3)
    s2 = reservoir_per_group(docs, "lang", "doc_id", k=3)
    got1 = sorted(r.doc_id for r in s1.select("doc_id").collect())
    got2 = sorted(r.doc_id for r in s2.select("doc_id").collect())
    assert got1 == got2
    sizes = {r.lang: r.n for r in s1.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    totals = {r.lang: r.n for r in docs.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    for lang, n in sizes.items():
        assert n == min(3, totals[lang])
    # a different salt draws a different sample (same sizes)
    s3 = reservoir_per_group(docs, "lang", "doc_id", k=3, salt="v2")
    got3 = sorted(r.doc_id for r in s3.select("doc_id").collect())
    assert got3 != got1


def test_tfidf_rare_term_outranks_common(spark):
    from blockchair_etl_spark.llmdata.text import tfidf_topk

    rows = [(1, "alpha shared shared"), (2, "beta shared shared"), (3, "gamma shared shared")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    top1 = tfidf_topk(docs, k=1).collect()
    # 'shared' has tf=2 but df=3; each rare term has tf=1, df=1 →
    # score 1*3/1=3 beats 2*3/3=2: idf dominates raw frequency
    by_doc = {r.doc_id: r.term for r in top1}
    assert by_doc == {1: "alpha", 2: "beta", 3: "gamma"}


def test_bow_cosine_max_df_subset_with_exact_scores(spark, docs):
    from blockchair_etl_spark.llmdata.dedup import bow_cosine_pairs

    full = {
        (r.id_a, r.id_b): r.cos_sim
        for r in bow_cosine_pairs(docs, threshold=0.9).collect()
    }
    pruned = {
        (r.id_a, r.id_b): r.cos_sim
        for r in bow_cosine_pairs(docs, threshold=0.9, max_df=200).collect()
    }
    assert set(pruned) <= set(full)
    for pair, score in pruned.items():
        assert score == full[pair]  # rescore is EXACT, only recall is traded


def test_bow_cosine_zipf_fixture_df_bound_prunes_and_recalls(spark):
    from pyspark.sql import functions as F

    from blockchair_etl_spark.llmdata.dedup import bow_cosine_pairs
    from blockchair_etl_spark.testing import zipfian_corpus

    docs = zipfian_corpus(spark, n_docs=600, vocab=20_000, dup_frac=0.1)
    # deterministic generation: same args → bit-identical corpus
    a = docs.selectExpr("sum(xxhash64(doc_id, text)) AS h").head().h
    b = (
        zipfian_corpus(spark, n_docs=600, vocab=20_000, dup_frac=0.1)
        .selectExpr("sum(xxhash64(doc_id, text)) AS h")
        .head()
        .h
    )
    assert a == b
    # Zipf tail: most terms are rare, so the df bound prunes candidates
    tf = docs.select(F.col("doc_id"), F.explode(F.split("text", " ")).alias("t"))
    df_counts = tf.distinct().groupBy("t").count()
    rare_frac = df_counts.filter(F.col("count") <= 20).count() / df_counts.count()
    assert rare_frac > 0.9
    # the 60 planted near-dup pairs survive df-bounding + min_shared_terms
    got = bow_cosine_pairs(
        docs, threshold=0.8, max_df=20, min_shared_terms=2
    ).collect()
    planted = {(r.id_a, r.id_b) for r in got if r.id_b == r.id_a + 540}
    assert len(planted) == 60
    full = {
        (r.id_a, r.id_b): r.cos_sim
        for r in bow_cosine_pairs(docs, threshold=0.8).collect()
    }
    for r in got:
        assert full[(r.id_a, r.id_b)] == r.cos_sim


def test_contamination_benchmark_docs_score_one(spark, docs):
    from blockchair_etl_spark.llmdata.dedup import contamination_scores
    from blockchair_etl_spark.llmdata.sampling import hash_sample

    bench = hash_sample(docs, id_col="doc_id", prefix_lt="20")
    bench_ids = {r.doc_id for r in bench.select("doc_id").collect()}
    assert bench_ids  # sample is non-empty
    scores = contamination_scores(docs, bench, n=3)
    by_doc = {r.doc: r.contamination for r in scores.collect()}
    for b in bench_ids:
        if b in by_doc:  # docs shorter than n produce no shingles
            assert by_doc[b] == 1.0  # a benchmark member is fully contaminated
    # and docs outside the benchmark are not all contaminated
    outside = [v for k, v in by_doc.items() if k not in bench_ids]
    assert any(v < 1.0 for v in outside)


def test_decontaminate_removes_planted_overlap(spark):
    """decontaminate = the ACTION on contamination_scores: docs at or
    above the overlap threshold are dropped, sub-n docs and clean docs
    survive with all columns intact; parity against a plain-python
    shingle-overlap reference."""
    from blockchair_etl_spark.llmdata.dedup import decontaminate

    eval_text = "the quick brown fox jumps over the lazy dog today"
    rows = [
        (1, eval_text, 10),  # verbatim eval member -> contamination 1.0
        (2, "the quick brown fox jumps over something else entirely now", 20),
        (3, "completely unrelated training text with no shared trigrams", 30),
        (4, "too short", 40),  # < n tokens -> no shingles -> clean
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, extra bigint")
    bench = spark.createDataFrame([(100, eval_text)], "doc_id bigint, text string")

    def shingles(t, n=3):
        toks = t.split()
        return {tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    bset = shingles(eval_text)
    expect_keep = {
        did
        for did, t, _ in rows
        if not shingles(t) or len(shingles(t) & bset) / len(shingles(t)) < 0.3
    }
    out = decontaminate(docs, bench, threshold=0.3)
    got = {r.doc_id: r for r in out.collect()}
    assert set(got) == expect_keep
    assert 1 not in got  # the verbatim eval member is gone
    assert got[4].extra == 40  # columns ride through untouched
    # strict mode (threshold=0.0): any overlap at all drops the
    # partially-overlapping doc; zero-overlap docs are NOT vacuously
    # dropped (the n_hits > 0 guard)
    strict = {r.doc_id for r in decontaminate(docs, bench, threshold=0.0).collect()}
    assert strict == {3, 4}


def test_decontaminate_composes_into_prep(spark, docs):
    """The v4-shape composition (r9 verdict #6): decontamination slots
    between normalization and the downstream gates as one more
    predicate stage, and the composed output is exactly 'pipeline
    output minus contaminated ids' — plus the plan-level contract that
    the benchmark shingle side joins BROADCAST (eval suites are tiny;
    the corpus-side stream must never shuffle on the eval join)."""
    from blockchair_etl_spark.llmdata.dedup import (
        contamination_scores,
        decontaminate,
        exact_duplicate_groups,
    )
    from blockchair_etl_spark.llmdata.text import gopher_quality_gate, normalize_text

    # the eval set is compared in the SAME normalized space as the corpus
    bench = normalize_text(docs.filter(F.col("doc_id") % 7 == 0))
    normed = normalize_text(docs)

    # composed: normalize -> decontaminate -> gate -> exact dedup
    clean = decontaminate(normed, bench, threshold=0.5, text_col="norm_text")
    gated = gopher_quality_gate(clean, text_col="norm_text").filter("keep")
    kept = clean.join(gated.select("doc_id"), "doc_id")
    survivors = kept.join(
        exact_duplicate_groups(kept, text_col="norm_text")
        .select(F.col("canonical_id").alias("doc_id")),
        "doc_id",
    )
    got = {r.doc_id for r in survivors.select("doc_id").collect()}

    # independent expectation: the same chain WITHOUT decontamination,
    # minus the contaminated id set (scored on the same normalized text)
    gated0 = gopher_quality_gate(normed, text_col="norm_text").filter("keep")
    contaminated = {
        r.doc
        for r in contamination_scores(normed, bench, text_col="norm_text")
        .filter(F.col("contamination") >= 0.5)
        .collect()
    }
    kept0 = normed.join(gated0.select("doc_id"), "doc_id").filter(
        ~F.col("doc_id").isin(contaminated) if contaminated else F.lit(True)
    )
    survivors0 = kept0.join(
        exact_duplicate_groups(kept0, text_col="norm_text")
        .select(F.col("canonical_id").alias("doc_id")),
        "doc_id",
    )
    want = {r.doc_id for r in survivors0.select("doc_id").collect()}
    assert got == want and contaminated  # non-trivial removal exercised

    # plan gate: the eval-SHINGLE join specifically is a broadcast hash
    # join (other joins in the composed pipeline may legitimately
    # sort-merge on doc_id; the corpus-side shingle stream must not
    # shuffle on feat)
    import re

    plan = survivors._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"BroadcastHashJoin \[feat#\d+", plan), plan[:2000]
    assert not re.search(r"SortMergeJoin \[feat#\d+", plan)


def _ref_bpe(texts, n_merges, min_pair_count=2):
    """Plain-python BPE reference with the module's documented
    semantics: count-desc / (l, r)-lexicographic-asc tie-break, greedy
    left-to-right merge fold."""
    import re
    from collections import Counter

    freqs = Counter()
    for t in texts:
        for w in re.split(r"[^a-z0-9]+", (t or "").lower()):
            if w:
                freqs[w] += 1
    words = {w: list(w) for w in freqs}

    def fold(syms, l, r):
        out = []
        for x in syms:
            if out and out[-1] == l and x == r:
                out[-1] = l + r
            else:
                out.append(x)
        return out

    merges = []
    for _ in range(n_merges):
        pc = Counter()
        for w, syms in words.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += freqs[w]
        if not pc:
            break
        (l, r), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_pair_count:
            break
        merges.append((l, r))
        words = {w: fold(s, l, r) for w, s in words.items()}
    return merges, fold


def test_bpe_train_apply_parity(spark, docs):
    """The distributed BPE merge loop must learn EXACTLY the merge list
    a plain-python reference learns (deterministic tie-break), and
    bpe_apply must encode every document identically to folding the
    merges by hand — including early stop when no pair reaches
    min_pair_count, empty-text rows, and overlapping-run greedy
    semantics ([a a a] -> [aa a])."""
    import re

    from blockchair_etl_spark.llmdata.tokenizer import (
        bpe_apply,
        bpe_train,
        encode_words,
    )

    sample = docs.limit(120).select("doc_id", "text")
    texts = [r.text for r in sample.collect()]
    want_merges, fold = _ref_bpe(texts, n_merges=12)
    got_merges = bpe_train(sample, n_merges=12)
    assert got_merges == want_merges and len(got_merges) == 12

    applied = {r.doc_id: list(r.tokens) for r in bpe_apply(sample, got_merges).collect()}
    for r in sample.collect():
        toks = []
        for w in re.split(r"[^a-z0-9]+", (r.text or "").lower()):
            if w:
                syms = list(w)
                for l, rr in got_merges:
                    syms = fold(syms, l, rr)
                toks.extend(syms)
        assert applied[r.doc_id] == toks, r.doc_id

    # early stop: a corpus whose best pair is a hapax learns nothing
    # further; greedy overlap pinned explicitly on 'aaa'
    tiny = spark.createDataFrame(
        [(1, "aaa aaa"), (2, "b"), (3, None)], "doc_id bigint, text string"
    )
    m = bpe_train(tiny, n_merges=5, min_pair_count=2)
    assert m[0] == ("a", "a")  # freq-2 'aaa' drives the first merge
    enc = {
        r.word: list(r.toks)
        for r in encode_words(
            spark.createDataFrame([("aaa",)], "word string"), m[:1]
        ).collect()
    }
    assert enc["aaa"] == ["aa", "a"]
    out = {r.doc_id: (list(r.tokens), r.n_tokens) for r in bpe_apply(tiny, m).collect()}
    assert out[3] == ([], 0)  # NULL text keeps a row

    # plan hygiene: apply runs no Python stage (all folds are JVM-side)
    plan = (
        bpe_apply(sample, got_merges)._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan and "InPandas" not in plan

    # artifact round-trip: the merge list survives a parquet write/read
    # with ORDER intact (order is the model), and applying the reloaded
    # vocabulary is identical
    import tempfile

    from blockchair_etl_spark.llmdata.tokenizer import (
        frame_to_merges,
        merges_to_frame,
    )

    with tempfile.TemporaryDirectory() as td:
        path = f"{td}/bpe_vocab"
        merges_to_frame(spark, got_merges).write.parquet(path)
        reloaded = frame_to_merges(spark.read.parquet(path))
    assert reloaded == got_merges
    re_applied = {
        r.doc_id: list(r.tokens) for r in bpe_apply(sample, reloaded).collect()
    }
    assert re_applied == applied


def _ref_bpe_batched(texts, n_merges, batch_k, min_pair_count=2):
    """Plain-python replay of the BATCHED train semantics: per round,
    snapshot pair counts, take the top batch_k*CANDIDATE_FACTOR
    candidates ≥ min_pair_count in (cnt desc, (l, r) asc) order, pick
    symbol-disjoint pairs via the module's own select_disjoint, apply
    them sequentially. Returns (merges, per-round audit rows) — the
    audit carries each pick's snapshot count AND its recomputed count
    just before its own application (the invariance bound)."""
    import re
    from collections import Counter

    from blockchair_etl_spark.llmdata.tokenizer import (
        CANDIDATE_FACTOR,
        select_disjoint,
    )

    freqs = Counter()
    for t in texts:
        for w in re.split(r"[^a-z0-9]+", (t or "").lower()):
            if w:
                freqs[w] += 1
    words = {w: list(w) for w in freqs}

    def fold(syms, l, r):
        out = []
        for x in syms:
            if out and out[-1] == l and x == r:
                out[-1] = l + r
            else:
                out.append(x)
        return out

    def counts():
        pc = Counter()
        for w, syms in words.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += freqs[w]
        return pc

    merges, audit, round_no = [], [], 0
    while len(merges) < n_merges:
        k = min(batch_k, n_merges - len(merges))
        pc = counts()
        cands = sorted(
            ((l, r, c) for (l, r), c in pc.items() if c >= min_pair_count),
            key=lambda t: (-t[2], t[0], t[1]),
        )[: k * CANDIDATE_FACTOR if k > 1 else 1]
        if not cands:
            break
        snap = {(l, r): c for l, r, c in cands}
        picked = select_disjoint(cands, k)
        for l, r in picked:
            audit.append((round_no, l, r, snap[(l, r)], counts()[(l, r)]))
            words = {w: fold(s, l, r) for w, s in words.items()}
        merges.extend(picked)
        round_no += 1
    return merges, audit


def test_bpe_train_batched_rounds(spark, docs):
    """r11 verdict #3 — top-k-batched merge rounds. Pins (a) batch_k=1
    ≡ strict sequential BPE, (b) exact parity of batch_k=4 against the
    plain-python batched reference, (c) the divergence BOUND: every
    batched pick's pair count at its actual merge turn equals the
    snapshot count it was ranked by (the symbol-disjoint selection
    rule's invariance guarantee), counts non-increasing within a round,
    all ≥ min_pair_count, and (d) a constructed fixture where strict
    and batched genuinely diverge — by deferral only."""
    from blockchair_etl_spark.llmdata.tokenizer import bpe_train

    sample = docs.limit(120).select("doc_id", "text")
    texts = [r.text for r in sample.collect()]

    # (a) k=1 is bit-for-bit the strict semantics
    strict, _ = _ref_bpe(texts, n_merges=10)
    assert bpe_train(sample, n_merges=10, batch_k=1) == strict

    # (b) exact parity with the batched python reference at k=4
    want, audit = _ref_bpe_batched(texts, n_merges=12, batch_k=4)
    got = bpe_train(sample, n_merges=12, batch_k=4)
    assert got == want and len(got) == 12

    # (c) the invariance/divergence bound on the same run
    assert len(audit) == 12, "audit must cover every merge"
    for _, l, r, snap_cnt, at_merge_cnt in audit:
        assert at_merge_cnt == snap_cnt, (l, r)
        assert snap_cnt >= 2
    # within each round, picks ranked non-increasing by snapshot count
    prev_round, prev_cnt = None, None
    for rnd, _, _, snap_cnt, _ in audit:
        if rnd == prev_round:
            assert snap_cnt <= prev_cnt
        prev_round, prev_cnt = rnd, snap_cnt

    # (d) deferral divergence, constructed: 'abc'×10 — strict merges
    # (a,b) then the newly-created (ab,c); the batch round can't pick
    # (b,c) (shares b) so it takes (d,e) and defers (ab,c) one round
    tiny = spark.createDataFrame(
        [(i, "abc") for i in range(10)] + [(100 + i, "de") for i in range(5)],
        "doc_id bigint, text string",
    )
    s3 = bpe_train(tiny, n_merges=3, batch_k=1)
    b3 = bpe_train(tiny, n_merges=3, batch_k=2)
    assert s3 == [("a", "b"), ("ab", "c"), ("d", "e")]
    assert b3 == [("a", "b"), ("d", "e"), ("ab", "c")]
    assert s3 != b3 and set(s3) == set(b3)  # order-only divergence here


def test_bpe_vectorized_encoder_parity(spark):
    """The merge-list length picks the fold: up to FOLD_MERGE_LIMIT
    merges run as one JVM projection, a longer list as the
    Arrow-batched Python fold. Both sides of the limit must equal
    _py_fold_merges word for word (a seeded random vocabulary, the
    empty word, NULL, overlapping runs) and bpe_apply must equal
    folding each document by hand; bpe_train with batch_k above the
    limit must match the batched python reference."""
    import random
    import re

    from blockchair_etl_spark.llmdata.tokenizer import (
        FOLD_MERGE_LIMIT,
        _py_fold_merges,
        bpe_apply,
        bpe_train,
        encode_words,
    )

    # the documents fixture has 31 distinct words, too few for a
    # merge list past the limit
    rng = random.Random(14)
    vocab = [
        "".join(rng.choice("abcdefghij") for _ in range(rng.randint(2, 9)))
        for _ in range(400)
    ]
    texts = [" ".join(rng.choice(vocab) for _ in range(20)) for _ in range(60)]
    texts += ["", None]
    sample = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    n_long = 2 * FOLD_MERGE_LIMIT
    want_big_k, _ = _ref_bpe_batched(texts, n_merges=n_long, batch_k=n_long)
    merges = bpe_train(sample, n_merges=n_long, batch_k=n_long)
    assert merges == want_big_k and len(merges) == n_long

    words = sample.select(
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("word")
    ).union(
        spark.createDataFrame([("aaa",), ("",), (None,)], "word string")
    ).distinct()

    def by_hand(word, ms):
        return None if word is None else _py_fold_merges(list(word) or [""], ms)

    for n in (FOLD_MERGE_LIMIT, n_long):
        ms = merges[:n]
        enc = encode_words(words, ms)
        plan = enc._jdf.queryExecution().executedPlan().toString()
        assert ("InPandas" in plan) == (n > FOLD_MERGE_LIMIT), n
        got = {r.word: r.toks and list(r.toks) for r in enc.collect()}
        assert got == {w: by_hand(w, ms) for w in got}, n

        applied = {r.doc_id: list(r.tokens) for r in bpe_apply(sample, ms).collect()}
        for r in sample.collect():
            toks = []
            for w in re.split(r"[^a-z0-9]+", (r.text or "").lower()):
                if w:
                    toks.extend(by_hand(w, ms))
            assert applied[r.doc_id] == toks, (n, r.doc_id)

    # overlapping runs and the empty word on the Python side of the
    # limit: the split('') -> [''] shape must be matched exactly
    tiny = spark.createDataFrame([("aaa",), ("",)], "word string")
    got = {
        r.word: list(r.toks)
        for r in encode_words(tiny, [("a", "a")] * (FOLD_MERGE_LIMIT + 1)).collect()
    }
    assert got == {"aaa": ["aa", "a"], "": [""]}


def _ref_hf_bpe(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Independent HF/GPT-2-style reference encode, written in the
    shape of the published gpt-2 `bpe()` loop (min-by-rank over the
    pair SET, then one merge pass) rather than the engine's
    scan-for-best form — so a shared bug can't hide."""
    ranks: dict[tuple[str, str], float] = {}
    for i, p in enumerate(merges):
        if p not in ranks:
            ranks[p] = i
    syms = list(word) if word else [""]
    while True:
        pairs = {(syms[i], syms[i + 1]) for i in range(len(syms) - 1)}
        if not pairs:
            break
        bigram = min(pairs, key=lambda p: ranks.get(p, float("inf")))
        if bigram not in ranks:
            break
        first, second = bigram
        new: list[str] = []
        i = 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == first and syms[i + 1] == second:
                new.append(first + second)
                i += 2
            else:
                new.append(syms[i])
                i += 1
        syms = new
    return syms


def test_bpe_rank_priority_strategy(spark, docs):
    """r12 verdict #3: rank-priority (HF/GPT-2) encode as a DOCUMENTED
    variant. Pins (a) the crafted divergence fixture where greedy
    sequential ≠ rank-priority, (b) fuzzed parity vs an independent
    plain-python HF-style reference, (c) agreement with sequential on
    every TRAINED merge list (training can't produce a rank table
    where an early merge consumes a later merge's output token), and
    (d) the bpe_apply plumbing + guards."""
    import pytest

    from blockchair_etl_spark.llmdata.tokenizer import (
        _py_fold_merges,
        _py_rank_priority_merges,
        bpe_apply,
        bpe_train,
        encode_words,
    )

    # (a) divergence fixture: merge 0 = (a, bc) references the token
    # merge 1 CREATES. Sequential replays in order (merge 0 never
    # applies: no 'bc' yet); rank-priority applies (b,c) first, then
    # re-visits rank 0 on the new adjacency and fully fuses the word.
    crafted = [("a", "bc"), ("b", "c")]
    assert _py_fold_merges(["a", "b", "c"], crafted) == ["a", "bc"]
    assert _py_rank_priority_merges(
        ["a", "b", "c"], {p: i for i, p in enumerate(crafted)}
    ) == ["abc"]
    tiny = spark.createDataFrame([("abc",)], "word string")
    seq = encode_words(tiny, crafted).collect()[0]
    rp = encode_words(tiny, crafted, strategy="rank_priority").collect()[0]
    assert list(seq.toks) == ["a", "bc"]
    assert list(rp.toks) == ["abc"]

    # (b) fuzzed parity vs the independent HF-style reference: random
    # words over a 3-symbol alphabet (dense pair collisions), random
    # merge lists INCLUDING multi-char + duplicate pairs
    import random

    rng = random.Random(1307)
    alpha = "abc"
    words, merge_lists = [], []
    for _ in range(40):
        words.append("".join(rng.choice(alpha) for _ in range(rng.randint(0, 12))))
    for _ in range(12):
        ms = []
        toks = list(alpha)
        for _ in range(rng.randint(1, 8)):
            l, r = rng.choice(toks), rng.choice(toks)
            ms.append((l, r))
            toks.append(l + r)
        rng.shuffle(ms)  # shuffled ranks = the crafted-import regime
        merge_lists.append(ms)
    wdf = spark.createDataFrame([(w,) for w in words], "word string")
    for ms in merge_lists:
        got = {
            r.word: list(r.toks)
            for r in encode_words(
                wdf, ms, strategy="rank_priority"
            ).collect()
        }
        want = {w: _ref_hf_bpe(w, ms) for w in words}
        assert got == want, ms

    # (c) on a TRAINED merge list the strategies agree word-for-word
    sample = docs.limit(80).select("doc_id", "text")
    trained = bpe_train(sample, n_merges=10)
    corpus_words = sample.select(
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("word")
    ).distinct()
    a = {
        r.word: list(r.toks)
        for r in encode_words(corpus_words, trained).collect()
    }
    b = {
        r.word: list(r.toks)
        for r in encode_words(
            corpus_words, trained, strategy="rank_priority"
        ).collect()
    }
    assert a == b

    # (d) plumbing: end-to-end apply agrees on the trained list, and an
    # unknown strategy is refused
    x = bpe_apply(sample, trained).collect()
    y = bpe_apply(sample, trained, strategy="rank_priority").collect()
    assert {(r.doc_id, tuple(r.tokens)) for r in x} == {
        (r.doc_id, tuple(r.tokens)) for r in y
    }
    with pytest.raises(ValueError, match="unknown strategy"):
        encode_words(tiny, crafted, strategy="greedy")
    with pytest.raises(ValueError, match="unknown strategy"):
        bpe_apply(sample, trained, strategy="greedy")


def test_python_folds_run_where_workers_cannot_import_the_package(tmp_path):
    """A driver started outside the repository, with the package only on
    its own sys.path, leaves Spark's Python workers unable to import
    it. The BPE Python fold (past FOLD_MERGE_LIMIT merges, and
    rank_priority) and the unigram encoder must still run there, so
    their modules ship by value."""
    import os
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {repo!r})
        from pyspark.sql import SparkSession
        from blockchair_etl_spark.llmdata.tokenizer import (
            FOLD_MERGE_LIMIT, bpe_apply, encode_words,
        )
        from blockchair_etl_spark.llmdata.unigram import unigram_apply

        spark = (SparkSession.builder.master("local[1]")
                 .config("spark.ui.enabled", "false")
                 .config("spark.sql.shuffle.partitions", "1").getOrCreate())
        words = spark.createDataFrame([("aaa",), ("",)], "word string")
        long = [("a", "a")] * (FOLD_MERGE_LIMIT + 1)
        got = {{r.word: list(r.toks) for r in encode_words(words, long).collect()}}
        assert got == {{"aaa": ["aa", "a"], "": [""]}}, got
        docs = spark.createDataFrame([(1, "abc ab")], "doc_id bigint, text string")
        rp = bpe_apply(docs, [("a", "bc"), ("b", "c")], strategy="rank_priority")
        assert [list(r.tokens) for r in rp.collect()] == [["abc", "a", "b"]]
        ug = unigram_apply(docs, [("ab", -1.0), ("a", -2.0), ("b", -2.0), ("c", -2.0)])
        assert [list(r.tokens) for r in ug.collect()] == [["ab", "c", "ab"]]
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert run.returncode == 0, run.stderr[-3000:]


def test_bpe_fold_ansi_mode_safe(spark):
    """Advisor r11: the merge fold's empty-accumulator guard must not
    rely on ansi.enabled=false (Spark's AND doesn't short-circuit, and
    element_at(-1) throws under ANSI). F.get is NULL-safe in every
    mode — pin by encoding under ANSI."""
    from blockchair_etl_spark.llmdata.tokenizer import encode_words

    words = spark.createDataFrame([("aaa",), ("ba",), ("",)], "word string")
    want = {"aaa": ["aa", "a"], "ba": ["b", "a"], "": [""]}
    # restore whatever the suite's session actually ran with, not a
    # hardcoded 'false' (advisor r12: a hardcoded restore silently
    # rewrites the shared config if the pinned default ever changes)
    saved_ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = {
            r.word: list(r.toks)
            for r in encode_words(words, [("a", "a")]).collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", saved_ansi)
    assert got == want
    # and identical under the repo's pinned non-ANSI session
    assert got == {
        r.word: list(r.toks) for r in encode_words(words, [("a", "a")]).collect()
    }


def test_merge_fold_all_matches_python_fold_fuzz(spark):
    """r18: the merge-list-as-data fold (_merge_fold_all — one
    doubly-nested aggregate, constant-depth analysis) must be
    bit-identical to the python sequential-greedy reference
    (_py_fold_merges, itself pinned against the historical chained
    form) over random words and a merge chain that exercises
    multi-char symbols, overlapping runs, chunk-boundary merges and
    inapplicable merges."""
    import random

    from pyspark.sql import functions as F

    from blockchair_etl_spark.llmdata.tokenizer import (
        _merge_fold_all,
        _py_fold_merges,
        _SYMS,
    )

    rng = random.Random(18)
    alphabet = "abc0"
    words = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 14)))
        for _ in range(300)
    ]
    words += ["aaaa", "ababab", "a", "", "cccc", "abcabc"]
    # ordered chain: later merges consume earlier outputs; ("z","z")
    # never applies (symbol absent) and must be a no-op
    merges = [
        ("a", "b"), ("ab", "c"), ("a", "a"), ("aa", "aa"),
        ("z", "z"), ("c", "0"), ("abc", "abc"), ("0", "a"),
    ]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r.word: list(r.toks)
        for r in df.select(
            "word", _merge_fold_all(F.expr(_SYMS), merges).alias("toks")
        ).collect()
    }
    for w in words:
        syms = [""] if w == "" else list(w)
        assert got[w] == _py_fold_merges(syms, merges), w


def test_merge_fold_all_empty_merge_list_is_identity(spark):
    """With no merges the fold returns the symbols unchanged; the SQL
    fast path would build an untyped ``array()`` and fail analysis."""
    from pyspark.sql import functions as F

    from blockchair_etl_spark.llmdata.tokenizer import _merge_fold_all, _SYMS

    df = spark.createDataFrame([("abca",), ("",)], "word string")
    got = {
        r.word: list(r.toks)
        for r in df.select("word", _merge_fold_all(F.expr(_SYMS), []).alias("toks")).collect()
    }
    assert got == {"abca": ["a", "b", "c", "a"], "": [""]}


def test_encode_words_releases_superseded_checkpoints(spark):
    """bpe_train's words/nxt swap must really free each round's
    localCheckpointed table (DataFrame.unpersist never frees checkpoint
    blocks — the reason for caching.release_local_checkpoint), and an
    encode past FOLD_MERGE_LIMIT merges must leave nothing persisted or
    tracked behind it."""
    from blockchair_etl_spark import caching
    from blockchair_etl_spark.caching import release_tracked
    from blockchair_etl_spark.llmdata.tokenizer import (
        FOLD_MERGE_LIMIT,
        bpe_train,
        encode_words,
    )

    release_tracked(blocking=True)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * 3) for i in range(30)],
        "doc_id bigint, text string",
    )
    merges = bpe_train(docs, n_merges=12)
    assert len(merges) == 12

    def leaked():
        return {
            k
            for k in spark.sparkContext._jsc.getPersistentRDDs().keys()
            if k not in before
        }

    assert leaked() == set()  # the train loop frees every round's table
    words = spark.createDataFrame([("thequickbrown",), ("aaaa",)], "word string")
    long_merges = (merges * (FOLD_MERGE_LIMIT // len(merges) + 2))[: 2 * FOLD_MERGE_LIMIT]
    encode_words(words, long_merges).collect()
    assert leaked() == set()
    assert caching.tracked_count() == 0


def test_winsorize_bounds_and_idempotence(spark):
    from blockchair_etl_spark.operators.approx import winsorize

    rows = [(i, "a", float(v)) for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8, 9, 1000])]
    rows += [(100 + i, "b", float(v)) for i, v in enumerate([-50, 0, 0, 0, 0, 0, 0, 0, 0, 50])]
    df = spark.createDataFrame(rows, "event_id bigint, event_type string, value double")
    w1 = winsorize(df, "value", "event_type", 0.1, 0.9)
    got = {r.event_id: r.value_winsorized for r in w1.collect()}
    assert got[9] < 1000.0  # the outlier is clamped
    assert min(got[i] for i in range(10)) >= 1.0
    # clamping already-clamped data changes nothing beyond re-deriving
    # bounds from the clamped distribution being within the originals
    w2 = winsorize(
        w1.select("event_id", "event_type", F.col("value_winsorized").alias("value")),
        "value", "event_type", 0.0, 1.0,
    )
    got2 = {r.event_id: r.value_winsorized for r in w2.collect()}
    assert got2 == {k: v for k, v in got.items()}


def test_udtf_chunker_matches_sql_chunker(spark):
    """§2.11 surface demo: a Python UDTF (lateral generator) produces the
    same chunks as the production SQL-expression chunker. The UDTF is the
    escape hatch for generators SQL can't express; for chunking the
    exploded-token SQL form is the production path (JVM-side, linear)."""
    from pyspark.sql.functions import udtf

    from blockchair_etl_spark.llmdata.text import chunk_documents

    @udtf(returnType="chunk_idx bigint, chunk_text string, n_tokens bigint")
    class Chunker:
        def eval(self, text: str):
            import re

            toks = [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]
            for i in range(0, len(toks), 4):
                chunk = toks[i : i + 4]
                yield i // 4, " ".join(chunk), len(chunk)

    rows = [
        (1, "Alpha beta GAMMA delta epsilon zeta eta theta iota"),
        (2, "one two"),
        (3, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    spark.udtf.register("chunker", Chunker)
    docs.createOrReplaceTempView("docs_v")
    via_udtf = spark.sql(
        "SELECT d.doc_id, c.chunk_idx, c.chunk_text, c.n_tokens "
        "FROM docs_v d, LATERAL chunker(d.text) c"
    )
    via_sql = chunk_documents(docs, chunk_tokens=4)
    key = lambda r: (r.doc_id, r.chunk_idx)
    assert sorted(map(tuple, via_udtf.collect())) == sorted(
        map(tuple, via_sql.select("doc_id", "chunk_idx", "chunk_text", "n_tokens").collect())
    )


def test_line_dedup_removes_boilerplate_keeps_order(spark):
    from blockchair_etl_spark.llmdata.text import line_dedup

    # 'cookie notice' is the repeated 2-token boilerplate line; with
    # max_line_df=2 it is dropped from every doc once 3 docs carry it.
    rows = [
        (1, "cookie notice alpha beta gamma delta"),
        (2, "cookie notice epsilon zeta"),
        (3, "cookie notice eta theta"),
        (4, "iota kappa"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in line_dedup(docs, line_tokens=2, max_line_df=2).collect()}
    assert out[1].clean_text == "alpha beta gamma delta"
    assert out[1].n_lines_removed == 1 and out[1].n_lines_kept == 2
    assert out[2].clean_text == "epsilon zeta"
    assert out[4].clean_text == "iota kappa" and out[4].n_lines_removed == 0
    # a doc that is pure boilerplate keeps a row with empty text
    rows5 = rows + [(5, "cookie notice")]
    out5 = {r.doc_id: r for r in line_dedup(
        spark.createDataFrame(rows5, "doc_id bigint, text string"),
        line_tokens=2, max_line_df=2).collect()}
    assert out5[5].clean_text == "" and out5[5].n_lines_kept == 0
    # a ZERO-TOKEN doc (no lines at all) also keeps a row — one output
    # row per input document, full stop
    rows6 = rows + [(6, ""), (7, "   ")]
    out6 = {r.doc_id: r for r in line_dedup(
        spark.createDataFrame(rows6, "doc_id bigint, text string"),
        line_tokens=2, max_line_df=2).collect()}
    assert set(out6) == {1, 2, 3, 4, 6, 7}
    for d in (6, 7):
        assert out6[d].clean_text == ""
        assert out6[d].n_lines_kept == 0 and out6[d].n_lines_removed == 0


def test_shuffle_shards_deterministic_and_epoch_independent(spark, docs):
    from blockchair_etl_spark.llmdata.sampling import shuffle_shards

    a = {(r.doc_id): (r.shard, r.pos) for r in shuffle_shards(docs, salt="ep0").collect()}
    b = {(r.doc_id): (r.shard, r.pos) for r in shuffle_shards(docs, salt="ep0").collect()}
    assert a == b  # bit-reproducible across runs
    c = {(r.doc_id): (r.shard, r.pos) for r in shuffle_shards(docs, salt="ep1").collect()}
    assert set(a) == set(c)  # same rows...
    moved = sum(1 for k in a if a[k] != c[k])
    assert moved > len(a) * 0.9  # ...nearly all in new positions
    # positions are contiguous 1..n within each shard
    from collections import defaultdict

    by_shard = defaultdict(list)
    for shard, pos in a.values():
        by_shard[shard].append(pos)
    assert set(by_shard) == set(range(8))
    for ps in by_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))


def test_split_straddlers_tiles_bins_exactly(spark, docs):
    from blockchair_etl_spark.llmdata.packing import assign_packs, split_straddlers

    budget = 256  # small budget so many docs straddle
    packed = assign_packs(docs, budget=budget, n_shards=4)
    chunks = split_straddlers(packed, budget=budget).cache()
    # per-doc slices reassemble the document: lengths sum to n_tokens
    # and starts are contiguous from 0
    per_doc = chunks.groupBy("doc_id").agg(
        F.sum("slice_len").alias("tot"),
        F.min("slice_start").alias("mn"),
        F.count(F.lit(1)).alias("n_chunks"),
    )
    joined = per_doc.join(packed, "doc_id")
    assert joined.filter(F.col("tot") != F.col("n_tokens")).count() == 0
    assert joined.filter((F.col("n_tokens") > 0) & (F.col("mn") != 0)).count() == 0
    # chunks tile each bin: within (shard, pack_id), offsets+lens never
    # overlap and never exceed the budget
    from pyspark.sql import Window as W

    w = W.partitionBy("shard", "pack_id").orderBy("bin_offset")
    lagged = chunks.withColumn(
        "prev_end", F.lag(F.col("bin_offset") + F.col("slice_len")).over(w)
    )
    assert lagged.filter(F.col("prev_end") > F.col("bin_offset")).count() == 0
    assert chunks.filter(F.col("bin_offset") + F.col("slice_len") > budget).count() == 0
    assert chunks.filter(F.col("slice_len") <= 0).count() == 0
    # straddlers exist in the fixture (docs longer than the gap to the
    # next boundary), so the op is actually exercised
    assert chunks.groupBy("doc_id").count().filter(F.col("count") > 1).count() > 0


def test_bigram_fluency_hand_computed(spark):
    from blockchair_etl_spark.llmdata.text import bigram_fluency_scores

    rows = [
        (1, "a b a b"),   # bigrams: ab, ba, ab
        (2, "a b c"),     # bigrams: ab, bc
        (3, "x"),         # no bigrams → excluded
        (4, ""),          # no tokens → excluded
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in bigram_fluency_scores(docs).collect()}
    assert set(out) == {1, 2}
    # corpus: c(a,b)=3, c(b,a)=1, c(b,c)=1; prefixes c(a·)=3, c(b·)=2
    # doc1: p(ab)=3/3=1 (q20=1048576), p(ba)=1/2 (524288), p(ab)=1
    assert out[1].n_bigrams == 3
    assert out[1].sum_p_q20 == 1048576 + 524288 + 1048576
    assert abs(out[1].mean_prob - (1 + 0.5 + 1) / 3) < 1e-12
    # doc2: p(ab)=1, p(bc)=1/2
    assert out[2].n_bigrams == 2
    assert out[2].sum_p_q20 == 1048576 + 524288
    # fluent repetition ranks above novel transitions
    assert out[1].mean_prob > out[2].mean_prob


def test_rarity_scores_orders_boilerplate_above_rare(spark):
    from blockchair_etl_spark.llmdata.text import rarity_scores

    rows = [
        (1, "common common common"),   # df(common)=3 → mean 3
        (2, "common rare"),            # (3+1)/2 = 2
        (3, "common unique1 unique2"), # (3+1+1)/3
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r for r in rarity_scores(docs).collect()}
    assert got[1].mean_token_df == 3.0
    assert got[2].mean_token_df == 2.0
    assert abs(got[3].mean_token_df - 5 / 3) < 1e-12
    assert got[1].n_tokens == 3 and got[2].n_tokens == 2


def test_temperature_resample_budgets_and_determinism(spark):
    import math

    from pyspark.sql import functions as F

    from blockchair_etl_spark.llmdata.sampling import temperature_resample

    # skewed fixture: dominant domain 900 rows, mid 90, tail 10
    rows = (
        [(i, "big") for i in range(900)]
        + [(900 + i, "mid") for i in range(90)]
        + [(990 + i, "tail") for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    out = temperature_resample(df, "source", "doc_id").cache()

    per = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    n = {"big": 900, "mid": 90, "tail": 10}
    s = {d: math.floor(math.sqrt(c) * (1 << 20)) for d, c in n.items()}
    s_tot = sum(s.values())
    # per-domain output EXACTLY matches the integer sqrt-weight budget
    for d in n:
        assert per[d] == (1000 * s[d]) // s_tot
    # tau=0.5 behavior: dominant downsampled, tail upsampled
    assert per["big"] < 900 and per["tail"] > 10
    # total conserved up to one-row-per-domain rounding
    assert 1000 - len(n) <= sum(per.values()) <= 1000
    # copies are dense 1..k per doc and bit-reproducible across runs
    copies = out.groupBy("doc_id").agg(
        F.count("*").alias("k"), F.max("copy_id").alias("mx"), F.min("copy_id").alias("mn")
    )
    assert copies.filter((F.col("mx") != F.col("k")) | (F.col("mn") != 1)).count() == 0
    again = {(r.doc_id, r.copy_id) for r in temperature_resample(df, "source", "doc_id").collect()}
    assert again == {(r.doc_id, r.copy_id) for r in out.collect()}


def test_normalize_text_messy_unicode(spark):
    from blockchair_etl_spark.llmdata.text import normalize_text

    rows = [
        (1, "Café  \tRÉSUMÉ\nÜber\x07straße"),
        (2, "already clean"),
        (3, "  \t\n  "),  # whitespace-only -> empty
        (4, "naïve œuvre æon"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in normalize_text(df).collect()}
    # control char becomes a word break, accents fold, case lowers,
    # whitespace runs collapse (note U+00DF sharp-s has no 1:1 ASCII
    # fold and survives — the map is explicit, not locale magic)
    assert out[1].norm_text == "cafe resume uber straße"
    assert out[1].changed and out[1].chars_removed > 0
    assert out[2].norm_text == "already clean" and not out[2].changed
    assert out[3].norm_text == "" and out[3].chars_removed == 6
    assert out[4].norm_text == "naive ouvre aon"
    # idempotence: normalizing normalized text is a no-op
    again = normalize_text(
        spark.createDataFrame(
            [(k, v.norm_text) for k, v in out.items()], "doc_id bigint, text string"
        )
    )
    assert again.filter("changed").count() == 0


def test_semantic_dedup_invariants(spark, sf_dir):
    from pyspark.sql import functions as F

    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.llmdata.dedup import (
        embedding_dup_pairs,
        semantic_dedup_survivors,
    )
    from blockchair_etl_spark.llmdata.ivf import assign_cluster, seed_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb, n_centroids=8)
    surv = semantic_dedup_survivors(emb, cents, threshold=0.3, dim=64).cache()
    indexed = emb.withColumn("sem_cluster", assign_cluster(F.col("embedding"), cents))
    pairs = embedding_dup_pairs(
        indexed, threshold=0.3, block_col="sem_cluster", dim=64
    ).cache()

    n_total, n_surv = emb.count(), surv.count()
    assert 0 < n_surv < n_total  # pruning engaged, not everything dropped
    # the min id of every cluster survives (it has no lower-id neighbor)
    min_ids = indexed.groupBy("sem_cluster").agg(F.min("vec_id").alias("vec_id"))
    assert min_ids.join(surv, ["vec_id"], "left_anti").count() == 0
    # no two SURVIVORS in the same cluster are above-threshold neighbors
    surv_ids = {r.vec_id for r in surv.collect()}
    for p in pairs.collect():
        assert not (p.id_a in surv_ids and p.id_b in surv_ids)
    # every dropped vector has an above-threshold lower-id cluster neighbor
    dropped = {r.vec_id for r in emb.select("vec_id").collect()} - surv_ids
    explained = {p.id_b for p in pairs.collect()}
    assert dropped == explained


def test_repeated_ngram_spans_planted(spark):
    from blockchair_etl_spark.llmdata.dedup import repeated_ngram_stats

    boiler = "all rights reserved contact us for details"  # 7 tokens
    rows = [
        (1, "alpha beta gamma delta epsilon zeta " + boiler),
        (2, "one two three four five six seven " + boiler),
        (3, "unique words only here nothing shared at all"),
        (4, "short doc"),  # < n tokens -> zero windows
        (5, "alpha beta gamma delta epsilon zeta " + boiler),  # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in repeated_ngram_stats(df, n=5).collect()}

    assert len(out) == 5  # every doc keeps a row
    assert out[4].n_windows == 0 and out[4].dup_fraction == 0.0
    assert out[3].n_dup_windows == 0 and out[3].dup_fraction == 0.0
    # docs 1 and 5 are identical: every window duplicated
    for d in (1, 5):
        assert out[d].n_windows == 13 - 4  # 13 tokens -> 9 windows
        assert out[d].n_dup_windows == out[d].n_windows
        assert out[d].dup_fraction == 1.0
    # doc 2 shares only the boilerplate tail: the 3 pure-boilerplate
    # windows (within its 7-token suffix) are duplicated, prefix is not
    assert out[2].n_windows == 10  # 14 tokens -> 10 windows
    assert out[2].n_dup_windows == 3
    assert 0 < out[2].dup_fraction < 1


def test_remove_duplicated_spans_planted(spark):
    from blockchair_etl_spark.llmdata.dedup import remove_duplicated_spans

    boiler = "all rights reserved contact us for details"  # 7 tokens
    rows = [
        (1, "alpha beta gamma delta epsilon zeta " + boiler),
        (2, "one two three four five six seven " + boiler),
        (3, "unique words only here nothing shared at all"),
        (4, "short doc"),  # < n tokens -> no windows, untouched
        (5, "alpha beta gamma delta epsilon zeta " + boiler),  # dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in remove_duplicated_spans(df, n=5).collect()}

    assert len(out) == 5  # every doc keeps a row
    # doc 1 is the canonical owner of every shingle it shares -> intact
    assert out[1].clean_text == rows[0][1]
    assert out[1].n_tokens_removed == 0
    # doc 5 duplicates doc 1 exactly: every window duplicated with
    # canon=1, coverage spans the whole doc -> cut to nothing
    assert out[5].clean_text == ""
    assert out[5].n_tokens_kept == 0 and out[5].n_tokens_removed == 13
    # doc 2 shares only the boilerplate tail: its 3 pure-boilerplate
    # window starts (7, 8, 9) cover positions 7..13 -> suffix cut
    assert out[2].clean_text == "one two three four five six seven"
    assert out[2].n_tokens_kept == 7 and out[2].n_tokens_removed == 7
    # unique and sub-n docs are untouched
    assert out[3].clean_text == rows[2][1] and out[3].n_tokens_removed == 0
    assert out[4].clean_text == "short doc" and out[4].n_tokens_removed == 0


def test_remove_duplicated_spans_null_text(spark):
    """NULL text must count as 0 tokens, never -1 (F.size of a NULL
    array is -1; the r9 advice flagged the silent negative
    n_tokens_removed)."""
    from blockchair_etl_spark.llmdata.dedup import remove_duplicated_spans

    rows = [(1, "alpha beta gamma delta epsilon zeta"), (2, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in remove_duplicated_spans(df, n=5).collect()}
    assert out[2].clean_text == ""
    assert out[2].n_tokens_kept == 0
    assert out[2].n_tokens_removed == 0  # was -1 before the guard
    assert out[1].n_tokens_removed == 0


def test_remove_duplicated_spans_matches_python_reference(spark):
    import random

    from blockchair_etl_spark.llmdata.dedup import remove_duplicated_spans

    rng = random.Random(20260815)
    vocab = [f"w{i}" for i in range(8)]  # tiny vocab -> frequent shingle hits
    n = 3
    rows = [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 15))))
        for d in range(1, 9)
    ]

    toks = {d: t.split() for d, t in rows}
    owners: dict[tuple, set] = {}
    for d, ts in toks.items():
        for i in range(len(ts) - n + 1):
            owners.setdefault(tuple(ts[i : i + n]), set()).add(d)
    want = {}
    for d, ts in toks.items():
        cut: set[int] = set()
        for i in range(len(ts) - n + 1):
            f = tuple(ts[i : i + n])
            if len(owners[f]) >= 2 and d != min(owners[f]):
                cut.update(range(i, i + n))
        kept = [t for j, t in enumerate(ts) if j not in cut]
        want[d] = (" ".join(kept), len(kept), len(ts) - len(kept))

    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_tokens_kept, r.n_tokens_removed)
        for r in remove_duplicated_spans(df, n=n).collect()
    }
    assert got == want


def test_best_quality_survivors_differ_from_min_id(spark, sf_dir):
    from pyspark.sql import functions as F

    from blockchair_etl_spark.queryset import QUERIES

    best = QUERIES["dedup_best_quality_survivors"].fn(spark, sf_dir)
    minid = QUERIES["dedup_corpus_survivors"].fn(spark, sf_dir)
    b = {r.doc_id for r in best.collect()}
    m = {r.doc_id for r in minid.collect()}
    # one survivor per cluster either way -> same cardinality...
    assert len(b) == len(m)
    # ...but quality selection must actually flip at least one cluster
    # (if every cluster's min id were also its best-quality member the
    # entry would be vacuous)
    assert b != m

    # and the flipped survivors really do have >= quality than the
    # min-id members they replaced
    from blockchair_etl_spark.llmdata.text import quality_scores
    from blockchair_etl_spark.io.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    q = {r.doc_id: r.quality_score for r in quality_scores(docs).collect()}
    for kept in b - m:
        assert q[kept] >= min(q[d] for d in (m - b))


def test_incremental_embedding_dedup_matches_oneshot(spark, emb):
    """Two-day incremental arrival must find exactly the cross-day
    pairs the one-shot full-corpus operator finds (same buckets, same
    scores), and the updated store must bit-match a from-scratch
    rebuild over both days — the same contract the minhash incremental
    path guarantees."""
    from blockchair_etl_spark.llmdata.dedup import (
        build_embedding_store,
        embedding_dup_pairs,
        incremental_embedding_dedup,
    )

    day1 = emb.filter(F.col("vec_id") % 2 == 0)
    day2 = emb.filter(F.col("vec_id") % 2 == 1)

    store = build_embedding_store(day1, dim=64, n_planes=4)
    pairs, updated = incremental_embedding_dedup(
        day2, store, dim=64, threshold=0.3, n_planes=4
    )
    got = {(r.new_id, r.existing_id): r.cosine for r in pairs.collect()}

    oneshot = embedding_dup_pairs(emb, threshold=0.3, dim=64, lsh_planes=4)
    want = {}
    for r in oneshot.collect():
        lo, hi = sorted((r.id_a, r.id_b))
        if lo % 2 != hi % 2:  # cross-day pairs only
            new, old = (lo, hi) if lo % 2 == 1 else (hi, lo)
            want[(new, old)] = r.cosine
    assert got == want and want  # identical pairs AND scores, non-empty

    # first-day bootstrap: None store -> no pairs, store == batch index
    empty_pairs, boot = incremental_embedding_dedup(
        day1, None, dim=64, threshold=0.3, n_planes=4
    )
    assert empty_pairs.count() == 0
    a = {r.id: (r.blk, round(r.norm, 12)) for r in boot.collect()}
    b = {r.id: (r.blk, round(r.norm, 12)) for r in store.collect()}
    assert a == b

    # the returned updated store == rebuild over both days
    rebuilt = build_embedding_store(emb, dim=64, n_planes=4)
    assert {r.id: r.blk for r in updated.collect()} == {
        r.id: r.blk for r in rebuilt.collect()
    }

    # at-least-once replay: day2 re-presented against the updated store
    # must emit no (X, X, 1.0) self-pairs (day2's own vectors are now
    # IN the store and collide with themselves in every bucket) and the
    # store must keep one row per id
    rp, rs = incremental_embedding_dedup(
        day2, updated, dim=64, threshold=0.3, n_planes=4
    )
    assert not [r for r in rp.collect() if r.new_id == r.existing_id]
    assert rs.count() == emb.count()
    assert rs.groupBy("id").count().filter("count > 1").count() == 0


def test_corpus_prep_v2_stage_invariants(spark, sf_dir):
    from blockchair_etl_spark.queryset import QUERIES

    docs = load_table(spark, sf_dir, "documents")
    out = QUERIES["corpus_prep_v2_pipeline"].fn(spark, sf_dir).cache()
    n_docs = docs.count()
    survivors = out.select("doc_id").distinct().count()
    total = out.count()
    # the gate + dedup genuinely prune, and resampling conserves the
    # surviving corpus size up to one row per domain
    assert 0 < survivors < n_docs
    n_domains = out.select("source").distinct().count()
    assert survivors - n_domains <= total <= survivors + n_domains
    # copies are dense 1..k per doc
    bad = out.groupBy("doc_id").agg(
        F.count("*").alias("k"), F.max("copy_id").alias("mx")
    ).filter("k != mx").count()
    assert bad == 0


def test_semdedup_grouped_matches_exact(spark, sf_dir):
    """The vectorized scale twin (numpy-pruned assignment + per-cluster
    BLAS gram pairs) must produce the IDENTICAL survivor set and
    cluster ids as the exact-decimal Column/join formulation — they are
    the same operator at two execution strategies."""
    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.llmdata.dedup import (
        semantic_dedup_survivors,
        semantic_dedup_survivors_grouped,
    )
    from blockchair_etl_spark.llmdata.ivf import seed_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    k = max(8, emb.count() // 64)  # several clusters even at sf0.001
    cents = seed_centroids(emb, n_centroids=k)
    exact = {
        (r[0], r[1])
        for r in semantic_dedup_survivors(
            emb, cents, threshold=0.3, dim=64, pruned_assign=True
        ).collect()
    }
    grouped = {
        (r[0], r[1])
        for r in semantic_dedup_survivors_grouped(
            emb, cents, threshold=0.3, dim=64
        ).collect()
    }
    assert exact == grouped


def test_vectorized_assignment_matches_column_form(spark, sf_dir):
    """assign_clusters_vectorized must agree with ivf.assign_cluster_pruned
    row for row (same pruning scheme, numpy vs Column execution)."""
    from pyspark.sql import functions as F

    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.llmdata.dedup import assign_clusters_vectorized
    from blockchair_etl_spark.llmdata.ivf import assign_cluster_pruned, seed_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb, n_centroids=16)
    col_form = assign_cluster_pruned(F.col("embedding"), cents, dim=64, seed=7)
    vec_form = assign_clusters_vectorized(cents, dim=64, seed=7)
    diff = (
        emb.select(
            "vec_id",
            col_form.alias("a"),
            vec_form(F.col("embedding")).alias("b"),
        )
        .filter("a != b")
        .count()
    )
    assert diff == 0


def test_vectorized_assignment_empty_batch_and_null_policy(spark):
    """r6 advice: a zero-row Arrow batch must not np.stack-crash (an
    empty filter residue on some partition is normal), and a NULL
    embedding must fail with the explicit policy error, not a numpy
    traceback — the Column-form twin tolerates both silently, the
    vectorized twin must be deliberate."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from blockchair_etl_spark.llmdata.dedup import assign_clusters_vectorized

    cents = [[1.0, 0.0], [0.0, 1.0]]
    assign = assign_clusters_vectorized(cents, dim=2, n_planes=0)

    # zero-row batches: filter removes everything on every partition
    empty = (
        spark.createDataFrame([(1, [1.0, 0.0])], "vec_id bigint, embedding array<double>")
        .filter("vec_id < 0")
        .select(assign(F.col("embedding")).alias("c"))
    )
    assert empty.count() == 0

    # null vector: explicit error naming the policy
    withnull = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None)], "vec_id bigint, embedding array<double>"
    ).select(assign(F.col("embedding")).alias("c"))
    with _pytest.raises(Exception, match="null embedding"):
        withnull.collect()


def test_semdedup_grouped_oversized_cluster_raises(spark):
    """The gram-matrix guard must fail loudly, not truncate."""
    import numpy as np
    import pytest

    from blockchair_etl_spark.llmdata.dedup import semantic_dedup_survivors_grouped

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    )
    cents = np.asarray([[0.0, 1.0]])  # one centroid -> one 40-row cluster
    with pytest.raises(Exception, match="max_cluster_rows"):
        semantic_dedup_survivors_grouped(
            emb, cents, threshold=0.99, dim=2, max_cluster_rows=10
        ).collect()


def test_quality_budget_two_phase_equals_global_window(spark):
    """The two-phase cumulative sum must equal the naive single global
    window form row for row (that equivalence is the whole point of
    the scale-safe shape), including the budget-straddling doc (its
    cum_before is below budget, so it IS selected)."""
    from pyspark.sql import Window, functions as F

    from blockchair_etl_spark.llmdata.sampling import quality_budget_select

    rows = [
        # (doc_id, text, score) — ties within score, straddler at edge
        (1, "a b c d", 10),
        (2, "e f", 10),
        (3, "g h i", 8),
        (4, "j", 8),
        (5, "k l m n o", 5),
        (6, "p q r", 5),
        (7, "s", 1),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, score bigint")
    got = {
        (r.doc_id, r.cum_before)
        for r in quality_budget_select(df, score_col="score", budget_den=2).collect()
    }
    # naive: one global ordered window (fine on 7 rows)
    from blockchair_etl_spark.llmdata.text import tokens_col

    t = df.select(
        "doc_id", "score", F.size(tokens_col("text")).cast("bigint").alias("n")
    )
    total = t.agg(F.sum("n")).collect()[0][0]
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    naive = {
        (r.doc_id, r.cum_before)
        for r in t.withColumn(
            "cum_before", F.coalesce(F.sum("n").over(w), F.lit(0)).cast("bigint")
        )
        .filter(F.col("cum_before") < total // 2)
        .collect()
    }
    assert got == naive and len(got) > 0


def test_quality_budget_coarse_score_banded_and_exact(spark):
    """r6 verdict finding #4: a LOW-cardinality score (integer 0-5
    quality tier) must not collapse the within-score window into one
    near-global partition. The automatic id-range band splits each
    score into id_bands ordered sub-partitions; the result stays
    bit-identical to the global (score DESC, id ASC) window, and the
    doc-level window in the plan is (score, band)-partitioned."""
    import random

    import pandas as pd

    from blockchair_etl_spark.llmdata.sampling import quality_budget_select

    random.seed(11)
    rows = []
    for i in range(2000):
        did = i * 7 + (i % 13)  # non-contiguous ids
        rows.append((did, [1, 3, 5][i % 3], "w " * random.randint(0, 40)))
    df = spark.createDataFrame(rows, "doc_id bigint, q int, text string")
    # band_threshold_rows=0 forces the banded runtime path at test
    # scale (the adaptive default only bands past 1M rows per score)
    out = quality_budget_select(
        df, score_col="q", budget_den=3, band_threshold_rows=0
    )

    t = pd.DataFrame(rows, columns=["doc_id", "score", "text"])
    t["n_tokens"] = t.text.str.split().map(len)
    budget = int(t.n_tokens.sum()) // 3
    t = t.sort_values(["score", "doc_id"], ascending=[False, True])
    t["cum_before"] = t.n_tokens.cumsum().shift(1, fill_value=0)
    exp = t[t.cum_before < budget].sort_values("doc_id")

    got = out.toPandas().sort_values("doc_id")
    assert got.doc_id.tolist() == exp.doc_id.tolist()
    assert got.cum_before.astype(int).tolist() == exp.cum_before.astype(int).tolist()

    plan = out._jdf.queryExecution().executedPlan().toString()
    bad = [
        ln
        for ln in plan.splitlines()
        if "Window" in ln and "doc_id" in ln and "band" not in ln
    ]
    assert not bad, bad  # every doc-level window is (score, band)-keyed


def test_quality_budget_adaptive_band_paths_identical(spark):
    """r7 verdict #2: banding is decided in-plan from the broadcast
    (n, ndv(score)) scalars. The forced-band path and the adaptive
    default (which skips banding below band_threshold_rows per-score
    rows) must return bit-identical rows."""
    from blockchair_etl_spark.llmdata.sampling import quality_budget_select

    rows = [
        (i * 3 + (i % 5), (i % 4) + 0.5, "t " * ((i * 13) % 23))
        for i in range(800)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, q double, text string")
    banded = {
        tuple(r)
        for r in quality_budget_select(
            df, score_col="q", budget_den=4, band_threshold_rows=0
        ).collect()
    }
    adaptive = {
        tuple(r)
        for r in quality_budget_select(df, score_col="q", budget_den=4).collect()
    }
    assert banded == adaptive and banded


def test_quality_budget_nonnumeric_id_falls_back(spark):
    """String doc ids can't range-band (no order-preserving integer
    arithmetic); the operator must still compute the exact cumulative
    sum via the degenerate single band per score."""
    from blockchair_etl_spark.llmdata.sampling import quality_budget_select

    rows = [(f"d{i:03d}", i % 2, "x " * (i % 7)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id string, q int, text string")
    got = {
        (r.doc_id, r.cum_before)
        for r in quality_budget_select(df, score_col="q", budget_den=2).collect()
    }
    import pandas as pd

    t = pd.DataFrame(rows, columns=["doc_id", "score", "text"])
    t["n"] = t.text.str.split().map(len)
    budget = int(t.n.sum()) // 2
    t = t.sort_values(["score", "doc_id"], ascending=[False, True])
    t["cum"] = t.n.cumsum().shift(1, fill_value=0)
    exp = {(r.doc_id, int(r.cum)) for r in t[t.cum < budget].itertuples()}
    assert got == exp and got


def test_cluster_balanced_cap_and_determinism(spark, sf_dir):
    from pyspark.sql import functions as F

    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.llmdata.sampling import cluster_balanced_sample

    emb = load_table(spark, sf_dir, "embeddings")
    out = cluster_balanced_sample(emb, per_bucket=5, n_planes=4, dim=64)
    per = out.groupBy("bucket").count()
    assert per.filter("count > 5").count() == 0
    # deterministic: kept ids are the 5 smallest ids of each bucket
    again = cluster_balanced_sample(emb, per_bucket=5, n_planes=4, dim=64)
    assert {tuple(r) for r in out.collect()} == {tuple(r) for r in again.collect()}


def test_dsir_scores_rank_target_like_docs_higher(spark):
    """Docs made of tokens frequent in the TARGET slice must outscore
    docs made of raw-only tokens (per-token mean, to control length)."""
    from pyspark.sql import functions as F

    from blockchair_etl_spark.llmdata.sampling import dsir_proxy_scores

    rows = (
        [(i, "alpha beta gamma", "en") for i in range(20)]
        + [(100 + i, "zulu yankee xray", "xx") for i in range(20)]
        + [(900, "alpha beta gamma", "xx"), (901, "zulu yankee xray", "en")]
    )
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    out = {
        r.doc_id: r.dsir_score / r.n_tokens
        for r in dsir_proxy_scores(df, F.col("lang") == "en").collect()
    }
    # 900 is written in target-like vocabulary, 901 in raw-only vocab
    assert out[900] > out[901]


def test_minhash_lsh_salted_join_bit_identical(spark, sf_dir):
    """minhash_lsh_pairs(salt=...) must return the identical pair set
    and scores as the unsalted band join (the salt only re-routes
    shuffle traffic — same lever as connected_clusters(salt=...))."""
    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.llmdata.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    plain = {tuple(r) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    salted = {
        tuple(r) for r in minhash_lsh_pairs(docs, threshold=0.5, salt=4).collect()
    }
    assert plain == salted and len(plain) > 0


def test_leakage_safe_split_exact_duplicates_share_split(spark):
    from pyspark.sql import functions as F

    from blockchair_etl_spark.llmdata.sampling import leakage_safe_split

    rows = [(i, f"unique document number {i} with content") for i in range(200)]
    rows += [(1000 + i, f"unique document number {i} with content") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = leakage_safe_split(df)
    # every duplicate pair shares a canonical id AND a split
    per_group = out.groupBy("canonical_id").agg(
        F.count_distinct("split").alias("n_splits"), F.count("*").alias("n")
    )
    assert per_group.filter("n != 2").count() == 0
    assert per_group.filter("n_splits != 1").count() == 0
    # and the split is keyed on the canonical id, never the doc id:
    # copies with doc_id >= 1000 get the split of their base doc
    splits = {r.doc_id: r.split for r in out.collect()}
    for i in range(200):
        assert splits[i] == splits[1000 + i]


def test_leakage_safe_split_near_dup_groups(spark, sf_dir):
    """The near-dup variant: CC clusters over minhash pairs key the
    split, so LSH-near-duplicates can't straddle train/eval either;
    docs in no cluster are their own canonical."""
    from pyspark.sql import functions as F

    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.llmdata.clusters import connected_clusters
    from blockchair_etl_spark.llmdata.dedup import minhash_lsh_pairs
    from blockchair_etl_spark.llmdata.sampling import leakage_safe_split

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    clusters = connected_clusters(pairs)
    out = leakage_safe_split(docs, groups=clusters)
    assert out.count() == docs.count()
    per_cluster = out.groupBy("canonical_id").agg(
        F.count_distinct("split").alias("n_splits")
    )
    assert per_cluster.filter("n_splits != 1").count() == 0


def test_corpus_stats_matches_self_derived_adaptivity(spark, sf_dir):
    """stats.corpus_stats must feed the adaptive operators the same
    (n_rows, dim) they would derive themselves, so the stats= path is
    output-identical to the per-operator jobs it replaces."""
    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.llmdata.sampling import cluster_balanced_sample
    from blockchair_etl_spark.llmdata.stats import corpus_stats

    emb = load_table(spark, sf_dir, "embeddings")
    st = corpus_stats(emb, vec_col="embedding")
    assert st.n_rows == emb.count()
    assert st.dim == len(emb.select("embedding").head()[0])
    with_stats = {
        tuple(r) for r in cluster_balanced_sample(emb, per_bucket=5, stats=st).collect()
    }
    self_derived = {
        tuple(r) for r in cluster_balanced_sample(emb, per_bucket=5).collect()
    }
    assert with_stats == self_derived and with_stats


def test_corpus_stats_text_corpus_dim_none(spark, sf_dir):
    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.llmdata.stats import corpus_stats

    docs = load_table(spark, sf_dir, "documents")
    st = corpus_stats(docs, vec_col=None)
    assert st.n_rows == docs.count() and st.dim is None
    st2 = corpus_stats(docs)  # default vec_col absent from schema
    assert st2.dim is None


def test_corpus_stats_ragged_vectors_raise(spark):
    """r8 ADVICE #5: the per-component unrollers require a uniform
    embedding dimension; a ragged corpus must fail deterministically in
    the stats pass (min(size) != max(size), same single job) instead of
    silently adopting whichever row an order-nondeterministic first()
    picked. NULL vectors stay exempt, as before."""
    import pytest

    from blockchair_etl_spark.llmdata.stats import corpus_stats

    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0]), (3, None)],
        "id bigint, embedding array<double>",
    )
    with pytest.raises(ValueError, match="ragged vector lengths"):
        corpus_stats(ragged, vec_col="embedding")

    uniform_with_nulls = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [3.0, 4.0])],
        "id bigint, embedding array<double>",
    )
    st = corpus_stats(uniform_with_nulls, vec_col="embedding")
    assert st.dim == 2 and st.n_rows == 3


def test_containment_catches_inclusion_jaccard_misses(spark):
    """A short document quoted wholesale inside a long one must score
    containment ~1.0 while its Jaccard stays below any near-dup
    threshold — the directional measure's reason to exist."""
    from blockchair_etl_spark.llmdata.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    rows = [(1, short), (2, filler + " " + short + " " + filler)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    cont = {
        (r.id_src, r.id_dst): r.containment
        for r in ngram_containment_pairs(df, n=3, threshold=0.8).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)] == 1.0
    assert (2, 1) not in cont  # the long doc is NOT contained in the short

    jac = ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()
    assert not jac  # symmetric Jaccard misses the inclusion entirely


def test_containment_edge_cases(spark):
    """Identical docs contain each other (1.0 both directions); a doc
    shorter than n tokens has no shingles and appears in no pair."""
    from blockchair_etl_spark.llmdata.dedup import ngram_containment_pairs

    rows = [
        (1, "one two three four five"),
        (2, "one two three four five"),  # identical twin
        (3, "yo"),  # < n tokens -> no shingles
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.id_src, r.id_dst): r.containment
        for r in ngram_containment_pairs(df, n=3, threshold=0.5).collect()
    }
    assert got == {(1, 2): 1.0, (2, 1): 1.0}


def test_containment_df_bounded_scores_stay_exact(spark):
    """max_df candidate bounding must never change a REPORTED score —
    only recall: pairs still found score identically to the unbounded
    form (intersection re-counted over all shingles), and a pair whose
    every shared shingle is corpus-wide boilerplate drops out."""
    from blockchair_etl_spark.llmdata.dedup import ngram_containment_pairs

    boiler = "common one two three common four five six"
    rows = [
        (1, "alpha beta gamma delta " + boiler),
        (2, "alpha beta gamma delta epsilon " + boiler),
        (3, boiler),  # shares ONLY boilerplate shingles with 1 and 2
        (4, boiler),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    full = {
        (r.id_src, r.id_dst): (r.n_common, r.containment)
        for r in ngram_containment_pairs(df, n=3, threshold=0.1).collect()
    }
    bounded = {
        (r.id_src, r.id_dst): (r.n_common, r.containment)
        for r in ngram_containment_pairs(
            df, n=3, threshold=0.1, max_df=2
        ).collect()
    }
    # every bounded pair's score equals the unbounded score exactly
    for pair, val in bounded.items():
        assert full[pair] == val
    # the rare-shingle pair (1,2) survives the bound; 3<->4 (df=4
    # boilerplate only... df of boiler shingles is 4 > max_df) drops
    assert (1, 2) in bounded and (2, 1) in bounded
    assert (3, 4) in full and (3, 4) not in bounded


def test_lsh_recall_monotone_in_plane_count(spark, sf_dir):
    """_planes draws row-major from one seeded stream, so the p-plane
    bucket is a strict refinement of the (p-1)-plane bucket: the
    candidate set can only SHRINK as p grows, hence recall@10 is
    non-increasing in n_planes. The ann_lsh_recall entry's sweep must
    respect that ordering (and the full-recall end: with the candidate
    set at p=2 being ~n/4, recall can be < 1 but hits stay <= 10)."""
    from blockchair_etl_spark.queryset import QUERIES

    rows = {
        r.n_planes: r.hits
        for r in QUERIES["ann_lsh_recall"].fn(spark, sf_dir).collect()
    }
    assert set(rows) == {2, 4, 8}
    assert rows[2] >= rows[4] >= rows[8]
    assert all(0 <= h <= 10 for h in rows.values())


def test_media_dedup_survivors_short_payload_and_dups(spark):
    """Pipeline edges the parity test's corpus can't hit: (a) payloads
    shorter than one 4-byte gram have no fingerprint but trivially
    survive (NULL simhash); (b) byte-identical payloads fingerprint
    identically, pair at hamming 0, and only the min id survives."""
    from blockchair_etl_spark.llmdata.clusters import connected_clusters
    from blockchair_etl_spark.llmdata.dedup import (
        media_byte_fingerprints,
        simhash_near_pairs,
    )

    payload = bytes(range(64)) * 4
    media = spark.createDataFrame(
        [
            (1, payload),
            (2, payload),                      # exact dup of 1
            (3, b"ab"),                        # shorter than one gram
            (4, bytes(reversed(payload)) * 2), # unrelated
        ],
        "media_id bigint, content binary",
    )
    fp = media_byte_fingerprints(media, bits=32, gram_bytes=4)
    pairs = simhash_near_pairs(fp, max_hamming=3, bits=32)
    clusters = connected_clusters(pairs)
    removed = clusters.filter(F.col("doc") != F.col("cluster_id")).select("doc")
    survivors = (
        media.select("media_id")
        .join(removed, media.media_id == removed.doc, "left_anti")
        .join(
            fp.select(F.col("doc").alias("media_id"), "simhash"),
            "media_id",
            "left",
        )
        .select("media_id", "simhash")
    )
    got = {r.media_id: r.simhash for r in survivors.collect()}
    assert 2 not in got          # dup dropped, min id kept
    assert 1 in got and got[1] is not None
    assert 3 in got and got[3] is None   # short payload survives, no fp
    assert 4 in got


def test_kcenter_select_matches_python_greedy(spark, sf_dir):
    """Greedy k-center parity vs an independent python reference using
    the oracle's own exact-decimal distance arithmetic (per-dim IEEE
    (a-b)^2 quantized to 18 decimals, exact sums), including the
    (dist DESC, id ASC) argmax tie order; plus the coverage-radius
    monotonicity greedy guarantees, the exact-k contract, and the
    empty/k<1 guards."""
    from decimal import ROUND_HALF_UP, Decimal

    import pytest

    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.llmdata.sampling import kcenter_select

    emb = load_table(spark, sf_dir, "embeddings").limit(120)
    got = kcenter_select(emb, k=6)
    assert len(got) == 6 and len(set(got)) == 6

    quantum = Decimal("0.000000000000000001")
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.select("vec_id", "embedding").collect()
    }

    def sq(a, b):
        # Decimal(repr(x)) — the SHORTEST-REPR rounding Spark's
        # double->decimal(38,18) cast applies (r13 review:
        # Decimal(d*d) quantizes the exact binary double instead,
        # diverging at the 18th digit for most doubles)
        total = Decimal(0)
        for x, y in zip(a, b):
            d = x - y
            total += Decimal(repr(d * d)).quantize(
                quantum, rounding=ROUND_HALF_UP
            )
        return total

    sel = [min(vecs)]
    mind = {v: sq(vecs[v], vecs[sel[0]]) for v in vecs}
    radii = [max(mind.values())]
    while len(sel) < 6:
        nxt = max(((d, -v) for v, d in mind.items()), key=lambda t: t)
        pick = -nxt[1]
        sel.append(pick)
        for v in vecs:
            d = sq(vecs[v], vecs[pick])
            if d < mind[v]:
                mind[v] = d
        radii.append(max(mind.values()))
    assert got == sel
    # greedy guarantee: the coverage radius never increases per round
    assert all(radii[i + 1] <= radii[i] for i in range(len(radii) - 1))

    with pytest.raises(ValueError, match="k="):
        kcenter_select(emb, k=0)
    with pytest.raises(ValueError, match="empty"):
        kcenter_select(emb.filter("vec_id < 0"), k=2)

    # degenerate k > distinct vectors: early-stop at coverage radius 0
    # returns the distinct centers instead of re-picking the seed
    # forever (r13 review)
    tiny = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0]), (4, [1.0, 0.0])],
        "vec_id bigint, embedding array<float>",
    )
    assert kcenter_select(tiny, k=5) == [1, 2, 3]


def test_kcenter_batched_rounds_match_unbatched(spark):
    """r18: the batched driver rounds (top-``batch_rows`` pool +
    driver-side greedy under the strict dominance bound, cluster
    fallback when it fails) must select EXACTLY the same centers as
    one-row-per-round selection, for every batch size — including
    batch_rows small enough to force repeated bound failures and
    incremental relation rebuilds, duplicated vectors, and k larger
    than the distinct count."""
    import random

    from blockchair_etl_spark.llmdata.sampling import kcenter_select

    rng = random.Random(181)
    rows = []
    for i in range(60):
        base = [round(rng.uniform(-2, 2), 3) for _ in range(6)]
        rows.append((i, base))
        if i % 7 == 0:  # exact duplicates under different ids
            rows.append((1000 + i, list(base)))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    want = kcenter_select(emb, k=9, batch_rows=1)  # one pick per collect
    for br in (2, 3, 7, 64, 4096):
        got = kcenter_select(emb, k=9, batch_rows=br)
        assert got == want, (br, got, want)

    # k past the distinct count stops at radius 0 for every batch size
    dup = spark.createDataFrame(
        [(i, [float(i % 3), 0.0]) for i in range(12)],
        "vec_id bigint, embedding array<double>",
    )
    want_dup = kcenter_select(dup, k=8, batch_rows=1)
    assert len(want_dup) == 3
    for br in (2, 5, 1024):
        assert kcenter_select(dup, k=8, batch_rows=br) == want_dup

    # NULL embeddings: NULL distances sort last under DESC and can
    # never be picked — the driver pool must drop them (not crash on
    # max()), for pools that do and don't reach into the NULL tail
    withnull = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [3.0, 0.0]), (3, [0.0, 5.0]), (8, None), (9, None)],
        "vec_id bigint, embedding array<double>",
    )
    for br in (1, 2, 1024):
        assert kcenter_select(withnull, k=3, batch_rows=br) == [1, 3, 2]


def test_kcenter_driver_pool_tie_breaks_on_min_id(spark):
    """Two vectors whose distances tie exactly once the second center is
    folded in, while their distances to the first center put the larger
    id first in the collected pool: every batch size must pick the
    smaller id, as one-row-per-round selection does."""
    from blockchair_etl_spark.llmdata.sampling import kcenter_select

    # to (0,0): id 3 -> 45 and id 2 -> 25, so the pool holds 3 before 2;
    # after center (10,0) both sit at exactly 25
    emb = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 0.0]), (2, [4.0, 3.0]), (3, [6.0, 3.0])],
        "vec_id bigint, embedding array<double>",
    )
    for br in (1, 1024):
        assert kcenter_select(emb, k=3, batch_rows=br) == [0, 1, 2], br
