"""IVF ANN: training convergence, index partitioning, probe correctness."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from blockchair_etl_spark.io.sources import load_table
from blockchair_etl_spark.llmdata.ivf import (
    build_ivf_index,
    ivf_ann_topk,
    train_ivf_centroids,
)
from blockchair_etl_spark.llmdata.similarity import cosine_topk


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def index(spark, emb):
    centroids = train_ivf_centroids(emb, n_centroids=8, iterations=3)
    return centroids, build_ivf_index(emb, centroids).cache()


def test_ivf_training_shapes_and_determinism(emb):
    c1 = train_ivf_centroids(emb, n_centroids=8, iterations=2)
    c2 = train_ivf_centroids(emb, n_centroids=8, iterations=2)
    assert c1.shape == (8, 64)
    assert np.allclose(c1, c2)  # same data + same init → identical


def test_ivf_training_guards_centroid_matrix_size(emb):
    # 10M-cell codebooks must not flow through driver-collected Lloyd
    # rounds (the guard fires before any seed collect happens)
    with pytest.raises(ValueError, match="centroid matrix"):
        train_ivf_centroids(emb, n_centroids=200_000)


def test_ivf_index_covers_corpus(index, emb):
    centroids, idx = index
    counts = {r["ivf_cluster"]: r["count"] for r in idx.groupBy("ivf_cluster").count().collect()}
    assert sum(counts.values()) == emb.count()
    assert set(counts) <= set(range(8))
    assert len(counts) >= 4  # clustering didn't collapse


def test_ivf_probe_correct_within_lists(spark, index, emb):
    centroids, idx = index
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    approx = ivf_ann_topk(idx, centroids, qv, k=10, n_probe=2).collect()
    got = [r.vec_id for r in approx]
    assert 0 in got  # query's own vector lands in a probed list
    # result == exact ranking restricted to the probed lists
    order = np.argsort(((centroids - np.asarray(qv)) ** 2).sum(axis=1))
    probes = [int(c) for c in order[:2]]
    cand = idx.filter(F.col("ivf_cluster").isin(probes))
    exact_in = [r.vec_id for r in cosine_topk(cand, qv, k=10).collect()]
    assert got == exact_in
    # probing prunes the corpus
    assert cand.count() < emb.count()


def test_ivf_full_probe_equals_bruteforce(spark, index, emb):
    centroids, idx = index
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 3).head()["embedding"]]
    all_probe = ivf_ann_topk(idx, centroids, qv, k=5, n_probe=8).collect()
    brute = cosine_topk(emb, qv, k=5).collect()
    assert [r.vec_id for r in all_probe] == [r.vec_id for r in brute]


def test_ivf_trained_centroids_oracle_hash_parity(spark, sf_dir, index):
    # The registry entry hash-checks the SEED codebook (expressible in
    # static oracle SQL); this closes the gap for the TRAINED path:
    # train -> inline centroids into generated SQL -> DuckDB -> the
    # same row/schema/value-hash comparison the driver runs.
    from blockchair_etl_spark.queryset import trained_ivf_oracle_sql
    from blockchair_etl_spark.testing import compare_frames, duckdb_connection

    centroids, idx = index
    qv = [float(v) for v in
          load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0).head()["embedding"]]
    got = ivf_ann_topk(idx, centroids, qv, k=10, n_probe=2).toPandas()
    con = duckdb_connection(sf_dir)
    want = con.execute(trained_ivf_oracle_sql(centroids, k=10, n_probe=2)).fetchdf()
    r = compare_frames("ann_ivf_trained", got, want)
    assert r.ok, r.mismatches


def test_pq_encode_and_adc(spark, sf_dir):
    import numpy as np
    from pyspark.sql import functions as F

    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.llmdata.pq import (
        pq_adc_topk,
        pq_encode,
        seed_pq_codebooks,
        train_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books = seed_pq_codebooks(emb, dim=64, m=4, ksub=16)
    assert books.shape == (4, 16, 16)

    from blockchair_etl_spark.llmdata.pq import FIXED_SCALE

    def qd(sub, cw):
        # the operator's fixed-point distance, replayed in numpy
        return int(np.floor((sub - cw) * (sub - cw) * FIXED_SCALE).sum())

    codes = pq_encode(emb, books).collect()
    assert all(len(r.codes) == 4 and all(0 <= c < 16 for c in r.codes) for r in codes)
    # encoding is the fixed-point argmin numpy replays bit-for-bit
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.select("vec_id", "embedding").limit(50).collect()}
    for r in codes[:50]:
        if r.vec_id not in vecs:
            continue
        v = vecs[r.vec_id]
        for j in range(4):
            sub = v[j * 16 : (j + 1) * 16]
            d = [qd(sub, books[j][c]) for c in range(16)]
            assert r.codes[j] == int(np.argmin(d))

    # ADC score == numpy table-lookup distance for the same codes
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    top = pq_adc_topk(emb, books, qv, k=10).collect()
    q = np.array(qv)
    code_map = {r.vec_id: r.codes for r in codes}
    for r in top:
        expect = sum(
            qd(q[j * 16 : (j + 1) * 16], books[j][code_map[r.vec_id][j]])
            for j in range(4)
        ) / FIXED_SCALE
        assert r.adc == expect

    # trained codebooks: deterministic, and total quantization error
    # does not get worse than the seed codebooks
    t1 = train_pq_codebooks(emb, dim=64, m=4, ksub=16, iterations=3)
    t2 = train_pq_codebooks(emb, dim=64, m=4, ksub=16, iterations=3)
    assert np.array_equal(t1, t2)

    def qerr(bk):
        err = 0.0
        for vid, v in vecs.items():
            for j in range(4):
                sub = v[j * 16 : (j + 1) * 16]
                err += ((bk[j] - sub) ** 2).sum(axis=1).min()
        return err

    assert qerr(t1) <= qerr(books) + 1e-9


def test_assign_cluster_pruned_contract(spark, sf_dir):
    """Pruned assignment == argmin over the vector's LSH-bucket centroid
    subset (replayed in numpy), with the -1-bucket fallback for empty
    buckets; and agreement with flat assignment is high (the bounded
    approximation the docstring promises)."""
    import numpy as np
    from pyspark.sql import functions as F

    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.llmdata.ivf import (
        assign_cluster,
        assign_cluster_pruned,
        seed_centroids,
    )
    from blockchair_etl_spark.llmdata.similarity import _planes

    emb = load_table(spark, sf_dir, "embeddings")
    k = 32
    cents = seed_centroids(emb, n_centroids=k)
    dim = 64
    n_planes = 1  # k/target = 32/16 -> 1 plane, 2 buckets
    got = emb.select(
        "vec_id",
        "embedding",
        assign_cluster_pruned(F.col("embedding"), cents, dim=dim).alias("pc"),
        assign_cluster(F.col("embedding"), cents).alias("fc"),
    ).collect()

    planes = _planes(dim, n_planes)
    cent_bucket = {
        c: sum(1 << p for p in range(n_planes) if float(np.dot(planes[p], cents[c])) >= 0)
        for c in range(k)
    }
    agree = 0
    for r in got:
        v = np.asarray(r.embedding, dtype=float)
        b = sum(1 << p for p in range(n_planes) if float(np.dot(planes[p], v)) >= 0)
        cands = [c for c in range(k) if cent_bucket[c] == b]
        if not cands:
            assert r.pc == -1 - b
            continue
        d = [((cents[c] - v) ** 2).sum() for c in cands]
        assert r.pc == cands[int(np.argmin(d))]
        agree += r.pc == r.fc
    # bounded approximation: most vectors still get their true centroid
    assert agree / len(got) > 0.6


def test_ivfpq_composition_matches_numpy_replay(spark, sf_dir):
    """IVF-PQ end-to-end: coarse assignment, residual PQ codes, probe
    pruning, and ADC scores all bit-match a numpy replay of the same
    fixed-point arithmetic."""
    import numpy as np
    from pyspark.sql import functions as F

    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.llmdata.ivf import seed_centroids
    from blockchair_etl_spark.llmdata.pq import (
        FIXED_SCALE,
        ivfpq_adc_topk,
        ivfpq_encode,
        residual_frame,
        seed_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb, n_centroids=8)
    res = residual_frame(emb, cents)
    books = seed_pq_codebooks(res, dim=64, m=4, ksub=16, vec_col="residual")

    vecs = {r.vec_id: np.asarray(r.embedding, dtype=float)
            for r in emb.select("vec_id", "embedding").collect()}

    def np_assign(v):
        d = ((cents - v) ** 2).sum(axis=1)
        return int(np.argmin(d))  # seed data has no exact ties

    def qd(sub, cw):
        return int(np.floor((sub - cw) * (sub - cw) * FIXED_SCALE).sum())

    def np_codes(r):
        return [int(np.argmin([qd(r[j*16:(j+1)*16], books[j][c]) for c in range(16)]))
                for j in range(4)]

    idx = {r.vec_id: r for r in ivfpq_encode(emb, cents, books).collect()}
    for vid, v in list(vecs.items())[:80]:
        c = np_assign(v)
        assert idx[vid].ivf_cluster == c
        assert list(idx[vid].codes) == np_codes(v - cents[c])

    qv = [float(x) for x in vecs[0]]
    got = ivfpq_adc_topk(emb, cents, books, qv, k=10, n_probe=2).collect()
    q = np.asarray(qv)
    order = np.argsort(((cents - q) ** 2).sum(axis=1), kind="stable")
    probes = set(int(c) for c in order[:2])
    scored = []
    for vid, v in vecs.items():
        c = np_assign(v)
        if c not in probes:
            continue
        qres = q - cents[c]
        codes = np_codes(v - cents[c])
        adc = sum(qd(qres[j*16:(j+1)*16], books[j][codes[j]]) for j in range(4))
        scored.append((adc / FIXED_SCALE, vid))
    want = sorted(scored, key=lambda t: (t[0], t[1]))[:10]
    assert [(r.adc, r.vec_id) for r in got] == want
    # probing actually pruned
    assert len(scored) < len(vecs)


def test_pruned_assignment_generated_sql_hash_parity(spark, sf_dir):
    """assign_cluster_pruned gets the same generated-SQL hash gate the
    trained IVF codebook has: centroids + their driver-side buckets
    inline into DuckDB SQL, and the full assignment relation (including
    -1-bucket fallbacks) must hash-match cross-engine."""
    from pyspark.sql import functions as F

    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.llmdata.ivf import assign_cluster_pruned, seed_centroids
    from blockchair_etl_spark.queryset import pruned_assign_oracle_sql
    from blockchair_etl_spark.testing import compare_frames, duckdb_connection

    emb = load_table(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb, n_centroids=32)
    got = emb.select(
        "vec_id",
        assign_cluster_pruned(F.col("embedding"), cents, dim=64).alias("sem_cluster"),
    ).toPandas()
    con = duckdb_connection(sf_dir)
    want = con.execute(pruned_assign_oracle_sql(cents, dim=64, n_planes=1)).fetchdf()
    r = compare_frames("pruned_assign", got, want)
    assert r.ok, r.mismatches


def test_exact_probe_order_ties_and_decimal_arithmetic():
    """Probe order must follow the oracle's decimal arithmetic: exact
    per-term DEC(38,18) quantization + exact sum, ties by list id."""
    import numpy as np

    from blockchair_etl_spark.llmdata.ivf import exact_probe_order

    # identical centroids: pure tie -> ascending list ids
    cents = np.asarray([[1.0, 2.0], [1.0, 2.0], [1.0, 2.0]])
    assert exact_probe_order(cents, [0.0, 0.0]) == [0, 1, 2]

    # a near-tie where raw double SUMS are equal but the quantized
    # decimal sums could differ must still be ordered deterministically
    # and match the reference Decimal computation
    from decimal import ROUND_HALF_UP, Decimal

    rng = np.random.default_rng(3)
    cents = rng.standard_normal((8, 16))
    q = rng.standard_normal(16)
    quantum = Decimal("0.000000000000000001")

    def ref_dist(c):
        t = Decimal(0)
        for a, b in zip(c, q):
            d = float(a) - float(b)
            t += Decimal(d * d).quantize(quantum, rounding=ROUND_HALF_UP)
        return t

    expect = [i for _, i in sorted((ref_dist(c), i) for i, c in enumerate(cents))]
    assert exact_probe_order(cents, q) == expect


def test_ivfpq_from_parquet_index_matches_direct(spark, sf_dir, tmp_path):
    """The deployed-index query path: ivfpq_encode written to parquet
    once, ivfpq_adc_topk_from_index reading it must return exactly what
    the raw-vector search returns (same probes, same fixed-point ADC
    scores) — including after the parquet round trip."""
    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.llmdata.ivf import seed_centroids
    from blockchair_etl_spark.llmdata.pq import (
        ivfpq_adc_topk,
        ivfpq_adc_topk_from_index,
        ivfpq_encode,
        residual_frame,
        seed_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb, n_centroids=8)
    res = residual_frame(emb, cents)
    books = seed_pq_codebooks(res, dim=64, m=4, ksub=16, vec_col="residual")
    qv = [float(v) for v in cents[0]]

    path = str(tmp_path / "ivfpq_index")
    ivfpq_encode(emb, cents, books).write.mode("overwrite").parquet(path)
    index = spark.read.parquet(path)

    direct = [
        (r.vec_id, r.adc)
        for r in ivfpq_adc_topk(emb, cents, books, qv, k=10, n_probe=2).collect()
    ]
    stored = [
        (r.vec_id, r.adc)
        for r in ivfpq_adc_topk_from_index(
            index, cents, books, qv, k=10, n_probe=2
        ).collect()
    ]
    assert stored == direct and len(stored) == 10


def test_ivfpq_index_append_matches_rebuild_and_replays(spark, sf_dir, tmp_path):
    """r12 verdict stretch #7 — incremental index maintenance: a
    prebuilt IVF-PQ index appended with the daily batch (encoded
    against the FROZEN codebooks, _dedup_store_union write-back) must
    (a) equal the full re-encode row-for-row, (b) return bit-identical
    probe results, (c) land each key exactly once on an at-least-once
    replay with the batch's version winning, and (d) never shuffle the
    store (the batch side broadcasts into the anti-join)."""
    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.llmdata.ivf import seed_centroids
    from blockchair_etl_spark.llmdata.pq import (
        ivfpq_adc_topk_from_index,
        ivfpq_encode,
        ivfpq_index_append,
        residual_frame,
        seed_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # freeze the artifacts on the INITIAL corpus only — the deployment
    # contract (retraining is the full-rebuild cadence, not the append)
    initial = emb.filter(F.col("vec_id") % 4 != 0)
    arriving = emb.filter(F.col("vec_id") % 4 == 0)
    cents = seed_centroids(initial, n_centroids=8)
    res = residual_frame(initial, cents)
    books = seed_pq_codebooks(res, dim=64, m=4, ksub=16, vec_col="residual")

    path = str(tmp_path / "ivfpq_store")
    ivfpq_encode(initial, cents, books).write.mode("overwrite").parquet(path)
    store = spark.read.parquet(path)

    appended = ivfpq_index_append(store, arriving, cents, books)

    def rows(df):
        return {(r.vec_id, r.ivf_cluster, tuple(r.codes)) for r in df.collect()}

    # (a) row-for-row parity with re-encoding the full corpus against
    # the same frozen artifacts
    rebuilt = ivfpq_encode(emb, cents, books)
    assert rows(appended) == rows(rebuilt)

    # (b) probe parity, bit-identical ordering
    qv = [float(v) for v in cents[0]]
    got = [
        (r.vec_id, r.adc)
        for r in ivfpq_adc_topk_from_index(
            appended, cents, books, qv, k=10, n_probe=2
        ).collect()
    ]
    want = [
        (r.vec_id, r.adc)
        for r in ivfpq_adc_topk_from_index(
            rebuilt, cents, books, qv, k=10, n_probe=2
        ).collect()
    ]
    assert got == want and len(got) == 10

    # (c) replay idempotence: write back, replay the same batch — one
    # row per key, byte-identical store
    appended.write.mode("overwrite").parquet(str(tmp_path / "store2"))
    store2 = spark.read.parquet(str(tmp_path / "store2"))
    replayed = ivfpq_index_append(store2, arriving, cents, books)
    assert rows(replayed) == rows(rebuilt)
    assert (
        replayed.groupBy("vec_id").count().filter(F.col("count") > 1).count() == 0
    )

    # (d) the store never shuffles: the anti-join's batch side is a
    # broadcast exchange
    plan = appended._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:2000]


def test_ann_artifact_frames_roundtrip(spark, sf_dir, tmp_path):
    """The centroid/codebook artifact relations must reload BIT-EXACTLY
    through a parquet round trip (float64 == parquet DOUBLE), including
    for TRAINED (not just seeded) artifacts, and the codebook reloader
    must refuse a ragged (partially-written) relation."""
    from blockchair_etl_spark.llmdata.ivf import (
        centroids_to_frame,
        frame_to_centroids,
        train_ivf_centroids,
    )
    from blockchair_etl_spark.llmdata.pq import (
        codebooks_to_frame,
        frame_to_codebooks,
        residual_frame,
        train_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids(emb, n_centroids=8, iterations=2)
    res = residual_frame(emb, cents)
    books = train_pq_codebooks(
        res, dim=64, m=4, ksub=16, iterations=2, vec_col="residual"
    )

    cpath, bpath = str(tmp_path / "cents"), str(tmp_path / "books")
    centroids_to_frame(spark, cents).write.parquet(cpath)
    codebooks_to_frame(spark, books).write.parquet(bpath)
    cents2 = frame_to_centroids(spark.read.parquet(cpath))
    books2 = frame_to_codebooks(spark.read.parquet(bpath))
    assert cents2.shape == cents.shape and np.array_equal(cents2, cents)
    assert books2.shape == books.shape and np.array_equal(books2, books)

    ragged = codebooks_to_frame(spark, books).filter(
        ~((F.col("subspace") == 1) & (F.col("code") == 3))
    )
    with pytest.raises(ValueError, match="ragged"):
        frame_to_codebooks(ragged)


def test_ann_artifact_reload_guards(spark, sf_dir, tmp_path):
    """Review fixes: a ragged centroid relation (missing cluster_id row
    shifts every later assignment index) and an EMPTY codebook relation
    both raise named errors instead of reloading corrupt artifacts."""
    from blockchair_etl_spark.llmdata.ivf import (
        centroids_to_frame,
        frame_to_centroids,
        seed_centroids,
    )
    from blockchair_etl_spark.llmdata.pq import frame_to_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb, n_centroids=4)
    cf = centroids_to_frame(spark, cents)
    with pytest.raises(ValueError, match="ragged"):
        frame_to_centroids(cf.filter(F.col("cluster_id") != 2))
    with pytest.raises(ValueError, match="empty centroid"):
        frame_to_centroids(cf.filter(F.col("cluster_id") < 0))
    with pytest.raises(ValueError, match="empty codebook"):
        frame_to_codebooks(
            spark.createDataFrame(
                [], "subspace bigint, code bigint, centroid array<double>"
            )
        )


def test_ann_artifact_trailing_drop_guards(spark, sf_dir):
    """Advice fix: a partial write that drops entire TRAILING clusters /
    subspaces keeps the relation internally rectangular, so the ragged
    guard alone cannot see it — passing the expected dims (which every
    trainer/configurer knows) must catch it, and correct dims must
    still reload bit-exactly."""
    import numpy as np

    from blockchair_etl_spark.llmdata.ivf import (
        centroids_to_frame,
        frame_to_centroids,
        seed_centroids,
    )
    from blockchair_etl_spark.llmdata.pq import (
        codebooks_to_frame,
        frame_to_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb, n_centroids=4)
    cf = centroids_to_frame(spark, cents)

    # trailing cluster dropped: contiguous ids 0..2, ragged guard blind
    truncated = cf.filter(F.col("cluster_id") < 3)
    assert np.allclose(frame_to_centroids(truncated), cents[:3])  # blind
    with pytest.raises(ValueError, match="truncated"):
        frame_to_centroids(truncated, expected_k=4)
    assert np.allclose(frame_to_centroids(cf, expected_k=4), cents)

    books = np.arange(2 * 4 * 3, dtype=float).reshape(2, 4, 3)
    bf = codebooks_to_frame(spark, books)
    # trailing subspace dropped: still m*ksub-rectangular for m=1
    with pytest.raises(ValueError, match="truncated"):
        frame_to_codebooks(bf.filter(F.col("subspace") < 1), expected_m=2)
    # trailing code dropped in every subspace: rectangular for ksub=3
    with pytest.raises(ValueError, match="truncated"):
        frame_to_codebooks(bf.filter(F.col("code") < 3), expected_ksub=4)
    assert np.allclose(
        frame_to_codebooks(bf, expected_m=2, expected_ksub=4), books
    )


def test_seed_pq_codebooks_residual_matches_spark_side(spark, sf_dir):
    # the driver-side residual-seed replay must be BIT-identical to the
    # Spark-side residual_frame pass it replaces (r17 optimization:
    # the argmin plan's analysis+codegen was pure fixed cost for a
    # ksub-row collect)
    from blockchair_etl_spark.llmdata.ivf import seed_centroids
    from blockchair_etl_spark.llmdata.pq import (
        residual_frame,
        seed_pq_codebooks,
        seed_pq_codebooks_residual,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb, n_centroids=8)
    via_spark = seed_pq_codebooks(
        residual_frame(emb, cents), dim=64, m=4, ksub=16, vec_col="residual"
    )
    via_driver = seed_pq_codebooks_residual(emb, cents, dim=64, m=4, ksub=16)
    assert via_spark.shape == via_driver.shape == (4, 16, 16)
    assert np.array_equal(via_spark, via_driver)  # exact, not allclose
