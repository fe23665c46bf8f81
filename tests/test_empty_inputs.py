"""Degenerate-input robustness: every reusable operator must behave on
empty (and near-empty) relations — the cases a daily pipeline hits on a
quiet partition, a fresh store, or a fully-filtered slice."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id bigint, text string, lang string")


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from blockchair_etl_spark.io.sources import load_table

    return load_table(spark, sf_dir, "documents").cache()


def test_dedup_pipeline_on_empty_corpus(spark, empty_docs):
    from blockchair_etl_spark.llmdata.clusters import connected_clusters
    from blockchair_etl_spark.llmdata.dedup import (
        bow_cosine_pairs,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    pairs = minhash_lsh_pairs(empty_docs, num_hashes=16, band_size=4, threshold=0.5)
    assert pairs.count() == 0
    assert connected_clusters(pairs).count() == 0
    assert ngram_jaccard_pairs(empty_docs, n=3, threshold=0.1).count() == 0
    assert bow_cosine_pairs(empty_docs).count() == 0
    assert bow_cosine_pairs(empty_docs, max_df=5).count() == 0


def test_sampling_and_text_on_empty(spark, empty_docs):
    from blockchair_etl_spark.llmdata.sampling import (
        hash_sample,
        reservoir_per_group,
        stratified_sample,
    )
    from blockchair_etl_spark.llmdata.text import inverted_index, tfidf_topk

    assert hash_sample(empty_docs, "doc_id").count() == 0
    assert stratified_sample(empty_docs, "lang", {"en": "80"}, "doc_id").count() == 0
    assert reservoir_per_group(empty_docs, "lang", "doc_id", k=3).count() == 0
    assert tfidf_topk(empty_docs).count() == 0
    assert inverted_index(empty_docs).count() == 0


def test_contamination_empty_benchmark_scores_zero(spark, docs):
    from blockchair_etl_spark.llmdata.dedup import contamination_scores

    empty_bench = docs.filter(F.lit(False))
    scores = contamination_scores(docs, empty_bench, n=3)
    assert scores.filter(F.col("contamination") != 0.0).count() == 0
    assert scores.count() > 0  # training docs still reported


def test_winsorize_single_row_group(spark):
    from blockchair_etl_spark.operators.approx import winsorize

    df = spark.createDataFrame([(1, "a", 42.0)], "event_id bigint, event_type string, value double")
    got = winsorize(df, "value", "event_type").collect()
    assert len(got) == 1 and got[0].value_winsorized == 42.0


def test_kmv_on_empty_and_singleton(spark):
    from blockchair_etl_spark.operators.approx import kmv_distinct, kmv_mins, kmv_union

    empty = spark.createDataFrame([], "user_id bigint")
    row = kmv_distinct(empty, "user_id").collect()[0]
    assert row.n_taken == 0 and row.distinct_estimate == 0.0
    one = spark.createDataFrame([(7,)], "user_id bigint")
    merged = kmv_union([kmv_mins(empty, "user_id"), kmv_mins(one, "user_id")]).collect()[0]
    assert merged.n_taken == 1 and merged.distinct_estimate == 1.0


def test_round4_ops_on_empty(spark, empty_docs):
    from blockchair_etl_spark.llmdata.text import line_dedup, rarity_scores
    from blockchair_etl_spark.operators.approx import cms_build, cms_estimate
    from blockchair_etl_spark.operators.bloom import bloom_build, bloom_might_contain
    from blockchair_etl_spark.query.graph import pagerank_fixed_point

    assert line_dedup(empty_docs).count() == 0
    assert rarity_scores(empty_docs).count() == 0

    empty_edges = spark.createDataFrame([], "src bigint, dst bigint")
    assert pagerank_fixed_point(empty_edges, iterations=2).count() == 0

    empty_keys = spark.createDataFrame([], "k bigint")
    sketch = cms_build(empty_keys, "k")
    assert sketch.count() == 0
    assert cms_estimate(sketch, empty_keys, "k").count() == 0

    # an empty dimension's bloom rejects everything (all-zero bitset)
    words = bloom_build(empty_keys, "k")
    assert all(w == 0 for w in words)
    probes = spark.range(100).select(F.col("id").alias("k"))
    assert probes.filter(bloom_might_contain("k", words)).count() == 0


def test_scd2_merge_on_empty_updates(spark):
    from blockchair_etl_spark.operators.scd import scd2_merge

    dim = spark.createDataFrame(
        [(1, 10.0, "2024-01-01 00:00:00", None)],
        "k bigint, v double, valid_from string, valid_to string",
    ).select(
        "k", "v",
        F.col("valid_from").cast("timestamp_ntz").alias("valid_from"),
        F.col("valid_to").cast("timestamp_ntz").alias("valid_to"),
    )
    empty_upd = spark.createDataFrame([], "k bigint, v double")
    out = scd2_merge(dim, empty_upd, key="k", tracked=["v"], batch_ts="2024-06-01 00:00:00")
    rows = out.collect()
    assert len(rows) == 1 and rows[0].valid_to is None  # dim untouched

def test_round5_ops_on_empty_inputs(spark, empty_docs):
    from blockchair_etl_spark.llmdata.dedup import (
        incremental_minhash_dedup,
        minhash_band_store,
    )
    from blockchair_etl_spark.llmdata.similarity import (
        knn_join_lsh,
        quantize_embeddings_int8,
    )
    from blockchair_etl_spark.llmdata.text import bigram_fluency_scores

    empty_emb = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    # explicit planes/dim: adaptive peeks need >= 1 row by contract
    assert knn_join_lsh(empty_emb, k=3, dim=8, n_planes=2).count() == 0
    assert quantize_embeddings_int8(empty_emb).count() == 0
    assert bigram_fluency_scores(empty_docs).count() == 0
    # empty day-2 batch against a populated store → no pairs; empty
    # store (None) → no pairs, store seeded from the batch
    some = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id bigint, text string"
    )
    store = minhash_band_store(some)
    pairs, updated = incremental_minhash_dedup(empty_docs.select("doc_id", "text"), store)
    assert pairs.count() == 0 and updated.count() == 1
    pairs2, seeded = incremental_minhash_dedup(some, None)
    assert pairs2.count() == 0 and seeded.count() == 1


def test_round5_wave2_ops_on_empty_inputs(spark, empty_docs):
    import numpy as np

    from blockchair_etl_spark.llmdata.dedup import (
        build_embedding_store,
        incremental_embedding_dedup,
        repeated_ngram_stats,
        semantic_dedup_survivors,
    )
    from blockchair_etl_spark.llmdata.pq import (
        ivfpq_encode,
        pq_adc_topk,
        pq_encode,
        seed_pq_codebooks,
    )
    from blockchair_etl_spark.llmdata.sampling import temperature_resample
    from blockchair_etl_spark.llmdata.text import gopher_quality_gate, normalize_text

    src_docs = empty_docs.withColumn("source", F.col("lang"))
    assert temperature_resample(src_docs, "source", "doc_id", total_target=0).count() == 0
    assert normalize_text(empty_docs).count() == 0
    assert gopher_quality_gate(empty_docs).count() == 0
    assert repeated_ngram_stats(empty_docs).count() == 0

    empty_emb = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    cents = np.zeros((4, 8))
    # empty corpus with an externally-supplied codebook: no survivors,
    # no codes, empty ADC result
    assert semantic_dedup_survivors(empty_emb, cents, threshold=0.3, dim=8).count() == 0
    books = np.zeros((2, 4, 4))
    assert pq_encode(empty_emb, books).count() == 0
    assert pq_adc_topk(empty_emb, books, [0.0] * 8, k=5).count() == 0
    assert ivfpq_encode(empty_emb, cents, books).count() == 0

    # empty day-2 embedding batch vs populated store; None-store bootstrap
    some = spark.createDataFrame(
        [(1, [float(x) for x in range(8)])], "vec_id bigint, embedding array<float>"
    )
    store = build_embedding_store(some, dim=8, n_planes=2)
    pairs, updated = incremental_embedding_dedup(empty_emb, store, dim=8, n_planes=2)
    assert pairs.count() == 0 and updated.count() == 1
    pairs2, seeded = incremental_embedding_dedup(some, None, dim=8, n_planes=2)
    assert pairs2.count() == 0 and seeded.count() == 1


def test_round6_ops_on_empty(spark, empty_docs):
    import numpy as np

    from blockchair_etl_spark.llmdata.dedup import (
        semantic_dedup_survivors_grouped,
    )
    from blockchair_etl_spark.llmdata.sampling import (
        cluster_balanced_sample,
        dsir_proxy_scores,
        quality_budget_select,
    )

    with_score = empty_docs.withColumn("score", F.length("text"))
    assert quality_budget_select(with_score, score_col="score").count() == 0
    assert dsir_proxy_scores(empty_docs, F.col("lang") == "en").count() == 0

    empty_emb = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    assert cluster_balanced_sample(empty_emb, per_bucket=3, n_planes=2, dim=4).count() == 0
    cents = np.asarray([[0.0, 1.0, 0.0, 0.0]])
    assert (
        semantic_dedup_survivors_grouped(empty_emb, cents, threshold=0.9, dim=4).count()
        == 0
    )


def test_recursive_cte_trace_from_absent_source(spark, sf_dir):
    """A recursive trace anchored on a source with no outgoing edges
    must return zero rows, not error."""
    from blockchair_etl_spark.io.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    edges = ev.select(
        F.col("user_id").cast("bigint").alias("src"),
        (F.floor(F.col("value")).cast("bigint") % 150).alias("dst"),
    ).filter(F.lit(False))
    edges.createOrReplaceTempView("empty_edges_rcte")
    out = spark.sql(
        """
WITH RECURSIVE hops(hop, src, dst) AS (
  SELECT CAST(1 AS BIGINT), src, dst FROM empty_edges_rcte WHERE src = 7
  UNION ALL
  SELECT h.hop + 1, e.src, e.dst
  FROM empty_edges_rcte e JOIN hops h ON h.dst = e.src
  WHERE h.hop < 3
)
SELECT * FROM hops
"""
    )
    assert out.count() == 0


def test_round9_ops_on_empty(spark, empty_docs):
    """r9 surface: media fingerprint pipeline and the classifier on an
    empty corpus (a quiet partition), plus the classifier with an empty
    weight relation (a zero-feature model artifact)."""
    from blockchair_etl_spark.llmdata.classify import (
        hashed_weights,
        linear_classifier_scores,
    )
    from blockchair_etl_spark.llmdata.dedup import (
        media_byte_fingerprints,
        simhash_near_pairs,
    )

    empty_media = empty_docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("content"),
    )
    fp = media_byte_fingerprints(empty_media, bits=32, gram_bytes=4)
    assert fp.count() == 0
    assert simhash_near_pairs(fp, max_hamming=3, bits=32).count() == 0

    weights = hashed_weights(spark, n_features=64)
    assert linear_classifier_scores(empty_docs, weights).count() == 0
    # zero-row weight relation: every token left-joins to NULL, logits
    # collapse to the bias via the null-sum coalesce
    one = spark.createDataFrame([(1, "alpha beta")], "doc_id bigint, text string")
    row = linear_classifier_scores(
        one, weights.filter(F.lit(False)), bias_q=7
    ).first()
    assert row.logit_q == 7 and row.pred == 1


def test_r10_operators_on_empty_inputs(spark, empty_docs, docs):
    """Round-10 surface on degenerate inputs: decontamination with an
    empty corpus or empty eval set, the pixel-dedup stages on an empty
    media relation, and the incremental media probe with an empty
    batch."""
    from blockchair_etl_spark.llmdata import multimodal as mm
    from blockchair_etl_spark.llmdata.dedup import (
        decontaminate,
        incremental_media_dedup,
        media_byte_fingerprints,
        simhash_cross_pairs,
    )

    # empty corpus -> empty output; empty eval set -> nothing is
    # contaminated, the corpus rides through whole
    assert decontaminate(empty_docs, docs.select("doc_id", "text")).count() == 0
    n = docs.count()
    assert decontaminate(docs, empty_docs, threshold=0.0).count() == n

    empty_media = spark.createDataFrame(
        [], "media_id bigint, content binary, width long, height long, kind string"
    )
    resized = mm.resize_images(empty_media, width=4, height=8, decoder="bytegrid")
    assert resized.count() == 0
    fp = mm.ahash_fingerprints(resized)
    assert fp.count() == 0

    # empty batch vs a real store: no pairs, store unchanged
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.col("text").cast("binary").alias("content")
    )
    store = media_byte_fingerprints(media.limit(50))
    n_store = store.count()
    empty_fp = media_byte_fingerprints(
        empty_media.select("media_id", "content")
    )
    assert simhash_cross_pairs(empty_fp, store).count() == 0
    pairs, updated = incremental_media_dedup(
        empty_media.select("media_id", "content"), store
    )
    assert pairs.count() == 0 and updated.count() == n_store


def test_r11_operators_on_empty_inputs(spark, empty_docs, docs):
    """Round-11 surface on degenerate inputs: BPE training on an empty
    corpus learns nothing (and applying an empty merge list is the
    character split); the joint cross-modal dedup of an empty corpus is
    empty; decontamination against an EMPTY precomputed shingle set
    keeps the whole corpus."""
    from blockchair_etl_spark.llmdata.dedup import bench_shingle_set, decontaminate
    from blockchair_etl_spark.llmdata.tokenizer import bpe_apply, bpe_train
    from blockchair_etl_spark.queryset import joint_dedup_survivors

    assert bpe_train(empty_docs, n_merges=5) == []
    out = bpe_apply(empty_docs, [])
    assert out.count() == 0 and set(out.columns) == {"doc_id", "tokens", "n_tokens"}
    # empty merge list on a real corpus == character split, one row/doc
    applied = bpe_apply(docs.limit(5), [])
    rows = applied.collect()
    assert len(rows) == 5
    for r in rows:
        assert all(len(t) == 1 for t in r.tokens)

    assert joint_dedup_survivors(empty_docs, width=4, height=8).count() == 0

    empty_sh = bench_shingle_set(empty_docs)
    n = docs.count()
    assert (
        decontaminate(
            docs, None, threshold=0.0, bench_shingles=empty_sh
        ).count()
        == n
    )


def test_r16_operators_on_empty_inputs(spark, empty_docs, docs):
    """Round-16 surface on degenerate inputs: capped pair paths on an
    empty corpus are empty (the cap branches must not fail on empty
    bucket-count relations); HLL of an empty column is the all-zero
    sketch whose scaled sum is exactly m*2^51 with zero raw-regime
    surprises; the incremental winnowing loop on an empty batch emits
    nothing and leaves the store intact."""
    from blockchair_etl_spark.llmdata.dedup import (
        embedding_dup_pairs,
        minhash_lsh_pairs,
        simhash_fingerprints,
        simhash_near_pairs,
    )
    from blockchair_etl_spark.llmdata.similarity import knn_join_lsh
    from blockchair_etl_spark.llmdata.text import (
        incremental_winnowing_dedup,
        winnowing_fingerprint_store,
    )
    from blockchair_etl_spark.operators.approx import (
        hll_distinct,
        hll_registers,
    )

    fp = simhash_fingerprints(empty_docs, bits=32)
    assert simhash_near_pairs(fp, max_hamming=3, bits=32, max_bucket=4).count() == 0
    assert minhash_lsh_pairs(empty_docs, threshold=0.5, max_bucket=4).count() == 0

    empty_emb = spark.createDataFrame(
        [], "vec_id bigint, embedding array<float>"
    )
    assert (
        embedding_dup_pairs(
            empty_emb, threshold=0.99, dim=8, lsh_planes=4, max_bucket=4
        ).count()
        == 0
    )
    assert (
        knn_join_lsh(empty_emb, k=3, dim=8, n_planes=4, max_bucket=4).count()
        == 0
    )

    assert hll_registers(empty_docs, "text").count() == 0
    est = hll_distinct(empty_docs, "text").first()
    assert est.zero_registers == est.m == 1024
    assert est.s_scaled == 1024 * (1 << 51)
    # all-zero registers: linear counting is flagged even though V == m
    # (the serving-side correction m*ln(m/V) then reads exactly 0)
    assert est.use_linear_counting

    store = winnowing_fingerprint_store(docs.limit(20))
    n_store = store.count()
    pairs, updated = incremental_winnowing_dedup(empty_docs, store)
    assert pairs.count() == 0 and updated.count() == n_store
