#!/usr/bin/env python3
"""Scaling-exponent bench for the dedup/ANN/CC/stream family.

All headline perf claims rest on one scale point (sf0.1). This script
synthesizes a 10× corpus — documents/embeddings/events/customer
unioned with 9 deterministic id-shifted copies (texts get periodic
per-copy tag tokens and embeddings a per-copy orthogonal sign-flip so
the near-dup pair structure grows ~10×, not 100×; every other TPC-H
table is symlinked, so families reading those must stay out of FAMILY) —
then times each family query at 1× and 10× and
reports the per-query scaling exponent alpha = log(t10/t1)/log(10).
alpha ≈ 1 is linear; anything materially super-linear is named in the
"superlinear" list. Output: ONE JSON line, also written to
BENCH_SCALING.json.

Run: python3 bench_scaling.py   (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
SPARK_GRAFT_BENCH_RUNS as in bench.py)
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import time

FAMILY = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_connected_clusters",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "dedup_embedding_lsh_blocked",
    "sessionize_events",
    "pack_sequences",
    "text_quality",
    "text_chunking",
    # round-4 additions
    "text_line_dedup",
    "sketch_cms_heavy_hitters",
    "sketch_histogram_quantiles",
    "graph_pagerank",
    "centroid_by_bucket",
    # bloom_pruned_join_revenue is deliberately ABSENT: it reads
    # lineitem/supplier, which synthesize() symlinks rather than copies,
    # so any alpha for it measures identical input at both scale points
    # (r9 correction — it sat here from r4 producing meaningless ~0
    # readings)
    # round-5 additions: the remaining quadratic-risk (pair-generating)
    # operators, plus the multiprobe recall lever
    "dedup_ngram_jaccard",
    "fuzzy_name_pairs",
    "corpus_prep_pipeline",
    "dedup_embedding_multiprobe",
    "ann_knn_join",
    # round-5 wave 2
    "dedup_repeated_ngram_spans",
    "ann_pq_topk",
    "mixture_domain_resample",
    "text_normalize",
    "ann_ivfpq_topk",
    "dedup_incremental_embedding",
    # round-6 additions: the two with a nontrivial scale story (the
    # recursive CTE's fan-out and the budget selection's two-phase
    # cumulative sum)
    "trace_recursive_cte",
    "corpus_token_budget",
    "sample_dsir_scores",
    # round-8 additions: the classifier's distinct-token featurization
    # join and the media byte-gram fan-out each have their own scale
    # story (vocab growth vs occurrence growth; payload-proportional
    # gram explode)
    "quality_classifier_scores",
    "media_simhash_fingerprints",
    "dedup_ngram_containment",
    "corpus_embedding_curation_pipeline",
    # round-9 additions: the two new composed pipelines — media near-dup
    # adds a pigeonhole pair join + CC on top of the gram fan-out;
    # prep-v4 adds the classifier join inside the text-pipeline chain
    "media_dedup_survivors",
    "corpus_prep_v4_pipeline",
    # exact-substring span removal: shingle-df agg + coverage window,
    # linear like its measurement sibling dedup_repeated_ngram_spans
    "dedup_span_removal",
    # round-11: BPE apply — distinct-word encode + join-back; scale
    # story is vocabulary growth (Heaps-sublinear) vs occurrence growth
    "tokenizer_bpe_apply",
    # round-12: the v5 pipeline composes the BPE distinct-word encode,
    # the two-phase budget cumulative sum, and the per-shard packing
    # windows — each linear or sublinear alone; the composition is the
    # thing to watch
    "corpus_prep_v5_pipeline",
    # round-13: incremental IVF-PQ maintenance — the scale story is the
    # frozen-artifact encode of the arriving quarter plus the store
    # anti-join (broadcast batch keys, store scan only), per the
    # daily-ingest contract; embeddings is a synthesized table so the
    # alpha is meaningful
    "ann_ivfpq_incremental",
    # round-13: incremental CC — the star-edge fold's scale story is
    # the day-2 pair set + O(docs) star edges, never the pair history;
    # pair-generating upstream (minhash), so it takes the tight gate
    "dedup_incremental_clusters",
    # round-13: the k-center coreset is k driver rounds of one
    # TakeOrdered scan each (no shuffle) — alpha ~1 expected (scan-
    # bound); the unigram seed stage is one substring explode + agg,
    # the text-family shape. Both read documents/embeddings, which
    # synthesize() copies, so the alphas are meaningful.
    "sample_kcenter_coreset",
    "tokenizer_unigram_seed",
    # round-14: the perplexity gate scores DISTINCT words (Heaps-
    # sublinear under copy-scaling: the copied corpus adds occurrences,
    # not words) and joins back to the token stream — the
    # quality_classifier_scores scale story with a DP instead of a
    # featurization join; v6 composes it as the third gate inside the
    # v4 chain, so the composition is the thing to watch (the v5 rule)
    "quality_unigram_ppl_gate",
    "corpus_prep_v6_pipeline",
    # round-14: grouped KMV — distinct-hash saturation under copy
    # scaling (copies add occurrences, not distinct users), so the
    # sketch shuffle is the scale story
    "sketch_kmv_grouped",
    # round-15: the hot-bucket-capped LSH twin — the scale story is the
    # collapse itself: per-bucket counts are one map-combined agg, only
    # oversized keys broadcast back, and a degenerate bucket's
    # candidates drop from h^2 to (#signatures)^2 + h. max_bucket=2
    # binds on the fixture, so the measured path IS the collapse path.
    "dedup_minhash_lsh_capped",
    # round-16: the SimHash sibling of the capped path — oversized
    # pigeonhole buckets collapse per FULL fingerprint (lossless by
    # identity: hamming 0); max_bucket=8 binds on the fixture
    "dedup_simhash_pairs_capped",
    # round-16: KMV set-intersection — two distinct-hash TakeOrdered
    # sketches + one O(k) hv equi-join; copy-scaling saturates the
    # distinct-hash set (copies add occurrences, not users), so alpha
    # reads the distinct shuffle, the sketch_kmv_grouped scale story
    "sketch_kmv_intersection",
    # round-17: a-not-b — the anti-join sibling of the intersection;
    # same copy-scaling saturation story (copies add occurrences, not
    # distinct users), alpha reads the distinct-hash shuffle
    "sketch_kmv_difference",
    # round-17: the grouped algebra — per-day grouped mins (the
    # sketch_kmv_grouped two-level cut) feeding the O(groups x k)
    # stats pass; same saturation story per group
    "sketch_kmv_grouped_algebra",
    # round-15: grouped CMS — cell-bounded state per group; the scale
    # story is the (g, row, col) hash-agg's partial aggregation keeping
    # the exchange at O(groups x depth x width) regardless of stream
    # length, plus the never-broadcast (g, col) estimate joins
    "sketch_cms_grouped_topk",
    # round-15: winnowing — the per-row array-space selection (one
    # packed-string key per char position, one array_min per window
    # slice, all inside the document's row; zero shuffles, only the
    # final selected-set explode leaves the row); linear in corpus
    # chars with no join, the steepest honest fan-out in the text
    # family (documents is copied by synthesize, so alpha is
    # meaningful)
    "text_winnowing_fingerprints",
    # round-15: the MOSS pair composition — a shared-fingerprint
    # self-join, the dedup family's pair-generating shape over the
    # winnowed (density ~2/(w+1)) stream; takes the tight gate
    "dedup_winnowing_pairs",
    # media_pixel_dedup_survivors (the 8x4=32-bit oracle twin) is
    # deliberately ABSENT: at fixed 32-bit width the pigeonhole block
    # join's RANDOM collisions alone grow quadratically (4*2^-8 ~ 1.6%
    # of all pairs — the fixed-LSH-plane trap), which is why width is
    # the scale knob; the 64-bit corpus-scale configuration is measured
    # as media_pixel_dedup_adaptive (custom runner) instead.
]

# Pair-generating queries: any blocked self-join whose within-block pair
# count is the scale hazard. These get the tight superlinear gate —
# alpha just above 1 here means quadratic-in-waiting (the r4 bench let
# dedup_embedding_lsh_blocked's alpha=1.08 / 12x wall-clock through a
# 1.25 gate).
PAIR_QUERIES = {
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embedding_lsh_blocked",
    "dedup_embedding_multiprobe",
    "fuzzy_name_pairs",
    "corpus_prep_pipeline",
    "dedup_bow_cosine_zipf",
    "ann_knn_join",
    "dedup_repeated_ngram_spans",
    "dedup_span_removal",
    "dedup_semantic_semdedup",
    "dedup_incremental_embedding",
    "dedup_minhash_store_backed",
    "dedup_ngram_containment",
    "corpus_embedding_curation_pipeline",
    "media_dedup_survivors",
    "media_pixel_dedup_adaptive",
    "multimodal_joint_dedup_adaptive",
    "dedup_incremental_media_bigstore",
    "dedup_incremental_clusters",
    "dedup_minhash_lsh_capped",
    "dedup_winnowing_pairs",
    "dedup_simhash_pairs_capped",
    "dedup_winnowing_store_backed",
    "dedup_incremental_winnowing_bigstore",
}

COPIES = 10


def synthesize(spark, src: str, dst: str) -> None:
    """10× tables via id-shifted unions; everything else symlinked."""
    from pyspark.sql import functions as F

    from blockchair_etl_spark.io.sources import TESTDATA_TABLES, load_table

    os.makedirs(dst, exist_ok=True)

    docs = spark.read.parquet(f"{src}/documents.parquet")
    n_docs = docs.count()

    def copy_text(i: int):
        if i == 0:
            return F.col("text")
        # Every 4th token becomes a copy-and-position-specific tag: a
        # 3-token shingle survives in two copies only if it spans no
        # tagged position (1/4 of shingles), so cross-copy Jaccard is
        # ~0.25/1.75 ≈ 0.14 — below every dedup threshold in the
        # family. A single SUFFIX tag (the old scheme) left shingle
        # sets ~95% identical, so each base doc's 10 copies formed a
        # 45-pair near-dup clique and "10× data" actually meant ~45×
        # dup pairs — a fixture artifact that made every exact
        # pair-materializing operator read as superlinear. With
        # periodic tags the base corpus's REAL near-dups replicate
        # 10×, which is the linear dup growth the fixture promises.
        return F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda tok, j: F.when(
                    j % 4 == 0,
                    F.concat(F.lit(f"c{i}t"), j.cast("string")),
                ).otherwise(tok),
            ),
            " ",
        )

    parts = [
        docs.select(
            (F.col("doc_id") + F.lit(i * n_docs)).alias("doc_id"),
            copy_text(i).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        for i in range(COPIES)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.coalesce(8).write.mode("overwrite").parquet(f"{dst}/documents.parquet")

    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    n_emb = emb.count()
    parts = [
        emb.select(
            (F.col("vec_id") + F.lit(i * n_emb)).alias("vec_id"),
            # Per-copy deterministic SIGN-FLIP transform (diagonal ±1 —
            # an orthogonal matrix): within-copy cosine is preserved
            # exactly (dot and norms invariant under a shared sign
            # pattern), so the base corpus's REAL near-dup pairs
            # replicate COPIES× — linear, the growth the fixture
            # promises. Cross-copy cosine collapses to ~0 ± 1/sqrt(dim)
            # (two copies agree on ~half the signs), far below every
            # dedup/ANN threshold in the family. The old first-dim
            # epsilon (x + i*1e-4) kept every copy a NEIGHBOR of its
            # original, so cross-copy pairs grew quadratically BY
            # CONSTRUCTION and dedup_embedding_* alphas measured the
            # fixture, not the operator (r9 verdict #4 — the text
            # side's periodic tags fixed the same artifact in r8).
            (
                F.col("embedding")
                if i == 0
                else F.expr(
                    f"transform(embedding, (x, j) -> CASE WHEN "
                    f"pmod(xxhash64('copy{i}|', j), 2) = 0 "
                    f"THEN x ELSE cast(-x AS float) END)"
                )
            ).alias("embedding"),
            "label",
        )
        for i in range(COPIES)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.coalesce(8).write.mode("overwrite").parquet(f"{dst}/embeddings.parquet")

    ev = load_table(spark, src, "events")  # ns→µs normalization if needed
    n_ev = ev.count()
    parts = [
        ev.select(
            (F.col("event_id") + F.lit(i * n_ev)).alias("event_id"),
            "ts",
            # distinct user space per copy → session count scales ~10×
            (F.col("user_id") + F.lit(i * 1_000_000_000)).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        for i in range(COPIES)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.coalesce(8).write.mode("overwrite").parquet(f"{dst}/events.parquet")

    cust = spark.read.parquet(f"{src}/customer.parquet")
    n_cust = cust.count()
    other = [c for c in cust.columns if c not in ("c_custkey", "c_name")]
    parts = [
        cust.select(
            (F.col("c_custkey") + F.lit(i * n_cust)).alias("c_custkey"),
            # regenerate the name from the shifted key so the 7-char
            # prefix blocking of fuzzy_name_pairs sees 10× the blocks
            # (same per-block occupancy), not 10× occupancy per block
            F.concat(
                F.lit("Customer#"),
                F.lpad((F.col("c_custkey") + F.lit(i * n_cust)).cast("string"), 9, "0"),
            ).alias("c_name"),
            *other,
        )
        for i in range(COPIES)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.coalesce(8).write.mode("overwrite").parquet(f"{dst}/customer.parquet")

    for t in TESTDATA_TABLES:
        link = f"{dst}/{t}.parquet"
        if not os.path.exists(link):
            os.symlink(f"{src}/{t}.parquet", link)


_UNIGRAM_PIECES: list = []


def _custom_runners(spark, repo: str, scale: int):
    """Family entries that aren't registry queries.

    - dedup_bow_cosine_zipf: df-bounded BoW cosine over a Zipf-vocab
      corpus (the driver corpus's 31-term vocab can't exercise the df
      bound); scale multiplies n_docs, fixture generation is untimed.
    - trace_funds_3hop: the dashboard's deep-trace envelope — 3 hops
      over the event-derived edge graph, one action per hop; each hop
      broadcasts its small frontier against a full edge scan, so the
      scans dominate and alpha ≈ 1 is the pass.
    - dedup_semantic_semdedup: the registry entry pins n_centroids=8
      for the SQL oracle, which is quadratic-in-waiting by construction
      (fixed cluster count = growing occupancy — the same trap the
      fixed LSH plane count had in r4). The SCALE path raises k with
      the corpus (k = max(8, n/512), paper-style big codebooks), so
      that's what the scaling bench measures; codebook seeding is part
      of the timed run, as in the registry entries.
    """
    from blockchair_etl_spark.llmdata.dedup import (
        bow_cosine_pairs,
        semantic_dedup_survivors,
    )
    from blockchair_etl_spark.llmdata.ivf import seed_centroids
    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.queryset import _trace_edges
    from blockchair_etl_spark.query.trace import trace_funds
    from blockchair_etl_spark.testing import zipfian_corpus

    def run_zipf(_spark, _sf_dir: str):
        # fixture built lazily on first call (untimed relative to the
        # first run's warmup) so family-filtered runs don't pay for it
        zdir = os.path.join(repo, ".bench_tmp", f"zipf_docs_{scale}x")
        if not os.path.exists(zdir):
            zipfian_corpus(spark, n_docs=10_000 * scale, vocab=50_000).write.mode(
                "overwrite"
            ).parquet(zdir)
        zdocs = spark.read.parquet(zdir)
        return bow_cosine_pairs(zdocs, threshold=0.8, max_df=20, min_shared_terms=2)

    def run_trace3(spark_, sf_dir: str):
        return trace_funds(_trace_edges(spark_, sf_dir), source=7, max_hops=3)

    def run_incr_emb_adaptive(spark_, sf_dir: str):
        # the registry entry pins the store at 4 planes for the static
        # SQL oracle; operationally the store is BUILT with a plane
        # count sized to the corpus (and re-sharded when outgrown) —
        # at fixed fan-out the bucket join is quadratic-in-waiting
        # (alpha 0.98 measured), adaptive planes keep it flat
        from blockchair_etl_spark.llmdata.dedup import (
            build_embedding_store,
            incremental_embedding_dedup,
        )
        from blockchair_etl_spark.llmdata.similarity import adaptive_n_planes

        from pyspark.sql import functions as SF

        emb = load_table(spark_, sf_dir, "embeddings")
        p = adaptive_n_planes(emb.count())
        day1 = emb.filter(SF.col("vec_id") % 2 == 0)
        day2 = emb.filter(SF.col("vec_id") % 2 == 1)
        store = build_embedding_store(day1, dim=64, n_planes=p)
        pairs, _updated = incremental_embedding_dedup(
            day2, store, dim=64, threshold=0.3, n_planes=p
        )
        return pairs

    def run_semdedup_adaptive(spark_, sf_dir: str):
        # The full 100 TB configuration (r6): k grows with the corpus
        # (flat ~256-row occupancy) AND the whole operator runs
        # vectorized — numpy-pruned assignment over Arrow batches plus
        # per-cluster BLAS gram matrices via applyInPandas, the shape
        # the SemDeDup paper itself computes. The r5 form (exact-decimal
        # Column assignment + pair join) measured 27.6 s at 10x; the
        # cost was interpreted per-element expression eval and the
        # materialization of millions of (va, vb) join rows, not the
        # arithmetic. This form: 0.55 s at 10x, alpha ~= 0.1, with a
        # survivor set IDENTICAL to the exact form on the driver corpus
        # (tests/test_llmdata.py::test_semdedup_grouped_matches_exact).
        # The exact-decimal form stays the driver-oracle twin at sf0.01.
        from blockchair_etl_spark.llmdata.dedup import (
            semantic_dedup_survivors_grouped,
        )

        emb = load_table(spark_, sf_dir, "embeddings")
        k = max(8, emb.count() // 256)
        cents = seed_centroids(emb, n_centroids=k)
        return semantic_dedup_survivors_grouped(emb, cents, threshold=0.3, dim=64)

    _store_cache: dict[str, tuple] = {}

    def run_incr_emb_big_store(spark_, sf_dir: str):
        # The realistic incremental shape (r5 verdict #7): a persisted
        # store ~10x the daily batch. Day's batch = the vec_id % 11 == 0
        # slice (~9%); store = everything else, pre-built and PERSISTED
        # on first invocation (run 1 pays it; the reported median of 3
        # excludes it — the store is yesterday's on-disk index, not part
        # of the daily cost). The timed cost is batch hashing + one
        # bucket join probing the narrow store — it must stay ~flat per
        # batch as the store grows (probe, not rescan).
        from blockchair_etl_spark.llmdata.dedup import (
            build_embedding_store,
            incremental_embedding_dedup,
        )
        from blockchair_etl_spark.llmdata.similarity import adaptive_n_planes

        from pyspark.sql import functions as SF

        if sf_dir not in _store_cache:
            emb = load_table(spark_, sf_dir, "embeddings")
            p = adaptive_n_planes(emb.count())
            batch = emb.filter(SF.col("vec_id") % 11 == 0)
            store = build_embedding_store(
                emb.filter(SF.col("vec_id") % 11 != 0), dim=64, n_planes=p
            ).persist()
            store.count()
            _store_cache[sf_dir] = (batch, store, p)
        batch, store, p = _store_cache[sf_dir]
        pairs, _updated = incremental_embedding_dedup(
            batch, store, dim=64, threshold=0.3, n_planes=p
        )
        return pairs

    _mh_store_cache: dict[str, tuple] = {}

    def run_incr_mh_big_store(spark_, sf_dir: str):
        # MinHash twin of run_incr_emb_big_store: persisted band store
        # ~10x the daily batch, store build untimed (run 1 pays it, the
        # median excludes it); the timed cost is the new batch's
        # shingle+hash work plus one band-bucket join probing the store.
        from blockchair_etl_spark.llmdata.dedup import (
            incremental_minhash_dedup,
            minhash_band_store,
        )

        from pyspark.sql import functions as SF

        if sf_dir not in _mh_store_cache:
            docs = load_table(spark_, sf_dir, "documents")
            batch = docs.filter(SF.col("doc_id") % 11 == 0)
            store = minhash_band_store(
                docs.filter(SF.col("doc_id") % 11 != 0)
            ).persist()
            store.count()
            _mh_store_cache[sf_dir] = (batch, store)
        batch, store = _mh_store_cache[sf_dir]
        pairs, _updated = incremental_minhash_dedup(batch, store, threshold=0.5)
        return pairs

    def run_cluster_balanced_adaptive(spark_, sf_dir: str):
        # r6 verdict #3: the registry entry pins n_planes=4 for the SQL
        # oracle; the operational DEFAULT now derives the plane count
        # from the corpus size (adaptive_n_planes), so per-bucket
        # occupancy — and the row_number partition behind the cap —
        # stays bounded as the corpus grows. This family measures that
        # default: 10× rows → +~3-4 planes → ~flat occupancy.
        from blockchair_etl_spark.llmdata.sampling import cluster_balanced_sample

        emb = load_table(spark_, sf_dir, "embeddings")
        return cluster_balanced_sample(emb, per_bucket=20, dim=64)

    _media_fp_store: dict[str, tuple] = {}

    def run_incr_media_big_store(spark_, sf_dir: str):
        # Media twin of run_incr_mh_big_store: persisted byte-gram
        # SimHash fingerprint index ~10x the daily batch, store build
        # untimed (run 1 pays it, the median excludes it); the timed
        # cost is the batch's gram explode + the broadcast pigeonhole
        # probe of the store — per-batch cost must stay ~flat as the
        # index grows (probe, not rescan).
        from blockchair_etl_spark.llmdata.dedup import (
            incremental_media_dedup,
            media_byte_fingerprints,
        )

        from pyspark.sql import functions as SF

        if sf_dir not in _media_fp_store:
            docs = load_table(spark_, sf_dir, "documents")
            media = docs.select(
                SF.col("doc_id").alias("media_id"),
                SF.col("text").cast("binary").alias("content"),
            )
            batch = media.filter(SF.col("media_id") % 11 == 0)
            store = media_byte_fingerprints(
                media.filter(SF.col("media_id") % 11 != 0)
            ).persist()
            store.count()
            _media_fp_store[sf_dir] = (batch, store)
        batch, store = _media_fp_store[sf_dir]
        pairs, _updated = incremental_media_dedup(batch, store)
        return pairs

    _mh_sig_store: dict[str, str] = {}

    def run_minhash_store_backed(spark_, sf_dir: str):
        # r6 verdict #8: the five MinHash bench entries rebuild
        # signatures from text every run — correct for standalone cold
        # benches, but at production scale signatures are written once
        # (minhash_band_store → parquet) and every dedup query READS
        # them. Store build is untimed (it is yesterday's index); the
        # timed cost is band explode + bucket self-join + signature
        # rescore off the parquet columns. Compare with
        # dedup_minhash_lsh (the cold twin) in the same artifact.
        from blockchair_etl_spark.llmdata.dedup import (
            minhash_band_store,
            minhash_pairs_from_store,
        )

        if sf_dir not in _mh_sig_store:
            path = os.path.join(repo, ".bench_tmp", f"mh_sig_store_{scale}x")
            docs = load_table(spark_, sf_dir, "documents")
            minhash_band_store(docs).write.mode("overwrite").parquet(path)
            _mh_sig_store[sf_dir] = path
        store = spark_.read.parquet(_mh_sig_store[sf_dir])
        return minhash_pairs_from_store(store, threshold=0.5)

    _wn_fp_store: dict[str, str] = {}

    def run_winnowing_store_backed(spark_, sf_dir: str):
        # MOSS twin of run_minhash_store_backed (r15 verdict stretch
        # #7): fingerprint rows written once per scale (untimed — the
        # persisted winnowing index); the timed cost is the df-bounded
        # shared-fp self-join + exact re-count off the parquet columns.
        # Compare with dedup_winnowing_pairs (the cold twin that
        # re-normalizes + re-selects the corpus every run).
        from blockchair_etl_spark.llmdata.text import (
            winnowing_fingerprints,
            winnowing_pairs_from_store,
        )

        if sf_dir not in _wn_fp_store:
            path = os.path.join(repo, ".bench_tmp", f"winnow_fp_store_{scale}x")
            docs = load_table(spark_, sf_dir, "documents")
            winnowing_fingerprints(docs).select("doc", "fp").distinct().write.mode(
                "overwrite"
            ).parquet(path)
            _wn_fp_store[sf_dir] = path
        store = spark_.read.parquet(_wn_fp_store[sf_dir])
        return winnowing_pairs_from_store(
            store, min_shared=2, threshold=0.2, max_df=50
        )

    _wn_incr_cache: dict[str, tuple] = {}

    def run_incr_winnowing_big_store(spark_, sf_dir: str):
        # Winnowing twin of run_incr_mh_big_store: persisted fingerprint
        # index ~10x the daily batch, store build untimed (run 1 pays
        # it, the median excludes it); the timed cost is the batch's
        # normalization + k-gram hashing + window selection plus one
        # broadcast fp-keyed probe of the store — per-batch cost must
        # stay ~flat as the index grows (probe, not rescan; Jaccard
        # denominators ride the stored n_fp column, so the store is
        # never aggregated per-doc either).
        from blockchair_etl_spark.llmdata.text import (
            incremental_winnowing_dedup,
            winnowing_fingerprint_store,
        )

        from pyspark.sql import functions as SF

        if sf_dir not in _wn_incr_cache:
            docs = load_table(spark_, sf_dir, "documents")
            batch = docs.filter(SF.col("doc_id") % 11 == 0)
            store = winnowing_fingerprint_store(
                docs.filter(SF.col("doc_id") % 11 != 0)
            ).persist()
            store.count()
            _wn_incr_cache[sf_dir] = (batch, store)
        batch, store = _wn_incr_cache[sf_dir]
        pairs, _updated = incremental_winnowing_dedup(batch, store, max_df=50)
        return pairs

    def run_hll_grouped(spark_, sf_dir: str):
        # round-16: per-group HyperLogLog over events — the scale story
        # is one map-combined (g, bucket) max-agg whose exchange is
        # bounded at O(groups x 2^p) rows regardless of stream length
        # (copy-scaling adds occurrences, not registers: like the
        # grouped-KMV family, alpha reads the agg's scan, far below 1
        # for the sketch state itself).
        from blockchair_etl_spark.operators.approx import (
            hll_estimate_grouped,
            hll_registers_grouped,
        )

        ev = load_table(spark_, sf_dir, "events")
        return hll_estimate_grouped(
            hll_registers_grouped(ev, "event_type", "user_id", p=10),
            "event_type",
        )

    _pq_index_cache: dict[str, tuple] = {}

    def run_ivfpq_store_backed(spark_, sf_dir: str):
        # deployed-ANN query path: codebooks + encoded index built once
        # per scale (untimed); the timed run is the cluster-pruned
        # codes scan + ADC lookups. k_coarse grows with the corpus so
        # per-probe list size stays ~flat (the registry entry pins 8
        # for the SQL oracle).
        from blockchair_etl_spark.llmdata.ivf import seed_centroids
        from blockchair_etl_spark.llmdata.pq import (
            ivfpq_adc_topk_from_index,
            ivfpq_encode,
            residual_frame,
            seed_pq_codebooks,
        )

        if sf_dir not in _pq_index_cache:
            emb = load_table(spark_, sf_dir, "embeddings")
            kc = max(8, emb.count() // 640)
            cents = seed_centroids(emb, n_centroids=kc)
            res = residual_frame(emb, cents)
            books = seed_pq_codebooks(res, dim=64, m=4, ksub=16, vec_col="residual")
            path = os.path.join(repo, ".bench_tmp", f"ivfpq_index_{scale}x")
            ivfpq_encode(emb, cents, books).write.mode("overwrite").parquet(path)
            _pq_index_cache[sf_dir] = (path, cents, books)
        path, cents, books = _pq_index_cache[sf_dir]
        qv = [float(v) for v in cents[0]]
        index = spark_.read.parquet(path)
        return ivfpq_adc_topk_from_index(index, cents, books, qv, k=10, n_probe=2)

    def run_media_pixel_adaptive(spark_, sf_dir: str):
        # The 100 TB configuration of the perceptual media-dedup
        # pipeline: 8x8 grid -> 64-bit aHash (the registry entry pins
        # 8x4=32 bits for the SQL oracle, whose pigeonhole random-
        # collision rate is quadratic-in-waiting at corpus scale — see
        # multimodal.ahash_fingerprints' width note). Composition is
        # otherwise identical: decode+resize -> aHash -> pigeonhole
        # pairs (4x16-bit blocks) -> CC -> min-id survivors.
        from pyspark.sql import functions as SF

        from blockchair_etl_spark.caching import tracked_persist
        from blockchair_etl_spark.llmdata import multimodal as mm
        from blockchair_etl_spark.llmdata.clusters import connected_clusters
        from blockchair_etl_spark.llmdata.dedup import simhash_near_pairs

        docs = load_table(spark_, sf_dir, "documents")
        media = docs.select(
            SF.col("doc_id").alias("media_id"),
            SF.col("text").cast("binary").alias("content"),
            (SF.lit(4) + SF.col("doc_id") % 13).cast("long").alias("width"),
            (SF.lit(4) + SF.col("doc_id") % 11).cast("long").alias("height"),
            SF.lit("image").alias("kind"),
        )
        nonempty = media.filter(SF.length("content") > 0)
        resized = mm.resize_images(nonempty, width=8, height=8, decoder="bytegrid")
        fp = tracked_persist(mm.ahash_fingerprints(resized))
        pairs = simhash_near_pairs(fp, max_hamming=3, bits=64)
        clusters = connected_clusters(pairs)
        removed = clusters.filter(SF.col("doc") != SF.col("cluster_id")).select("doc")
        survivors = media.select("media_id").join(
            removed, media.media_id == removed.doc, "left_anti"
        )
        return survivors.join(
            fp.select(SF.col("doc").alias("media_id"), "simhash"), "media_id", "left"
        )

    def run_joint_dedup_adaptive(spark_, sf_dir: str):
        # The 100 TB configuration of the cross-modal joint-survivor
        # composition (registry: multimodal_joint_dedup_survivors, which
        # pins the 8x4=32-bit aHash for its SQL oracle): the SAME shared
        # body (queryset.joint_dedup_survivors) at the 8x8=64-bit pixel
        # width, so the measured pipeline cannot drift from the verified
        # one. Width is the pixel side's scale knob exactly as in
        # media_pixel_dedup_adaptive; the text side's banding is already
        # corpus-safe. The union edge set is what CC sees, so this
        # measures the composition's real scale shape, not either
        # modality alone.
        from blockchair_etl_spark.queryset import joint_dedup_survivors

        docs = load_table(spark_, sf_dir, "documents")
        return joint_dedup_survivors(docs, width=8, height=8).select("doc_id")

    def run_bpe_train(spark_, sf_dir: str):
        # BPE TRAINING scale shape: the corpus is scanned once into the
        # word-frequency table; each of the 8 merge rounds is one
        # pair-agg + top-1 collect + symbol rewrite on that table. 10x
        # corpus grows the DISTINCT-word table sublinearly (Heaps), so
        # alpha well under 1 is the expected signature — the loop's cost
        # is per-round scheduling plus word-table size, never corpus
        # rescans. bpe_train is a driver loop returning the merge list,
        # so the timed work happens eagerly here and the returned 1-row
        # frame only carries the artifact into the noop sink.
        from blockchair_etl_spark.llmdata.tokenizer import bpe_train

        docs = load_table(spark_, sf_dir, "documents")
        merges = bpe_train(docs, n_merges=8)
        return spark_.createDataFrame(
            [(";".join(f"{l}+{r}" for l, r in merges),)], "merges string"
        )

    def run_bpe_train_batched(spark_, sf_dir: str):
        # The MERGE-COUNT axis of BPE training (r11 verdict #3): 64
        # merges in batch_k=8 rounds — the same ~8 driver round-trips
        # as the k=1/8-merge family above but an 8x larger vocabulary,
        # so comparing the two families' times reads the per-round vs
        # per-merge cost split directly (rounds dominate: the pair-agg
        # and rewrite work is word-table-sized either way), and this
        # family's own 1x->10x alpha pins the corpus-scaling of a
        # production-shaped batched train.
        from blockchair_etl_spark.llmdata.tokenizer import bpe_train

        docs = load_table(spark_, sf_dir, "documents")
        merges = bpe_train(docs, n_merges=64, batch_k=8)
        return spark_.createDataFrame(
            [(";".join(f"{l}+{r}" for l, r in merges),)], "merges string"
        )

    def run_unigram_train(spark_, sf_dir: str):
        # Unigram-LM TRAINING scale shape (the SentencePiece family,
        # r13): one corpus scan into the word table, then per EM round
        # one Arrow-batched forward-backward over DISTINCT words + one
        # exact decimal hash-agg + an O(vocab) driver collect — the same
        # never-rescan-the-corpus contract as bpe_train, so the expected
        # signature is the same Heaps-flat alpha.
        from blockchair_etl_spark.llmdata.unigram import unigram_train

        docs = load_table(spark_, sf_dir, "documents")
        pieces = unigram_train(
            docs, vocab_size=48, max_piece_len=3, em_iters=2, seed_size=2000
        )
        return spark_.createDataFrame(
            [(";".join(p for p, _ in pieces),)], "pieces string"
        )

    def run_unigram_apply(spark_, sf_dir: str):
        # Unigram APPLY under a FROZEN artifact (the deployment shape):
        # the vocabulary is trained once on the BASE corpus and reused
        # at every scale, so alpha reads pure corpus growth — distinct-
        # word Viterbi + join-back, the bpe_apply scale story.
        # module-level memo: trained once per PROCESS (the function-
        # attribute form re-trained per time_queries call). The one
        # training lands in the first timed sample of the first scale,
        # which median-of-3 discards — the same lazy-build convention
        # as the *_store_backed runners below.
        from blockchair_etl_spark.llmdata.unigram import unigram_apply, unigram_train

        if not _UNIGRAM_PIECES:
            base = load_table(spark_, "/root/testdata/sf0.1", "documents")
            _UNIGRAM_PIECES.extend(
                unigram_train(
                    base, vocab_size=48, max_piece_len=3, em_iters=1, seed_size=2000
                )
            )
        docs = load_table(spark_, sf_dir, "documents")
        return unigram_apply(docs, list(_UNIGRAM_PIECES)).select(
            "doc_id", "n_tokens"
        )

    return {
        "dedup_bow_cosine_zipf": run_zipf,
        "tokenizer_unigram_train": run_unigram_train,
        "tokenizer_unigram_apply": run_unigram_apply,
        "media_pixel_dedup_adaptive": run_media_pixel_adaptive,
        "multimodal_joint_dedup_adaptive": run_joint_dedup_adaptive,
        "tokenizer_bpe_train": run_bpe_train,
        "tokenizer_bpe_train_batched": run_bpe_train_batched,
        "trace_funds_3hop": run_trace3,
        "dedup_semantic_semdedup": run_semdedup_adaptive,
        "dedup_incremental_embedding": run_incr_emb_adaptive,
        "dedup_incremental_bigstore": run_incr_emb_big_store,
        "dedup_incremental_mh_bigstore": run_incr_mh_big_store,
        "dedup_incremental_media_bigstore": run_incr_media_big_store,
        "sample_cluster_balanced_adaptive": run_cluster_balanced_adaptive,
        "dedup_minhash_store_backed": run_minhash_store_backed,
        "ann_ivfpq_store_backed": run_ivfpq_store_backed,
        "dedup_winnowing_store_backed": run_winnowing_store_backed,
        "dedup_incremental_winnowing_bigstore": run_incr_winnowing_big_store,
        "sketch_hll_grouped": run_hll_grouped,
    }


def time_queries(
    spark, sf_dir: str, runs: int, repo: str, scale: int, only: set[str] | None = None
) -> dict[str, float]:
    from blockchair_etl_spark.queryset import QUERIES

    from blockchair_etl_spark.caching import release_tracked

    runners = {name: QUERIES[name].fn for name in FAMILY}
    runners.update(_custom_runners(spark, repo, scale))
    if only:
        runners = {n: f for n, f in runners.items() if n in only}
    timings = {}
    for name, fn in runners.items():
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
            release_tracked()  # same contract as bench.py: no carryover
        timings[name] = round(statistics.median(samples), 3)
    return timings


def main() -> None:
    global COPIES
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # Spot-check knobs (r5/r6 stretch): SPARK_GRAFT_SCALE_COPIES=100
    # with SPARK_GRAFT_SCALE_FAMILIES=a,b,c runs a deeper-decade check
    # for a subset and writes BENCH_SCALING_{N}x.json, leaving the
    # default 10x artifact alone.
    COPIES = int(os.environ.get("SPARK_GRAFT_SCALE_COPIES", str(COPIES)))
    fam_env = os.environ.get("SPARK_GRAFT_SCALE_FAMILIES")
    only = set(fam_env.split(",")) if fam_env else None
    repo = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, repo)

    from blockchair_etl_spark.session import get_session

    spark = get_session(app_name="bench-scaling", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    dst = os.path.join(repo, ".bench_tmp", f"sf{COPIES}x")
    shutil.rmtree(dst, ignore_errors=True)
    synthesize(spark, src, dst)

    t1 = time_queries(spark, src, runs, repo, scale=1, only=only)
    t10 = time_queries(spark, dst, runs, repo, scale=COPIES, only=only)
    names = sorted(t1)
    alphas = {
        n: round(math.log(max(t10[n], 1e-3) / max(t1[n], 1e-3)) / math.log(COPIES), 2)
        for n in names
    }

    def _superlinear(n: str) -> bool:
        # alpha is wall-clock-derived on a box with fixed parallelism;
        # sub-second base times are scheduling-noise-dominated, so gate
        # only entries slow enough to measure. Pair-generating queries
        # get the tight gate: alpha barely above 1 — or a wall-clock
        # ratio already past 15× at 10× data — is quadratic-in-waiting.
        if n in PAIR_QUERIES:
            ratio = t10[n] / max(t1[n], 1e-3)
            # ratio gate scales with the copy count (1.5x headroom over
            # perfectly linear), so a 100x spot check doesn't flag a
            # linear family for having a 100x wall-clock ratio
            return t1[n] >= 0.2 and (alphas[n] > 1.05 or ratio > 1.5 * COPIES)
        return t1[n] >= 0.5 and alphas[n] > 1.25

    result = {
        "metric": "family_scaling_exponent",
        "copies": COPIES,
        "base_sf_dir": src,
        "t_base": t1,
        "t_10x": t10,
        "alpha": alphas,
        "superlinear": sorted(n for n in names if _superlinear(n)),
        "n": runs,
    }
    line = json.dumps(result)
    print(line)
    # a FILTERED run (SPARK_GRAFT_SCALE_FAMILIES) writes a *_partial
    # artifact: its subset result must never clobber the cumulative
    # multi-family record, which is extended by hand-merging partials
    # (r13 review — the ngram 100x rows had to be rescued from a
    # backup after exactly that overwrite)
    if only:
        out_name = f"BENCH_SCALING_{COPIES}x_partial.json"
    elif COPIES == 10:
        out_name = "BENCH_SCALING.json"
    else:
        out_name = f"BENCH_SCALING_{COPIES}x.json"
    with open(os.path.join(repo, out_name), "w") as f:
        f.write(line + "\n")
    shutil.rmtree(dst, ignore_errors=True)
    for scale in (1, COPIES):
        shutil.rmtree(
            os.path.join(repo, ".bench_tmp", f"zipf_docs_{scale}x"),
            ignore_errors=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
