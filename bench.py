#!/usr/bin/env python3
"""Headline-query benchmark, and the timing loop bench_scaling.py shares.

Times the engine's headline entries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints the
per-entry timings. ``python bench.py --compare OLD.json NEW.json``
compares two records instead (see compare_records).

Methodology, and why:

- Every entry is a runner ``prepare(spark, sf_dir, scale) -> thunk``.
  ``prepare`` does the untimed work (a fixture, a store or index build,
  training); only the thunk and the write of its frame into the no-op
  sink are timed. Registry entries have no untimed part. The no-op sink
  runs the whole distributed plan without a driver collect, so the time
  is scan, shuffle and aggregate work, not result serialization.
- Per-entry time is the median of $SPARK_GRAFT_BENCH_RUNS (default 3)
  runs: run 1 absorbs codegen and parquet-footer warm-up, and
  run-to-run spread on a shared box is about 15 %, so one sample cannot
  support a comparison between records.
- Plan-level persists are released after every run
  (caching.release_tracked), and each entry's untimed stores after its
  last run, so every run measures the cold plan and nothing cached
  leaks into later entries.
- Three canaries bracket the sweep: CPU speed, per-job scheduling
  overhead and memory bandwidth. They read no data, so they move only
  with the state of the box; compare_records divides it out.
- A sweep's stdout consumer keeps only a 2,000-byte tail, and 100
  names with their values need about 3.4 KB. So stdout carries short
  ``headline_queries_chunk`` lines, then every value as one
  ``headline_queries_values`` array in chunk-key order, then the
  ``headline_total_wall`` summary last: truncation can cost only whole
  early chunks. The complete record goes to ``BENCH_DETAIL_c{cpus}.json``,
  named for its core count so a run on one core count cannot overwrite
  another's. The committed ``BENCH_DETAIL.json`` predates that naming:
  it carries no ``cpus``, so the configuration it was taken on cannot
  be named.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import sys
import time
from functools import partial

from pyspark.sql import functions as F

from blockchair_etl_spark.caching import release_tracked, tracked_persist
from blockchair_etl_spark.io.sources import load_table
from blockchair_etl_spark.llmdata import multimodal as mm
from blockchair_etl_spark.llmdata.clusters import connected_clusters
from blockchair_etl_spark.llmdata.dedup import (
    bow_cosine_pairs,
    build_embedding_store,
    incremental_embedding_dedup,
    incremental_media_dedup,
    incremental_minhash_dedup,
    media_byte_fingerprints,
    minhash_band_store,
    minhash_pairs_from_store,
    semantic_dedup_survivors_grouped,
    simhash_near_pairs,
)
from blockchair_etl_spark.llmdata.ivf import seed_centroids
from blockchair_etl_spark.llmdata.pq import (
    ivfpq_adc_topk_from_index,
    ivfpq_encode,
    residual_frame,
    seed_pq_codebooks,
)
from blockchair_etl_spark.llmdata.sampling import cluster_balanced_sample
from blockchair_etl_spark.llmdata.similarity import adaptive_n_planes
from blockchair_etl_spark.llmdata.text import (
    incremental_winnowing_dedup,
    winnowing_fingerprint_store,
    winnowing_fingerprints,
    winnowing_pairs_from_store,
)
from blockchair_etl_spark.llmdata.tokenizer import bpe_train
from blockchair_etl_spark.llmdata.unigram import unigram_apply, unigram_train
from blockchair_etl_spark.operators.approx import hll_estimate_grouped, hll_registers_grouped
from blockchair_etl_spark.query.trace import trace_funds
from blockchair_etl_spark.queryset import QUERIES, _trace_edges, joint_dedup_survivors
from blockchair_etl_spark.session import get_session
from blockchair_etl_spark.testing import zipfian_corpus

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
# untimed fixtures and stores; emptied after every entry
WORK = os.path.join(REPO, ".bench_tmp", "work")

# Registry entries, timed in this order. The list is kept complete
# rather than capped: the per-query series of the bench records is the
# only record that shows a regression in one entry. Left out on
# purpose: dedup_bow_cosine, whose exact pair form is quadratic on the
# test corpus's 31-term vocabulary (dedup_bow_cosine_zipf times the
# df-bounded form instead), and the *_recall entries, which carry
# brute-force ground truth by design.
HEADLINE = [
    "q1_pricing_summary",
    "p1_stg_projection",
    "j1_enrich_lines",
    "j2_flow_fanout",
    "j3_zero_activity_dims",
    "j4_region_rollup",
    "w1_running_balance",
    "w2_trace_sequence",
    "tumbling_hourly_events",
    "o2_page_events",
    "j5_trace_2hop",
    "q3_shipping_priority",
    "q5_region_supplier_revenue",
    "sessionize_events",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_connected_clusters",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "dedup_embedding_lsh_blocked",
    "sample_hash_split",
    "pack_sequences",
    "text_quality",
    "text_tfidf_topk",
    "rolling_active_users",
    "graph_triangle_count",
    "q9_profit_by_nation_year",
    "q21_sole_late_supplier",
    "q18_large_orders",
    "dedup_corpus_survivors",
    "winsorize_values",
    "text_chunking",
    "text_line_dedup",
    "sketch_cms_heavy_hitters",
    "sketch_histogram_quantiles",
    "graph_pagerank",
    "bloom_pruned_join_revenue",
    "hopping_window_events",
    "corpus_prep_pipeline",
    "centroid_by_bucket",
    "dedup_embedding_multiprobe",
    "dedup_incremental_minhash",
    "embedding_quantize_int8",
    "text_bigram_fluency",
    "ann_knn_join",
    "pack_split_straddlers",
    "corpus_shuffle_shards",
    "mixture_domain_resample",
    "text_normalize",
    "dedup_semantic_semdedup",
    "ann_pq_topk",
    "dedup_repeated_ngram_spans",
    "quality_gopher_gate",
    "dedup_best_quality_survivors",
    "dedup_incremental_embedding",
    "ann_ivfpq_topk",
    "graph_personalized_pagerank",
    "corpus_prep_v2_pipeline",
    "trace_recursive_cte",
    "corpus_token_budget",
    "sample_cluster_balanced",
    "sample_dsir_scores",
    "sample_leakage_safe_split",
    "dedup_semdedup_vectorized",
    "corpus_prep_v3_pipeline",
    "quality_classifier_scores",
    "media_simhash_fingerprints",
    "corpus_embedding_curation_pipeline",
    "text_repetition",
    "dedup_simhash_pairs",
    "media_dedup_survivors",
    "corpus_prep_v4_pipeline",
    "dedup_span_removal",
    "media_pixel_dedup_survivors",
    "multimodal_joint_dedup_survivors",
    "tokenizer_bpe_apply",
    "corpus_prep_v5_pipeline",
    "ann_ivfpq_incremental",
    "tokenizer_unigram_seed",
    "dedup_incremental_clusters",
    "sample_kcenter_coreset",
    "quality_unigram_ppl_gate",
    "corpus_prep_v6_pipeline",
    "sketch_kmv_grouped",
    "dedup_minhash_lsh_capped",
    "multimodal_crossmodal_knn",
    "sketch_cms_grouped_topk",
    "text_winnowing_fingerprints",
    "dedup_winnowing_pairs",
    "dedup_simhash_pairs_capped",
    "sketch_hll_distinct",
    "sketch_cms_grouped_served",
    "sketch_kmv_intersection",
    "sketch_kmv_difference",
    "sketch_kmv_grouped_algebra",
]

# Extra runners timed after HEADLINE; EXTRAS below defines them.
HEADLINE_EXTRAS = [
    "dedup_bow_cosine_zipf",
    "dedup_minhash_store_backed",
    "dedup_winnowing_store_backed",
    "ann_ivfpq_store_backed",
]


def _whole(fn):
    """Runner of an entry with no untimed part: the thunk is the call."""
    return lambda spark, sf_dir, scale: lambda: fn(spark, sf_dir)


def _work(name: str) -> str:
    return os.path.join(WORK, name)


def _bow_cosine_zipf(spark, sf_dir, scale):
    """df-bounded BoW cosine over a Zipf-vocabulary fixture of
    10,000 x scale documents. The test corpus's 31-term vocabulary
    makes every term near-universal, so the df bound has nothing to
    prune there."""
    zipfian_corpus(spark, n_docs=10_000 * scale, vocab=50_000).write.mode(
        "overwrite"
    ).parquet(_work("zipf_docs"))
    docs = spark.read.parquet(_work("zipf_docs"))
    return lambda: bow_cosine_pairs(docs, threshold=0.8, max_df=20, min_shared_terms=2)


def _trace_3hop(spark, sf_dir):
    """The dashboard's deep trace: 3 hops over the event-derived edge
    graph, one action per hop. Each hop broadcasts its small frontier
    against a full edge scan, so alpha near 1 is the pass."""
    return trace_funds(_trace_edges(spark, sf_dir), source=7, max_hops=3)


def _incr_emb_adaptive(spark, sf_dir):
    """Incremental embedding dedup with the plane count sized to the
    corpus, as the store is built in operation. The registry entry pins
    4 planes for its SQL oracle; at a fixed fan-out the bucket join is
    quadratic-in-waiting."""
    emb = load_table(spark, sf_dir, "embeddings")
    p = adaptive_n_planes(emb.count())
    store = build_embedding_store(emb.filter(F.col("vec_id") % 2 == 0), dim=64, n_planes=p)
    day2 = emb.filter(F.col("vec_id") % 2 == 1)
    return incremental_embedding_dedup(day2, store, dim=64, threshold=0.3, n_planes=p)[0]


def _semdedup_adaptive(spark, sf_dir):
    """SemDeDup at scale: k grows with the corpus (about 256 rows per
    cluster) and assignment plus per-cluster gram pairs run vectorized.
    The registry entry pins 8 centroids for its SQL oracle, and a fixed
    cluster count means a growing occupancy. Codebook seeding is timed,
    as in the registry entries."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb, n_centroids=max(8, emb.count() // 256))
    return semantic_dedup_survivors_grouped(emb, cents, threshold=0.3, dim=64)


def _big_store(rows, key: str, build):
    """The daily incremental shape: the batch is the rows with
    ``key % 11 == 0`` and ``build`` makes a persisted store of the rest,
    about 10x the batch. The store is yesterday's index, so building it
    is untimed; the timed probe must stay about flat per batch as the
    store grows."""
    store = build(rows.filter(F.col(key) % 11 != 0)).persist()
    store.count()
    return rows.filter(F.col(key) % 11 == 0), store


def _incr_emb_big_store(spark, sf_dir, scale):
    emb = load_table(spark, sf_dir, "embeddings")
    p = adaptive_n_planes(emb.count())
    batch, store = _big_store(
        emb, "vec_id", lambda df: build_embedding_store(df, dim=64, n_planes=p)
    )
    return lambda: incremental_embedding_dedup(batch, store, dim=64, threshold=0.3, n_planes=p)[0]


def _incr_mh_big_store(spark, sf_dir, scale):
    docs = load_table(spark, sf_dir, "documents")
    batch, store = _big_store(docs, "doc_id", minhash_band_store)
    return lambda: incremental_minhash_dedup(batch, store, threshold=0.5)[0]


def _incr_media_big_store(spark, sf_dir, scale):
    media = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), F.col("text").cast("binary").alias("content")
    )
    batch, store = _big_store(media, "media_id", media_byte_fingerprints)
    return lambda: incremental_media_dedup(batch, store)[0]


def _incr_winnowing_big_store(spark, sf_dir, scale):
    docs = load_table(spark, sf_dir, "documents")
    batch, store = _big_store(docs, "doc_id", winnowing_fingerprint_store)
    return lambda: incremental_winnowing_dedup(batch, store, max_df=50)[0]


def _cluster_balanced_adaptive(spark, sf_dir):
    """Cluster-balanced sampling with its default plane count, derived
    from the corpus size, so per-bucket occupancy stays bounded (the
    registry entry pins 4 planes for its SQL oracle)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cluster_balanced_sample(emb, per_bucket=20, dim=64)


def _minhash_store_backed(spark, sf_dir, scale):
    """MinHash pairs read from a signature store written once (untimed:
    the persisted corpus index). dedup_minhash_lsh is the cold twin that
    re-shingles and re-hashes every run; the gap is what signature reuse
    buys."""
    minhash_band_store(load_table(spark, sf_dir, "documents")).write.mode(
        "overwrite"
    ).parquet(_work("mh_sig_store"))
    store = spark.read.parquet(_work("mh_sig_store"))
    return lambda: minhash_pairs_from_store(store, threshold=0.5)


def _winnowing_store_backed(spark, sf_dir, scale):
    """Winnowing pairs read from a fingerprint store written once
    (untimed: the persisted MOSS index). dedup_winnowing_pairs is the
    cold twin."""
    docs = load_table(spark, sf_dir, "documents")
    winnowing_fingerprints(docs).select("doc", "fp").distinct().write.mode(
        "overwrite"
    ).parquet(_work("winnow_fp_store"))
    store = spark.read.parquet(_work("winnow_fp_store"))
    return lambda: winnowing_pairs_from_store(store, min_shared=2, threshold=0.2, max_df=50)


def _ivfpq_store_backed(spark, sf_dir, scale):
    """The deployed ANN query path: centroids, codebooks and the encoded
    index are built once (untimed); the timed run is the cluster-pruned
    codes scan plus ADC lookups. The coarse centroid count grows with
    the corpus so each probed list stays about the same size (the
    registry's ann_ivfpq_topk pins 8 and builds the index in-query)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb, n_centroids=max(8, emb.count() // 640))
    books = seed_pq_codebooks(
        residual_frame(emb, cents), dim=64, m=4, ksub=16, vec_col="residual"
    )
    ivfpq_encode(emb, cents, books).write.mode("overwrite").parquet(_work("ivfpq_index"))
    index = spark.read.parquet(_work("ivfpq_index"))
    qv = [float(v) for v in cents[0]]
    return lambda: ivfpq_adc_topk_from_index(index, cents, books, qv, k=10, n_probe=2)


def _hll_grouped(spark, sf_dir):
    """Per-group HyperLogLog over events: one map-combined (g, bucket)
    max-agg whose exchange is bounded by groups x 2^p rows, whatever the
    stream length."""
    ev = load_table(spark, sf_dir, "events")
    registers = hll_registers_grouped(ev, "event_type", "user_id", p=10)
    return hll_estimate_grouped(registers, "event_type")


def _media_pixel_adaptive(spark, sf_dir):
    """Perceptual media dedup at 64-bit aHash (8x8 grid): decode and
    resize, aHash, pigeonhole pairs, connected components, min-id
    survivors. The registry entry pins 32 bits for its SQL oracle, whose
    random pigeonhole collisions grow quadratically with the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("content"),
        (F.lit(4) + F.col("doc_id") % 13).cast("long").alias("width"),
        (F.lit(4) + F.col("doc_id") % 11).cast("long").alias("height"),
        F.lit("image").alias("kind"),
    )
    nonempty = media.filter(F.length("content") > 0)
    resized = mm.resize_images(nonempty, width=8, height=8, decoder="bytegrid")
    fp = tracked_persist(mm.ahash_fingerprints(resized))
    clusters = connected_clusters(simhash_near_pairs(fp, max_hamming=3, bits=64))
    removed = clusters.filter(F.col("doc") != F.col("cluster_id")).select("doc")
    survivors = media.select("media_id").join(removed, media.media_id == removed.doc, "left_anti")
    return survivors.join(fp.select(F.col("doc").alias("media_id"), "simhash"), "media_id", "left")


def _joint_dedup_adaptive(spark, sf_dir):
    """Cross-modal joint dedup with the shared body of
    multimodal_joint_dedup_survivors at the 64-bit pixel width, so the
    measured pipeline cannot drift from the verified one."""
    docs = load_table(spark, sf_dir, "documents")
    return joint_dedup_survivors(docs, width=8, height=8).select("doc_id")


def _one_row(spark, column: str, values):
    """A trained artifact as a 1-row frame for the no-op sink."""
    return spark.createDataFrame([(";".join(values),)], f"{column} string")


def _bpe_train(spark, sf_dir, **kw):
    """BPE training: one corpus scan into the word table, then one
    pair-agg, top-k collect and rewrite per round over the distinct
    words, so alpha well under 1 is expected. The training loop runs
    eagerly inside the timed call."""
    merges = bpe_train(load_table(spark, sf_dir, "documents"), **kw)
    return _one_row(spark, "merges", (f"{a}+{b}" for a, b in merges))


def _unigram_train(spark, sf_dir):
    """Unigram-LM training: one corpus scan into the word table, then
    per EM round one forward-backward over distinct words; the same
    never-rescan-the-corpus shape as BPE training."""
    docs = load_table(spark, sf_dir, "documents")
    pieces = unigram_train(docs, vocab_size=48, max_piece_len=3, em_iters=2, seed_size=2000)
    return _one_row(spark, "pieces", (p for p, _ in pieces))


def _unigram_apply(spark, sf_dir, scale):
    """Unigram apply under a frozen vocabulary, trained (untimed) on the
    run's base corpus $SPARK_GRAFT_SF_DIR and reused at every scale, so
    alpha reads corpus growth alone."""
    pieces = unigram_train(
        load_table(spark, SF_DIR, "documents"),
        vocab_size=48, max_piece_len=3, em_iters=1, seed_size=2000,
    )
    return lambda: unigram_apply(load_table(spark, sf_dir, "documents"), pieces).select(
        "doc_id", "n_tokens"
    )


# Entries that are not registry queries, as runners. Those wrapped in
# _whole are timed in full; the others build something untimed first.
# dedup_semantic_semdedup and dedup_incremental_embedding here are the
# scaling forms of the registry entries of the same name.
EXTRAS = {
    "dedup_bow_cosine_zipf": _bow_cosine_zipf,
    "tokenizer_unigram_train": _whole(_unigram_train),
    "tokenizer_unigram_apply": _unigram_apply,
    "media_pixel_dedup_adaptive": _whole(_media_pixel_adaptive),
    "multimodal_joint_dedup_adaptive": _whole(_joint_dedup_adaptive),
    "tokenizer_bpe_train": _whole(partial(_bpe_train, n_merges=8)),
    # the merge-count axis: 8x the vocabulary in the same ~8 rounds
    "tokenizer_bpe_train_batched": _whole(partial(_bpe_train, n_merges=64, batch_k=8)),
    "trace_funds_3hop": _whole(_trace_3hop),
    "dedup_semantic_semdedup": _whole(_semdedup_adaptive),
    "dedup_incremental_embedding": _whole(_incr_emb_adaptive),
    "dedup_incremental_bigstore": _incr_emb_big_store,
    "dedup_incremental_mh_bigstore": _incr_mh_big_store,
    "dedup_incremental_media_bigstore": _incr_media_big_store,
    "sample_cluster_balanced_adaptive": _whole(_cluster_balanced_adaptive),
    "dedup_minhash_store_backed": _minhash_store_backed,
    "ann_ivfpq_store_backed": _ivfpq_store_backed,
    "dedup_winnowing_store_backed": _winnowing_store_backed,
    "dedup_incremental_winnowing_bigstore": _incr_winnowing_big_store,
    "sketch_hll_grouped": _whole(_hll_grouped),
}


def runners(registry: list[str], extras: list[str]) -> dict:
    """Name -> runner, registry entries first, both in list order."""
    return {
        **{name: _whole(QUERIES[name].fn) for name in registry},
        **{name: EXTRAS[name] for name in extras},
    }


def time_entries(spark, sf_dir: str, entries: dict, runs: int, scale: int) -> dict[str, float]:
    """Median wall seconds of ``runs`` timed thunk runs per entry."""
    timings = {}
    for name, prepare in entries.items():
        run = prepare(spark, sf_dir, scale)
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            run().write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
            release_tracked()
        timings[name] = round(statistics.median(samples), 3)
        spark.catalog.clearCache()
        shutil.rmtree(WORK, ignore_errors=True)
    return timings


def start_session(app_name: str):
    spark = get_session(app_name=app_name, master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    # JVM, codegen and parquet-reader warm-up on trivial plans, so the
    # first timed entry does not pay session start-up
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    return spark


def canary(spark, runs: int = 3) -> float:
    """CPU canary: median wall time of a fixed, data-independent,
    CPU-bound workload, sum(xxhash64(id)) over spark.range(4B): one
    shuffle-free whole-stage-codegen scan over every local core. It
    reads no files and allocates no caches, so it moves only with the
    state of the box."""
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        spark.range(4_000_000_000).selectExpr("sum(xxhash64(id)) as h").collect()
        samples.append(time.perf_counter() - t0)
    return round(statistics.median(samples), 3)


def sched_canary(spark, jobs: int = 20, runs: int = 3) -> float:
    """Scheduler canary: median wall time of ``jobs`` sequential trivial
    actions (one task each, no data work), i.e. per-job scheduling
    overhead. The CPU canary reads core speed only; a move in a
    multi-job entry that tracks this canary while the CPU canary is flat
    is scheduler contention, still box state."""
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        for _ in range(jobs):
            spark.range(1).count()
        samples.append(time.perf_counter() - t0)
    return round(statistics.median(samples), 3)


def mem_canary(spark, runs: int = 3) -> float:
    """Memory-bandwidth canary: an aggregate scan over a ~2.5 GB cached
    columnar relation (built once per call, dropped after). The CPU
    canary's register loop under-detects a co-tenant that saturates the
    memory bus; this block-manager read is bandwidth-bound, so bus
    contention moves it while the CPU canary stays flat. compare_records
    reports it as context, never as a normalizer."""
    df = spark.range(128_000_000).selectExpr(
        "id", "id * 2654435761 AS a", "id + 7 AS b", "CAST(id AS DOUBLE) AS d"
    )
    df.persist()
    df.count()  # materialize the cached columnar blocks
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        df.selectExpr("sum(a) AS sa", "sum(d) AS sd").collect()
        samples.append(time.perf_counter() - t0)
    df.unpersist()
    return round(statistics.median(samples), 3)


def _median(rec: dict, *keys: str) -> float | None:
    """Median of the record's readings under ``keys``; None if it has
    none. ``is not None``, not truthiness: a 0.0 reading must reach the
    callers' checks, not drop out of the median."""
    vals = [rec[k] for k in keys if rec.get(k) is not None]
    return statistics.median(vals) if vals else None


def compare_records(old_path: str, new_path: str, flag_ratio: float = 1.25) -> dict:
    """Canary-normalized comparison of two bench records.

    1. canary_ratio = median(new CPU canaries) / median(old ones): the
       change in box speed between the records.
    2. Per common entry, normalized = (new_t / old_t) / canary_ratio.
    3. The median normalized ratio is the record-over-record verdict; an
       entry is a mover only when its normalized ratio leaves
       [1/flag_ratio, flag_ratio]. Only movers earn an isolated A/B.

    When both records carry the scheduler canary, a mover that falls
    back inside the band divided by sched_ratio instead, and whose
    absolute move is within that canary's own swing, is scheduler
    contention and moves to ``sched_closed``. The memory canary ratio
    is reported as context only."""
    with open(old_path) as fh:
        old = json.load(fh)
    with open(new_path) as fh:
        new = json.load(fh)

    def _canary(rec: dict) -> float:
        med = _median(rec, "canary_pre_sec", "canary_post_sec")
        if med is None:
            raise ValueError(
                "record carries no canary — normalized comparison needs "
                "canary_pre_sec/canary_post_sec (records from r10 on)"
            )
        if med <= 0.0:
            # the workload cannot finish in 0 s: name the bogus reading
            # instead of dying in the ratio division
            raise ValueError(
                f"record carries a non-positive CPU canary median ({med}) "
                "— bogus reading; re-record the benchmark instead of "
                "normalizing against it"
            )
        return med

    canary_ratio = _canary(new) / _canary(old)
    oq, nq = old["queries"], new["queries"]
    common = sorted(k for k in oq if k in nq and oq[k] > 0)
    if not common:
        raise ValueError(
            "records share no (nonzero-timed) queries — compare two "
            "records of the same suite (e.g. two headline BENCH_DETAIL "
            "records), not a scaling/family record against a headline one"
        )
    raw = {k: nq[k] / oq[k] for k in common}
    norm = {k: raw[k] / canary_ratio for k in common}
    movers = {
        k: {"raw": round(raw[k], 3), "normalized": round(norm[k], 3),
            "old_sec": oq[k], "new_sec": nq[k]}
        for k in common
        if norm[k] > flag_ratio or norm[k] < 1.0 / flag_ratio
    }
    out = {
        "metric": "canary_normalized_comparison",
        "old": os.path.basename(old_path),
        "new": os.path.basename(new_path),
        "canary_ratio": round(canary_ratio, 3),
        "n_common": len(common),
        "raw_median_ratio": round(statistics.median(raw.values()), 3),
        "normalized_median_ratio": round(statistics.median(norm.values()), 3),
        "flag_band": [round(1.0 / flag_ratio, 3), flag_ratio],
    }
    old_mem, new_mem = (_median(r, "canary_mem_pre_sec", "canary_mem_post_sec") for r in (old, new))
    if old_mem and new_mem and old_mem > 0 and new_mem > 0:
        out["mem_ratio"] = round(new_mem / old_mem, 3)
    old_sched, new_sched = (
        _median(r, "canary_sched_pre_sec", "canary_sched_post_sec") for r in (old, new)
    )
    sched_closed = {}
    if old_sched is not None and new_sched is not None:
        # a 0.0 new-side reading is bogus data, not a missing field:
        # fail here rather than in a data-dependent spot in the loop
        if new_sched == 0:
            raise ZeroDivisionError(
                "new record's sched canary medians to 0.0 — not a usable reading"
            )
        sched_ratio = new_sched / old_sched
        out["sched_ratio"] = round(sched_ratio, 3)
        # Absolute-delta gate: the sched canary runs 20 one-task jobs,
        # the order of a multi-job entry, so its own absolute swing is
        # the most scheduler contention can plausibly add. Without the
        # gate a moved sched canary could close a real regression on a
        # long entry (a 10 s entry up 9 s against a 0.8 s swing).
        sched_abs = abs(new_sched - old_sched)
        for k in list(movers):
            s = raw[k] / sched_ratio
            movers[k]["sched_normalized"] = round(s, 3)
            if (
                1.0 / flag_ratio <= s <= flag_ratio
                and abs(nq[k] - oq[k]) <= sched_abs
            ):
                sched_closed[k] = movers.pop(k)
    out["normalized_movers"] = dict(
        sorted(movers.items(), key=lambda kv: -kv[1]["normalized"])
    )
    if sched_closed:
        out["sched_closed"] = dict(
            sorted(sched_closed.items(), key=lambda kv: -kv[1]["normalized"])
        )
    return out


def _line(record: dict) -> None:
    print(json.dumps(record, separators=(",", ":")))


def main() -> None:
    if len(sys.argv) >= 2 and sys.argv[1] == "--compare":
        if len(sys.argv) < 4:
            sys.exit("usage: bench.py --compare OLD_RECORD.json NEW_RECORD.json")
        print(json.dumps(compare_records(sys.argv[2], sys.argv[3]), indent=1))
        return
    spark = start_session("blockchair-etl-spark-bench")
    pre = canary(spark), sched_canary(spark), mem_canary(spark)
    timings = time_entries(spark, SF_DIR, runners(HEADLINE, HEADLINE_EXTRAS), RUNS, scale=1)
    post = canary(spark), sched_canary(spark), mem_canary(spark)
    canaries = {
        "canary_pre_sec": pre[0],
        "canary_post_sec": post[0],
        "canary_sched_pre_sec": pre[1],
        "canary_sched_post_sec": post[1],
        "canary_mem_pre_sec": pre[2],
        "canary_mem_post_sec": post[2],
    }
    m = re.search(r"sf([\d.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    total = round(sum(timings.values()), 3)
    record = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "n": RUNS,
        "sf": sf,
        "cpus": CPUS,
        **canaries,
    }
    with open(os.path.join(REPO, f"BENCH_DETAIL_c{CPUS}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")
    keys = list(timings)
    size = 15
    n_chunks = (len(keys) + size - 1) // size
    for i in range(n_chunks):
        chunk = {k: timings[k] for k in keys[i * size : (i + 1) * size]}
        _line({"metric": "headline_queries_chunk", "chunk": i + 1, "of": n_chunks,
               "sf": sf, "queries": chunk})
    _line({
        "metric": "headline_queries_values",
        "sf": sf,
        "order": "chunk-line key order (= BENCH_DETAIL.json queries order)",
        "values": [timings[k] for k in keys],
    })
    _line({
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        "n": RUNS,
        "sf": sf,
        "queries_in_chunk_lines": len(timings),
        "chunk_lines": n_chunks,
        **canaries,
    })
    spark.stop()


if __name__ == "__main__":
    main()
