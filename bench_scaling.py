#!/usr/bin/env python3
"""Scaling-exponent bench for the dedup/ANN/CC/stream family.

Every headline number rests on one scale point. This script synthesizes
a COPIES× corpus (documents, embeddings, events and customer unioned
with id-shifted copies; every other table is symlinked, so entries that
read those stay out of FAMILY), times each entry at 1× and COPIES× with
bench.py's loop, and reports alpha = log(t_N / t_1) / log(N) per entry.
alpha near 1 is linear; a materially super-linear entry is named in the
"superlinear" list. Output: one JSON line, also written to
BENCH_SCALING.json (10×), BENCH_SCALING_{N}x.json (another N), or
BENCH_SCALING_{N}x_partial.json (a family subset, so it never clobbers
the full record).

Run: python3 bench_scaling.py
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_RUNS as in
bench.py; SPARK_GRAFT_SCALE_COPIES (default 10) and
SPARK_GRAFT_SCALE_FAMILIES=a,b,c (time only those entries).
"""

from __future__ import annotations

import json
import math
import os
import shutil
from functools import reduce

from pyspark.sql import DataFrame, functions as F

from blockchair_etl_spark.io.sources import TESTDATA_TABLES, load_table

from bench import EXTRAS, REPO, RUNS, SF_DIR, runners, start_session, time_entries

# Registry entries timed at both scales; every bench.EXTRAS runner is
# timed too. Left out on purpose: bloom_pruned_join_revenue reads
# lineitem/supplier, which synthesize() symlinks, so its alpha would
# compare identical inputs; media_pixel_dedup_survivors pins a 32-bit
# aHash whose random pigeonhole collisions grow quadratically by
# construction (media_pixel_dedup_adaptive times the 64-bit form).
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
    "text_line_dedup",
    "sketch_cms_heavy_hitters",
    "sketch_histogram_quantiles",
    "graph_pagerank",
    "centroid_by_bucket",
    "dedup_ngram_jaccard",
    "fuzzy_name_pairs",
    "corpus_prep_pipeline",
    "dedup_embedding_multiprobe",
    "ann_knn_join",
    "dedup_repeated_ngram_spans",
    "ann_pq_topk",
    "mixture_domain_resample",
    "text_normalize",
    "ann_ivfpq_topk",
    "trace_recursive_cte",
    "corpus_token_budget",
    "sample_dsir_scores",
    "quality_classifier_scores",
    "media_simhash_fingerprints",
    "dedup_ngram_containment",
    "corpus_embedding_curation_pipeline",
    "media_dedup_survivors",
    "corpus_prep_v4_pipeline",
    "dedup_span_removal",
    "tokenizer_bpe_apply",
    "corpus_prep_v5_pipeline",
    "ann_ivfpq_incremental",
    "dedup_incremental_clusters",
    "sample_kcenter_coreset",
    "tokenizer_unigram_seed",
    "quality_unigram_ppl_gate",
    "corpus_prep_v6_pipeline",
    "sketch_kmv_grouped",
    "dedup_minhash_lsh_capped",
    "dedup_simhash_pairs_capped",
    "sketch_kmv_intersection",
    "sketch_kmv_difference",
    "sketch_kmv_grouped_algebra",
    "sketch_cms_grouped_topk",
    "text_winnowing_fingerprints",
    "dedup_winnowing_pairs",
]

# Pair-generating entries: a blocked self-join whose within-block pair
# count is the scale hazard. They get the tight superlinear gate: alpha
# just above 1 here is quadratic-in-waiting.
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


def synthesize(spark, src: str, dst: str, copies: int) -> None:
    """``copies``× documents, embeddings, events and customer as unions
    of id-shifted copies; every other table is symlinked."""
    os.makedirs(dst, exist_ok=True)

    def write(table: str, df, columns) -> None:
        n = df.count()
        parts = [df.select(*columns(i, n)) for i in range(copies)]
        out = reduce(DataFrame.unionByName, parts).coalesce(8)
        out.write.mode("overwrite").parquet(f"{dst}/{table}.parquet")

    def text(i: int):
        # Every 4th token becomes a copy-and-position tag, so a 3-token
        # shingle survives across copies only if it spans no tag (1/4
        # of shingles): cross-copy Jaccard is ~0.14, below every dedup
        # threshold, and the base corpus's real near-dups replicate
        # linearly. A single suffix tag left shingle sets ~95 % equal,
        # so each doc's copies formed a near-dup clique and the pair
        # count grew quadratically by construction.
        if i == 0:
            return F.col("text")
        return F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda tok, j: F.when(
                    j % 4 == 0, F.concat(F.lit(f"c{i}t"), j.cast("string"))
                ).otherwise(tok),
            ),
            " ",
        )

    def embedding(i: int):
        # A per-copy sign flip (diagonal ±1, an orthogonal map) keeps
        # within-copy cosine exact, so near-dup pairs replicate
        # linearly, while cross-copy cosine falls to ~0 ± 1/sqrt(dim),
        # below every dedup/ANN threshold. A small additive shift would
        # keep each copy a neighbour of its original and grow the
        # cross-copy pairs quadratically.
        if i == 0:
            return F.col("embedding")
        return F.expr(
            f"transform(embedding, (x, j) -> CASE WHEN "
            f"pmod(xxhash64('copy{i}|', j), 2) = 0 "
            f"THEN x ELSE cast(-x AS float) END)"
        )

    def shifted(col: str, i: int, n: int):
        return (F.col(col) + F.lit(i * n)).alias(col)

    write("documents", spark.read.parquet(f"{src}/documents.parquet"), lambda i, n: [
        shifted("doc_id", i, n), text(i).alias("text"), "lang", "source", "n_chars",
    ])
    write("embeddings", spark.read.parquet(f"{src}/embeddings.parquet"), lambda i, n: [
        shifted("vec_id", i, n), embedding(i).alias("embedding"), "label",
    ])
    # a distinct user space per copy, so the session count scales too
    write("events", load_table(spark, src, "events"), lambda i, n: [
        shifted("event_id", i, n), "ts", shifted("user_id", i, 1_000_000_000),
        "event_type", "value", "props",
    ])
    cust = spark.read.parquet(f"{src}/customer.parquet")
    other = [c for c in cust.columns if c not in ("c_custkey", "c_name")]
    # the name is regenerated from the shifted key, so the 7-char prefix
    # blocking of fuzzy_name_pairs sees copies× the blocks at the same
    # occupancy, not copies× the occupancy per block
    write("customer", cust, lambda i, n: [
        shifted("c_custkey", i, n),
        F.concat(
            F.lit("Customer#"),
            F.lpad((F.col("c_custkey") + F.lit(i * n)).cast("string"), 9, "0"),
        ).alias("c_name"),
        *other,
    ])

    for t in TESTDATA_TABLES:
        link = f"{dst}/{t}.parquet"
        if not os.path.exists(link):
            os.symlink(f"{src}/{t}.parquet", link)


def main() -> None:
    copies = int(os.environ.get("SPARK_GRAFT_SCALE_COPIES", "10"))
    fam_env = os.environ.get("SPARK_GRAFT_SCALE_FAMILIES")
    only = set(fam_env.split(",")) if fam_env else None
    entries = {
        name: prepare
        for name, prepare in runners(FAMILY, list(EXTRAS)).items()
        if not only or name in only
    }
    spark = start_session("bench-scaling")
    dst = os.path.join(REPO, ".bench_tmp", f"sf{copies}x")
    shutil.rmtree(dst, ignore_errors=True)
    synthesize(spark, SF_DIR, dst, copies)

    t1 = time_entries(spark, SF_DIR, entries, RUNS, scale=1)
    tn = time_entries(spark, dst, entries, RUNS, scale=copies)
    names = sorted(t1)
    alphas = {
        n: round(math.log(max(tn[n], 1e-3) / max(t1[n], 1e-3)) / math.log(copies), 2)
        for n in names
    }

    def _superlinear(n: str) -> bool:
        # alpha is wall-clock-derived on a box with fixed parallelism;
        # sub-second base times are scheduling-noise-dominated, so gate
        # only entries slow enough to measure. Pair-generating entries
        # get the tight gate: alpha barely above 1, or a wall-clock
        # ratio past 1.5x the copy count, is quadratic-in-waiting.
        if n in PAIR_QUERIES:
            ratio = tn[n] / max(t1[n], 1e-3)
            return t1[n] >= 0.2 and (alphas[n] > 1.05 or ratio > 1.5 * copies)
        return t1[n] >= 0.5 and alphas[n] > 1.25

    result = {
        "metric": "family_scaling_exponent",
        "copies": copies,
        "base_sf_dir": SF_DIR,
        "t_base": t1,
        "t_10x": tn,
        "alpha": alphas,
        "superlinear": sorted(n for n in names if _superlinear(n)),
        "n": RUNS,
    }
    line = json.dumps(result)
    print(line)
    if only:
        out_name = f"BENCH_SCALING_{copies}x_partial.json"
    elif copies == 10:
        out_name = "BENCH_SCALING.json"
    else:
        out_name = f"BENCH_SCALING_{copies}x.json"
    with open(os.path.join(REPO, out_name), "w") as f:
        f.write(line + "\n")
    shutil.rmtree(dst, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
