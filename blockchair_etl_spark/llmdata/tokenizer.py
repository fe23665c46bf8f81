"""Learned-vocabulary tokenizer: distributed BPE training + apply.

Byte-pair encoding (Sennrich et al., ACL'16): start from characters,
repeatedly merge the most frequent adjacent symbol pair; the ordered
merge list IS the vocabulary artifact.

Scale shape — the classic scalable-BPE factoring:

- Training never iterates over the corpus. One corpus scan builds the
  WORD FREQUENCY TABLE (distinct word → count); natural-language
  corpora have ~10^7-10^8 distinct words at 100 TB, so the word table
  is the small relation every merge round works on. Each round is one
  pair-explode + hash-agg over the word table plus a top-k collect
  (O(k) driver rows — the same driver-loop contract as Lloyd
  iterations in ivf.py and the CC rounds in clusters.py), then one
  rewrite of the symbol arrays. Symbol arrays shrink monotonically, so
  rounds get cheaper as training proceeds.
- Apply encodes DISTINCT words only and joins the encodings back to
  the token stream — repeated words are never re-encoded, the same
  distinct-side trick the classifier's featurizer uses. Document
  reassembly is one ordered hash-agg per doc (array_sort over
  collected (pos, toks) structs, then flatten).
- Both apply a merge list by one rule, chosen by its length
  (:func:`_apply_merges`): up to FOLD_MERGE_LIMIT merges run as one
  JVM-side projection (:func:`_merge_fold_all`, no Python stage),
  longer lists as an Arrow-batched Python fold (:func:`_py_fold_merges`).
  Both folds are greedy left-to-right, the original BPE semantics —
  [a a a] under merge (a,a) becomes [aa a], because after a merge the
  tail is the merged symbol and no longer matches the left operand.

Determinism: ties on pair count break by (left, right) lexicographic
ascending — a total order, so the learned merge list is identical
across partitionings and engines (pytest pins parity against a plain
python reference).
"""

from __future__ import annotations

import re
import sys

from pyspark.sql import Column, DataFrame, functions as F

from ..caching import release_local_checkpoint
from .text import tokens_col

# chars -> symbol array; (?!^)(?!$) splits between every pair of
# characters without matching at the string boundaries (a bare (?!^)
# also matches at end-of-string, and Java split's -1 limit then keeps
# the trailing empty symbol)
_SYMS = "split(word, '(?!^)(?!$)')"

# Longest merge list applied as one _merge_fold_all projection; longer
# lists take the Arrow-batched Python fold. Higher-order functions are
# CodegenFallback (interpreted), so the projection's per-row cost grows
# with every merge, while the Python fold skips merges whose symbols a
# word lacks. Measured on the 48,021 distinct words of zipfian_corpus,
# local[4], median of 3: one projection 27.8 s at 128 merges and 84.0 s
# at 512, the Python fold 1.0 s and 2.2 s. Every registry, bench and
# oracle merge list is at or below the limit, so those plans carry no
# Python stage.
FOLD_MERGE_LIMIT = 64


def word_frequency_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq, syms) — the relation BPE training iterates on.
    One corpus scan, one hash-agg; `syms` starts as the character
    split."""
    return (
        docs.select(F.explode(tokens_col(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("syms", F.expr(_SYMS))
    )


def _merge_fold_all(syms: Column, merges: list[tuple[str, str]]) -> Column:
    """Every merge of ``merges`` applied IN ORDER with ONE doubly-nested
    aggregate: the merge list enters the plan as DATA — an
    array<struct<l,r,o>> literal the outer lambda folds over, running
    one greedy left-to-right inner fold per element (o = left+right,
    precomputed so the hot branch appends a plain field instead of
    concatenating). Chaining one nested ``aggregate`` per merge instead
    costs Catalyst a fixed-point Resolution iteration PER NESTING
    LEVEL; this form analyzes at constant depth.

    The empty-accumulator guard is F.get (0-indexed, NULL on any
    out-of-range index in EVERY mode) rather than element_at(acc, -1),
    which throws INVALID_ARRAY_INDEX under ANSI mode (Spark's AND does
    not short-circuit). NULL == l is NULL and `when` treats NULL as
    false, so the first symbol of every word falls through to the
    append branch.

    The literal is ONE parsed expression (the lit_double_array
    precedent — F.lit per symbol costs a py4j round trip each); symbols
    outside the tokenizer's [a-z0-9]+ contract fall back to the
    per-element builder rather than risking SQL-literal escaping. No
    merges is the identity: an empty ``array()`` literal has no element
    type for the fold's field accesses to resolve against."""
    if not merges:
        return syms
    if all(_SQL_SAFE_SYM.fullmatch(s) for l, r in merges for s in (l, r)):
        pairs = F.expr(
            "array("
            + ",".join(
                f"named_struct('l','{l}','r','{r}','o','{l}{r}')"
                for l, r in merges
            )
            + ")"
        )
    else:
        pairs = F.array(
            *[
                F.struct(
                    F.lit(l).alias("l"), F.lit(r).alias("r"), F.lit(l + r).alias("o")
                )
                for l, r in merges
            ]
        )
    return F.aggregate(
        pairs,
        syms,
        lambda cur, m: F.aggregate(
            cur,
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.get(acc, F.size(acc) - 1) == m.getField("l"))
                & (x == m.getField("r")),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(m.getField("o"))
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        ),
    )


# symbols that embed verbatim in a SQL string literal; the token
# contract is [a-z0-9]+ so real vocabularies always pass
_SQL_SAFE_SYM = re.compile(r"[a-z0-9]+")


def _py_fold_merges(
    syms: list[str], merges: list[tuple[str, str]]
) -> list[str]:
    """The sequential-greedy merge fold in plain python — bit-identical
    to :func:`_merge_fold_all` (pytest parity), with a cheap
    applicability screen (skip merges whose symbols aren't in the
    current symbol set; stale set entries only cost a scan, never a
    wrong result)."""
    present = set(syms)
    for l, r in merges:
        if l not in present or r not in present:
            continue
        out: list[str] = []
        for x in syms:
            if out and out[-1] == l and x == r:
                out[-1] = l + r
            else:
                out.append(x)
        syms = out
        present = set(syms)
    return syms


def _py_rank_priority_merges(
    syms: list[str], ranks: dict[tuple[str, str], int]
) -> list[str]:
    """HF/GPT-2-style BPE encode: repeatedly merge the LOWEST-RANK
    adjacent pair present anywhere in the word (all non-overlapping
    occurrences, left to right) until no ranked pair remains. Unlike
    the sequential fold (:func:`_py_fold_merges`, one pass per merge in
    merge order), this re-applies an EARLY merge to adjacencies a later
    merge creates — the semantics of the GPT-2 `bpe()` loop and HF
    tokenizers. The two strategies agree on every merge list a
    bpe_train run can produce on a word where each merge's operands
    predate it, but diverge on crafted/imported rank tables (pytest
    pins a divergence fixture).

    Cost shape: O(passes × word length) with a dict probe per
    adjacency — the same per-word working set as the sequential fold;
    rank lookup is O(1) so a production-size rank table costs nothing
    per pair."""
    while len(syms) > 1:
        best_rank: int | None = None
        best: tuple[str, str] | None = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best = r, (syms[i], syms[i + 1])
        if best is None:
            break
        l, r = best
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def ship_by_value(module_name: str) -> None:
    """Pickle the functions of ``module_name`` by value inside Spark
    tasks, so Python workers run them without importing this package
    (a driver started outside the repository). The registration is
    idempotent but process-global cloudpickle state, so callers make it
    when they build a Python stage, never at import."""
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[module_name])


def map_array_column(df: DataFrame, src: str, dst: str, fn) -> DataFrame:
    """Set the array<string> column ``dst`` (replaced or appended) to
    ``fn`` of each non-NULL value of column ``src``, computed by an
    Arrow-batched Python loop (mapInPandas); NULL stays NULL. The
    module defining ``fn`` ships by value (:func:`ship_by_value`)."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    ship_by_value(fn.__module__)
    fields = list(df.schema.fields)
    if dst not in df.columns:
        fields.append(StructField(dst, ArrayType(StringType())))

    def _go(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf[dst] = [None if v is None else fn(v) for v in pdf[src]]
            yield pdf

    return df.mapInPandas(_go, schema=StructType(fields))


def _apply_merges(
    df: DataFrame,
    col: str,
    merges: list[tuple[str, str]],
    strategy: str = "sequential",
) -> DataFrame:
    """Replace the symbol-array column ``col`` with its encoding under
    ``merges``: at most FOLD_MERGE_LIMIT merges under the sequential
    strategy run as one :func:`_merge_fold_all` projection, anything
    else as the Arrow-batched Python fold. ``rank_priority`` always
    takes the Python fold — a fixed-point loop has no bounded fold
    depth, so only the Python fold computes it."""
    if strategy not in ("sequential", "rank_priority"):
        raise ValueError(
            f"unknown strategy {strategy!r}: use 'sequential' or 'rank_priority'"
        )
    if strategy == "sequential" and len(merges) <= FOLD_MERGE_LIMIT:
        return df.withColumn(col, _merge_fold_all(F.col(col), merges))
    if strategy == "rank_priority":
        # only this strategy reads a rank table, so the sequential
        # closure ships none. First occurrence wins on a duplicated
        # pair — the lowest rank is the one rank-priority must honor.
        ranks: dict[tuple[str, str], int] = {}
        for i, pair in enumerate(merges):
            ranks.setdefault(pair, i)

        def fold(syms):
            return _py_rank_priority_merges(list(syms), ranks)

    else:
        ms = list(merges)

        def fold(syms):
            return _py_fold_merges(list(syms), ms)

    return map_array_column(df, col, col, fold)


def _pair_counts(words: DataFrame) -> DataFrame:
    """(l, r, cnt) adjacent-pair frequencies over the word table,
    weighted by word frequency."""
    pairs = F.expr(
        "transform(sequence(1, size(syms) - 1), "
        "i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"
    )
    return (
        words.filter(F.size("syms") >= 2)
        .select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("cnt"))
    )


# Batched rounds scan the top (batch_k * this) snapshot pairs when
# greedily picking symbol-disjoint merges; a shared named constant so
# the plain-python parity reference in tests mirrors the exact rule.
CANDIDATE_FACTOR = 8


def select_disjoint(
    cands: list[tuple[str, str, int]], batch_k: int
) -> list[tuple[str, str]]:
    """Greedy selection of up to ``batch_k`` mutually-independent merge
    pairs from a (cnt desc, l, r asc)-ordered candidate snapshot — the
    driver-side half of a batched BPE round, factored out so the pytest
    reference runs the IDENTICAL rule.

    Independence rule: a candidate is skipped if its left, right, or
    OUTPUT (left+right) symbol collides with any previously selected
    pair's left/right/output. Disjoint l/r keeps every selected pair's
    corpus count invariant while the earlier picks apply (merging (a,b)
    only touches counts of pairs containing a or b); excluding outputs
    closes the one leak in that argument — a later pair naming an
    earlier pick's output symbol (possible: multi-char symbols exist
    from prior rounds) would see NEW instances of that symbol created
    mid-batch, so its true count at merge time would exceed the
    snapshot count it was ranked by."""
    used: set[str] = set()
    picked: list[tuple[str, str]] = []
    for l, r, _ in cands:
        if len(picked) == batch_k:
            break
        if l in used or r in used or (l + r) in used:
            continue
        picked.append((l, r))
        used.update((l, r, l + r))
    return picked


def bpe_train(
    docs: DataFrame,
    n_merges: int = 32,
    text_col: str = "text",
    min_pair_count: int = 2,
    batch_k: int = 1,
) -> list[tuple[str, str]]:
    """Learn an ordered BPE merge list from the corpus.

    Stops early when no pair reaches ``min_pair_count`` (merging a
    pair seen once memorizes noise). Each round localCheckpoints the
    rewritten word table so lineage stays O(1) across rounds (the CC
    loop's contract); the table is tiny relative to the corpus, so the
    checkpoint cost is the explicit round barrier, not data volume.
    Each round rewrites the symbol arrays with its picks by the
    length rule of :func:`_apply_merges`.

    ``batch_k`` (the standard fast-BPE factoring): merge up to k
    mutually-independent pairs per round instead of one, collapsing a
    production 32k-vocab train from ~32k sequential
    pair-agg/collect/rewrite job rounds to ~32k/k. Per round the top
    ``batch_k * CANDIDATE_FACTOR`` snapshot pairs are collected
    (O(k) driver rows — still the Lloyd-iteration contract) and up to k
    symbol-disjoint pairs are greedily selected (:func:`select_disjoint`
    — the selection rule guarantees each selected pair's corpus count
    at its merge turn equals its snapshot count, so no pair is ever
    merged on a stale rank). ``batch_k=1`` is EXACTLY the strict
    sequential BPE semantics (pytest-pinned against the plain-python
    reference).

    Where k>1 can diverge from strict BPE: merging the round's top pair
    creates NEW pairs containing the merged symbol, and such a pair can
    out-count the round's remaining picks; strict BPE would merge it
    immediately, the batched round defers it until the next snapshot.
    Divergence is bounded to exactly that deferral — every pair a batch
    merges was, at the round snapshot, at least as frequent as every
    later pick in the same batch and ≥ min_pair_count (pytest pins both
    the bound and exact parity against a batched python reference).

    The per-round pair count is not Arrow-batched: measured on a
    100k-word hex corpus (1024 merges, batch_k=16) it was ~44% of round
    time, balanced with the rewrite, so a Python twin could at best
    halve its share while adding a second path to keep bit-identical
    with the explode+hash-agg the oracles pin. Re-measure if symbol
    arrays ever get long (document-level rather than word-level BPE)."""
    if batch_k < 1:
        raise ValueError(f"batch_k must be >= 1, got {batch_k}")
    words = word_frequency_table(docs, text_col).localCheckpoint()
    merges: list[tuple[str, str]] = []
    try:
        while len(merges) < n_merges:
            k = min(batch_k, n_merges - len(merges))
            top = (
                _pair_counts(words)
                .filter(F.col("cnt") >= min_pair_count)
                .orderBy(F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc())
                .limit(k * CANDIDATE_FACTOR if k > 1 else 1)
                .collect()
            )
            if not top:
                break
            picked = select_disjoint([(t.l, t.r, t.cnt) for t in top], k)
            merges.extend(picked)
            nxt = _apply_merges(words, "syms", picked).localCheckpoint()
            # release_local_checkpoint, NOT DataFrame.unpersist: the
            # latter never frees checkpoint blocks (caching.py), so the
            # swap would pin every round's word table until JVM GC
            release_local_checkpoint(words)
            words = nxt
    finally:
        release_local_checkpoint(words)
    return merges


def encode_words(
    words: DataFrame, merges: list[tuple[str, str]], strategy: str = "sequential"
) -> DataFrame:
    """Add `toks` (the BPE encoding) to a relation carrying a `word`
    column: character split, then ``merges`` applied by the length rule
    of :func:`_apply_merges`. The input is the DISTINCT-word table
    (bpe_apply's contract), so either fold runs once per word.

    ``strategy``:

    - ``"sequential"`` (default): replay merges IN ORDER, one greedy
      left-to-right pass per merge — the fold every oracle path pins.
      An early merge never sees an adjacency a later merge creates.
    - ``"rank_priority"``: the HF/GPT-2 encode — repeatedly apply the
      lowest-rank pair present anywhere in the word until fixed point
      (:func:`_py_rank_priority_merges`). Matches production BPE
      libraries on imported vocabularies; diverges from sequential on
      rank tables where an early-rank merge consumes a token a
      later-rank merge creates (pytest divergence fixture)."""
    return _apply_merges(
        words.withColumn("toks", F.expr(_SYMS)), "toks", merges, strategy
    )


def merges_to_frame(spark, merges: list[tuple[str, str]]) -> DataFrame:
    """The learned vocabulary as a persistable relation
    (merge_idx, left, right) — the same write-once/read-forever artifact
    contract as the MinHash band store and the embedding bucket store:
    bpe_train once, write the frame to parquet, and every later
    apply/stream loads it. ORDER IS THE MODEL — merge_idx preserves it
    across the (unordered) parquet round-trip."""
    return spark.createDataFrame(
        [(i, l, r) for i, (l, r) in enumerate(merges)],
        "merge_idx bigint, left string, right string",
    )


def frame_to_merges(df: DataFrame) -> list[tuple[str, str]]:
    """Inverse of :func:`merges_to_frame`: reload the ordered merge
    list from its persisted relation (a driver-side artifact read —
    vocabularies are O(10k) rows, never data-scale)."""
    return [
        (r.left, r.right)
        for r in df.select("merge_idx", "left", "right")
        .orderBy("merge_idx")
        .collect()
    ]


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    strategy: str = "sequential",
) -> DataFrame:
    """Tokenize the corpus with a learned merge list →
    (id, tokens array<string>, n_tokens BIGINT), one row per input doc
    (empty/NULL text keeps a row with an empty token array).

    The encode runs over DISTINCT words only; the token stream joins
    the encodings back by word, and documents reassemble with one
    ordered hash-agg (array_sort over (pos, toks) structs — dense
    posexplode positions make row order recoverable without a window).

    ``strategy``: "sequential" (default — the fold semantics every
    oracle pins) or "rank_priority" (the HF/GPT-2 fixed-point encode
    for imported production vocabularies); see :func:`encode_words`.
    """
    return apply_word_encoder(
        docs, lambda words: encode_words(words, merges, strategy), text_col, id_col
    )


def apply_word_encoder(
    docs: DataFrame,
    encode,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The tokenize-apply frame every learned tokenizer shares (BPE and
    unigram): posexplode the token stream, run ``encode`` — a
    (word) → (word, toks array<string>) DataFrame function — over the
    DISTINCT-word table only, join the encodings back, and reassemble
    each document with one ordered hash-agg (array_sort over
    (pos, toks) structs — dense posexplode positions make row order
    recoverable without a window). Empty/NULL text keeps its row with
    an empty token array; n_tokens is BIGINT for oracle-schema parity."""
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens_col(text_col)).alias("pos", "word"),
    )
    encoded = encode(toks.select("word").distinct())
    per_doc = (
        toks.join(encoded, "word")
        .groupBy("doc")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "toks"))),
                    lambda s: s.getField("toks"),
                )
            ).alias("tokens")
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc"))
        .join(per_doc, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("tokens", F.array().cast("array<string>")).alias("tokens"),
        )
        .withColumn("n_tokens", F.size("tokens").cast("bigint"))
    )
