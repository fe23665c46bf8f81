"""Unigram-LM tokenizer (SentencePiece-style): distributed EM training
+ Viterbi apply.

The second learned-vocabulary family alongside BPE (tokenizer.py).
Kudo (ACL'18, "Subword Regularization") trains a unigram language model
over a piece inventory by EM — the model is a set of (piece, logp) and
a word's tokenization is its max-probability segmentation — and prunes
the inventory down to the target vocabulary between rounds. That (not
BPE) is what SentencePiece ships by default, so a corpus pipeline that
claims tokenizer coverage needs both.

Scale shape — the same factoring as distributed BPE:

- Training never iterates over the corpus. One corpus scan builds the
  word-frequency table (tokenizer.word_frequency_table); every EM
  round works on DISTINCT words only, weighted by freq.
- Seeding is one JVM-side substring explode + hash-agg over the word
  table (every substring occurrence up to max_piece_len, weighted by
  word freq), then a bounded top-N driver collect — the standard
  frequent-substring seed.
- The E-step is an Arrow-batched forward-backward per distinct word
  (mapInPandas — O(len * max_piece_len) per word, the model dict ships
  once per task like the BPE rank table), emitting per-(word, piece)
  expected counts. Cross-word aggregation is ONE hash-agg per round,
  and the per-round driver traffic is O(|vocab|) piece totals — the
  Lloyd-iteration contract (ivf.py).
- Apply encodes DISTINCT words (Arrow-batched Viterbi) and joins back
  through tokenizer.apply_word_encoder — repeated words are never
  re-encoded, identical reassembly contract as bpe_apply.

Determinism and engine-portability: per-word expected counts are
float64 forward-backward in a FIXED iteration order (identical on any
partitioning — a word's numbers depend only on the word and the model),
then quantized to integers (round-half-up at 2^-20) BEFORE the
cross-word sum, which runs in DECIMAL(38,0) — exact, order-independent,
and overflow-safe where a BIGINT sum could wrap. M-step renormalization
and pruning happen on the driver over exact integer totals with a total
tie-break order (count desc, piece asc), so the learned artifact is
identical across runs, partitionings, and engines. Pytest pins the
E-step against brute-force segmentation enumeration and the Viterbi
encode against exhaustive best-path search.

Simplification vs SentencePiece, documented not silent: the DEFAULT
pruning keeps the TOP pieces by expected count (single-character
pieces are never pruned, guaranteeing coverage); Kudo's loss-based
pruning is available as the measured variant prune="loss"
(_piece_removal_losses: per-piece likelihood drop computed on the
driver from the same E-step totals — pytest pins a fixture where the
two rankings keep different pieces). The artifacts this repo pins and
oracle-checks use the count-ranked default: its ranking key is the
exact integer total the engine aggregates, where the loss ranking
multiplies in driver-side float log-probs. The final EM round is not
followed by Kudo's dual-EM refinement in either variant — that
affects which marginal pieces survive, not the model's semantics.

Applying to UNSEEN text: a character absent from the model is emitted
as its own token with a fixed penalty (min model logp - 10) — the
byte-fallback convention, so apply never drops a row.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from .text import tokens_col
from .tokenizer import (
    apply_word_encoder,
    map_array_column,
    ship_by_value,
    word_frequency_table,
)

# This module's Arrow-batched workers (forward-backward E-step/scorer,
# Viterbi/sampling encoders) call the module-level DP helpers, the
# pytest-pinned reference implementations; each stage ships this module
# by value (tokenizer.ship_by_value), so an external driver needs
# nothing on the Python workers' sys.path.

# expected-count quantum: counts are exact multiples of 2^-20 before
# the cross-word sum (same fixed-point idiom as FIXED_SCALE in pq.py)
_Q = 1 << 20

# the model dict ships to every task per round (like the BPE rank
# table); cap it so a misconfigured seed can't make task serialization
# the bottleneck
MAX_MODEL_PIECES = 200_000


def _quantize(c: float) -> int:
    """round-half-up at the 2^-20 quantum (python round() is banker's)."""
    return int(math.floor(c * _Q + 0.5))


def _logaddexp(a: float, b: float) -> float:
    """Stable log(e^a + e^b) with a FIXED evaluation shape — the same
    floats on every partition and in the pytest reference."""
    if a == float("-inf"):
        return b
    if b == float("-inf"):
        return a
    m = a if a >= b else b
    return m + math.log(math.exp(a - m) + math.exp(b - m))


def _py_forward_backward(
    word: str, model: dict[str, float], max_len: int, unk_logp: float | None = None
) -> tuple[dict[str, float], float]:
    """Expected piece counts for ONE occurrence of ``word`` under the
    unigram model, plus the word's log-partition Z (total log-prob over
    all segmentations). Log-domain forward-backward over character
    positions; O(len * max_len). Returns ({}, -inf) only if the word is
    uncoverable — impossible in training, where every corpus character
    is a mandatory single-char piece; SCORING unseen text passes
    ``unk_logp`` so unknown single characters participate as penalized
    pieces (the byte-fallback convention, as in Viterbi)."""

    def _lp(piece: str) -> float | None:
        lp = model.get(piece)
        if lp is None and unk_logp is not None and len(piece) == 1:
            return unk_logp
        return lp

    L = len(word)
    neg = float("-inf")
    alpha = [neg] * (L + 1)
    beta = [neg] * (L + 1)
    alpha[0] = 0.0
    beta[L] = 0.0
    for i in range(1, L + 1):
        for j in range(max(0, i - max_len), i):
            lp = _lp(word[j:i])
            if lp is not None and alpha[j] != neg:
                alpha[i] = _logaddexp(alpha[i], alpha[j] + lp)
    for j in range(L - 1, -1, -1):
        for i in range(j + 1, min(L, j + max_len) + 1):
            lp = _lp(word[j:i])
            if lp is not None and beta[i] != neg:
                beta[j] = _logaddexp(beta[j], lp + beta[i])
    z = alpha[L]
    if z == neg:
        return {}, neg
    counts: dict[str, float] = {}
    for j in range(L):
        if alpha[j] == neg:
            continue
        for i in range(j + 1, min(L, j + max_len) + 1):
            piece = word[j:i]
            lp = _lp(piece)
            if lp is not None and beta[i] != neg:
                c = math.exp(alpha[j] + lp + beta[i] - z)
                counts[piece] = counts.get(piece, 0.0) + c
    return counts, z


def _py_viterbi(
    word: str, model: dict[str, float], max_len: int, unk_logp: float
) -> list[str]:
    """Max-probability segmentation. Characters absent from the model
    score ``unk_logp`` as single-char pieces (byte-fallback convention).
    Exact-equal score ties prefer the LONGER trailing piece (candidates
    scanned longest-first, replaced only on strictly-greater score) —
    a total order, pinned against exhaustive search in pytest."""
    L = len(word)
    neg = float("-inf")
    best = [neg] * (L + 1)
    back = [0] * (L + 1)
    best[0] = 0.0
    for i in range(1, L + 1):
        for j in range(max(0, i - max_len), i):
            piece = word[j:i]
            lp = model.get(piece)
            if lp is None and i - j == 1:
                lp = unk_logp
            if lp is None or best[j] == neg:
                continue
            s = best[j] + lp
            if s > best[i]:
                best[i] = s
                back[i] = j
    out: list[str] = []
    i = L
    while i > 0:
        j = back[i]
        out.append(word[j:i])
        i = j
    out.reverse()
    return out


def seed_piece_counts(
    words: DataFrame, max_piece_len: int = 4, seed_size: int = 4000
) -> DataFrame:
    """The seed inventory as a relation (piece, cnt): every substring
    occurrence up to ``max_piece_len`` chars, weighted by word
    frequency — one JVM-side explode + hash-agg over the (word, freq)
    table — with ALL single characters kept (mandatory for coverage)
    and multi-char pieces capped at the top ``seed_size`` by
    (count desc, piece asc). Fully SQL-expressible, so this training
    stage carries the unigram family's hard oracle (registry:
    tokenizer_unigram_seed); EM and Viterbi are pytest-pinned against
    brute-force enumeration instead."""
    sub = F.expr(
        "flatten(transform(sequence(0, length(word)-1), "
        f"i -> transform(sequence(1, least({int(max_piece_len)}, length(word)-i)), "
        "l -> substring(word, i+1, l))))"
    )
    counts = (
        words.select(F.explode(sub).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
    )
    singles = counts.filter(F.length("piece") == 1)
    multi = (
        counts.filter(F.length("piece") > 1)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(int(seed_size))
    )
    return singles.unionByName(multi)


def seed_pieces(
    words: DataFrame, max_piece_len: int = 4, seed_size: int = 4000
) -> list[tuple[str, int]]:
    """The seed inventory as the driver-side list EM starts from
    (bounded collect: seed_size + alphabet rows)."""
    rows = seed_piece_counts(words, max_piece_len, seed_size).collect()
    singles = sorted((r.piece, int(r.cnt)) for r in rows if len(r.piece) == 1)
    multi = sorted(
        ((r.piece, int(r.cnt)) for r in rows if len(r.piece) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )
    return singles + multi


def _model_from_counts(counts: dict[str, int]) -> dict[str, float]:
    total = sum(counts.values())
    lt = math.log(total)
    return {p: math.log(c) - lt for p, c in counts.items() if c > 0}


def _expected_count_rows(words: DataFrame, model: dict[str, float]) -> DataFrame:
    """E-step: per-(word, piece) quantized expected counts, Arrow-
    batched; the exact cross-word piece totals as ONE decimal hash-agg."""
    ship_by_value(__name__)
    max_len = max(len(p) for p in model)

    def _estep(batches):
        import pandas as pd

        for pdf in batches:
            pieces: list[str] = []
            qcounts: list[int] = []
            for word, freq in zip(pdf["word"], pdf["freq"]):
                ec, _ = _py_forward_backward(word, model, max_len)
                for piece, c in ec.items():
                    q = _quantize(c * int(freq))
                    if q > 0:
                        pieces.append(piece)
                        qcounts.append(q)
            yield pd.DataFrame({"piece": pieces, "qcount": qcounts})

    rows = words.select("word", "freq").mapInPandas(
        _estep, schema="piece string, qcount long"
    )
    return rows.groupBy("piece").agg(
        F.sum(F.col("qcount").cast("decimal(38,0)")).alias("qtotal")
    )


def _piece_removal_losses(
    totals: dict[str, int], model: dict[str, float]
) -> dict[str, float]:
    """Kudo-style pruning signal (SentencePiece unigram trainer's
    likelihood-drop), computable on the driver from the SAME E-step
    outputs the count-ranked default uses: the corpus log-likelihood
    drop of removing multi-char piece p is approximated as

        loss_p = E[count_p] * (logp_p - alt_p)

    where alt_p is the Viterbi score of segmenting p's OWN string with
    p removed from the inventory (each of p's expected occurrences
    re-segments that way, losing logp_p and gaining alt_p). A piece
    whose subpieces are themselves probable has cheap alternatives and
    a small (possibly negative) loss even at high count — exactly the
    case where count ranking and loss ranking diverge (pytest pins a
    crafted fixture). O(|pieces| * len * max_len) pure-python driver
    work, no extra corpus pass: p is popped from the model and
    re-inserted per iteration (never a dict copy), and the unk penalty
    derives from the precomputed two smallest logps instead of a
    per-piece min scan (r14 review — the copy+scan form was
    O(|pieces|^2), hours at MAX_MODEL_PIECES; this form MEASURED
    1.4 s for a full 200k-piece inventory)."""
    max_len = max(len(p) for p in model)
    # unk for "model without p": the global min unless p IS the unique
    # minimum, in which case the second-smallest logp takes over
    lo1 = min(model.values())
    lo1_n = sum(1 for lp in model.values() if lp == lo1)
    lo2 = min((lp for lp in model.values() if lp != lo1), default=lo1)
    losses: dict[str, float] = {}
    for p, c in totals.items():
        if len(p) <= 1 or c <= 0 or p not in model:
            continue
        logp_p = model.pop(p)
        try:
            floor = lo2 if (logp_p == lo1 and lo1_n == 1) else lo1
            unk = floor - 10.0
            toks = _py_viterbi(p, model, max_len, unk)
            alt = sum(model.get(t, unk) for t in toks)
            losses[p] = c * (logp_p - alt)
        finally:
            model[p] = logp_p
    return losses


def unigram_train(
    docs: DataFrame,
    vocab_size: int = 64,
    max_piece_len: int = 4,
    em_iters: int = 2,
    prune_shrink: float = 0.75,
    seed_size: int = 4000,
    text_col: str = "text",
    prune: str = "count",
) -> list[tuple[str, float]]:
    """Learn a unigram-LM vocabulary → ordered list of (piece, logp),
    the persistable artifact (pieces_to_frame). ``vocab_size`` counts
    ALL pieces including the mandatory single characters; each EM round
    re-estimates piece probabilities from exact integer expected-count
    totals, then prunes multi-char pieces toward the target by
    ``prune_shrink``. ``prune`` selects the ranking that decides WHICH
    multi-char pieces survive each shrink: "count" (default — expected-
    count ranking, the variant whose M-step totals the engine
    aggregates exactly; module docstring) or "loss" (Kudo's
    likelihood-drop ranking via _piece_removal_losses — driver-side
    floats over the same E-step totals, ranked (loss desc, count desc,
    piece asc)). Both keep every single char; probabilities always come
    from the SAME exact integer totals, so the two variants differ
    only in which marginal pieces survive (pytest pins a fixture where
    they diverge). The artifact orders by (count desc, piece asc)
    — deterministic across runs and partitionings.

    Production-vocabulary cost, MEASURED (r13, local[16]): one E-step
    round over a 200k-distinct-word table against a 50k-piece model is
    7.8 s (seeding that inventory: 5.1 s) — the per-word forward-
    backward is O(len * max_piece_len) dict probes and the model ships
    once per task, so the Arrow-batched E-step needs no further
    vectorization at SentencePiece-scale vocabularies; rounds, not
    per-piece work, are the knob (the bpe_train batch_k conclusion)."""
    if em_iters < 1:
        raise ValueError(
            f"em_iters={em_iters}: at least one EM round is required — "
            "the final round is what lands the vocabulary on vocab_size"
        )
    if prune not in ("count", "loss"):
        raise ValueError(
            f"prune={prune!r}: 'count' (expected-count ranking, default)"
            " or 'loss' (Kudo likelihood-drop ranking)"
        )
    # scoped persist/unpersist, NOT the global release_tracked():
    # training may run while a caller holds tracked frames, and the
    # global release would free those mid-plan
    words = word_frequency_table(docs, text_col).select("word", "freq").persist()
    try:
        seeds = seed_pieces(words, max_piece_len, seed_size)
        singles = {p for p, _ in seeds if len(p) == 1}
        if vocab_size < len(singles):
            raise ValueError(
                f"vocab_size={vocab_size} cannot cover the corpus: "
                f"{len(singles)} single-char pieces are mandatory"
            )
        # vocab_size == len(singles) is a valid chars-only model:
        # target_multi = 0 and EM prunes every multi-char piece
        if len(seeds) > MAX_MODEL_PIECES:
            raise ValueError(
                f"seed inventory {len(seeds)} exceeds MAX_MODEL_PIECES="
                f"{MAX_MODEL_PIECES}; lower seed_size/max_piece_len"
            )
        counts: dict[str, int] = dict(seeds)
        target_multi = vocab_size - len(singles)
        for it in range(em_iters):
            model = _model_from_counts(counts)
            totals = {
                r.piece: int(r.qtotal)
                for r in _expected_count_rows(words, model).collect()
            }
            surviving = [
                (p, c) for p, c in totals.items() if len(p) > 1 and c > 0
            ]
            if prune == "loss":
                losses = _piece_removal_losses(dict(surviving), model)
                multi = sorted(
                    surviving,
                    key=lambda pc: (-losses[pc[0]], -pc[1], pc[0]),
                )
            else:
                multi = sorted(surviving, key=lambda pc: (-pc[1], pc[0]))
            # shrink toward the target; the LAST round lands exactly on it
            keep = (
                target_multi
                if it == em_iters - 1
                else max(target_multi, int(len(multi) * prune_shrink))
            )
            counts = {p: totals.get(p, 0) for p in singles}
            counts.update(dict(multi[:keep]))
            # a single char can quantize to zero total only if it never
            # appears outside higher-probability pieces; keep it alive
            # at the quantum so coverage (and log()) never breaks
            for p in singles:
                if counts[p] <= 0:
                    counts[p] = 1
    finally:
        words.unpersist()
    if len(counts) < vocab_size:
        # fewer multi-char pieces had positive expected counts than
        # target_multi: the corpus genuinely cannot support vocab_size
        # pieces. Return the smaller (still covering) inventory loudly
        # rather than padding with zero-evidence pieces (r13 advice).
        import warnings

        warnings.warn(
            f"unigram_train: only {len(counts)} pieces had positive "
            f"expected counts; returning a vocabulary smaller than "
            f"vocab_size={vocab_size}",
            stacklevel=2,
        )
    ordered = sorted(counts.items(), key=lambda pc: (-pc[1], pc[0]))
    model = _model_from_counts(dict(ordered))
    return [(p, model[p]) for p, _ in ordered]


def _model_geometry(
    pieces: list[tuple[str, float]],
) -> tuple[dict[str, float], int, float]:
    """(model dict, max piece length, unk penalty) — the trio every
    encode/score path derives from the artifact."""
    model = dict(pieces)
    if not model:
        raise ValueError("empty piece list")
    return model, max(len(p) for p in model), min(model.values()) - 10.0


def unigram_encode_words(
    words: DataFrame, pieces: list[tuple[str, float]]
) -> DataFrame:
    """(word) → (word, toks array<string>): Arrow-batched Viterbi over
    the distinct-word table (the unigram analog of
    tokenizer.encode_words). Unknown characters fall back to
    single-char tokens at min(logp) - 10."""
    model, max_len, unk_logp = _model_geometry(pieces)
    return map_array_column(
        words, "word", "toks", lambda w: _py_viterbi(w, model, max_len, unk_logp)
    )


def unigram_apply(
    docs: DataFrame,
    pieces: list[tuple[str, float]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize the corpus with a learned unigram vocabulary →
    (id, tokens array<string>, n_tokens BIGINT) — the shared
    apply_word_encoder frame, so empty/NULL-text rows and reassembly
    semantics are identical to bpe_apply."""
    return apply_word_encoder(
        docs, lambda w: unigram_encode_words(w, pieces), text_col, id_col
    )


def unigram_word_logprobs(
    words: DataFrame, pieces: list[tuple[str, float]]
) -> DataFrame:
    """(word, q_logp BIGINT): each word's log-probability under the
    unigram LM, marginalized over ALL segmentations (the forward pass
    Z — the true LM score, not the Viterbi lower bound), quantized at
    2^-20 so downstream per-document sums are exact integers. Unknown
    characters participate as penalized single-char pieces (min logp -
    10), so unseen corpora always score finitely."""
    ship_by_value(__name__)
    model, max_len, unk_logp = _model_geometry(pieces)

    def _score(batches):
        import pandas as pd

        for pdf in batches:
            out = [
                None
                if w is None
                else _quantize(
                    _py_forward_backward(w, model, max_len, unk_logp=unk_logp)[1]
                )
                for w in pdf["word"]
            ]
            pdf = pdf.copy()
            pdf["q_logp"] = pd.Series(out, dtype="object")
            yield pdf

    return words.mapInPandas(
        _score, schema="word string, q_logp long"
    )


def unigram_doc_qtotals(
    docs: DataFrame,
    pieces: list[tuple[str, float]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The shared LM-aggregation core: → (id, n_words BIGINT, q_total
    BIGINT) — exact quantized per-document log-prob totals under the
    frozen unigram model. The DP scores DISTINCT words only (Arrow-
    batched forward pass), joins back to the token stream, and sums the
    2^-20-quantized integer scores — exact and order-independent. ONE
    definition (r14 review: the perplexity operator, the
    quality_unigram_ppl_gate registry entry, and the v6 pipeline's LM
    branch all aggregate through here, so NULL-word/empty-doc/quantum
    semantics cannot drift between them). Documents with no tokens
    have no row — callers wanting the gate-friendly keep-empty
    convention left-join back (unigram_doc_perplexity does)."""
    toks = docs.select(
        F.col(id_col).alias("doc"), F.explode(tokens_col(text_col)).alias("word")
    )
    scored = unigram_word_logprobs(toks.select("word").distinct(), pieces)
    return (
        toks.join(scored, "word")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("q_logp").alias("q_total"),
        )
        .select(F.col("doc").alias(id_col), "n_words", "q_total")
    )


def unigram_doc_perplexity(
    docs: DataFrame,
    pieces: list[tuple[str, float]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-shaped LM quality signal (Wenzek et al., LREC'20: filter
    or bucket a crawl by language-model perplexity): → (id, n_words
    BIGINT, ppl DOUBLE) with ppl = exp(-mean per-word log-prob) under
    the learned unigram model — low ppl = fluent-under-the-model, high
    ppl = garbled/outlier text. Consumers compose the threshold as a
    plain filter stage, exactly like the classifier and Gopher gates.

    Scale/portability shape: the LM scores DISTINCT words only
    (Arrow-batched forward pass) and joins back to the token stream;
    per-document totals sum the QUANTIZED integer scores (exact,
    order-independent — the bigram_fluency idiom; the shared
    unigram_doc_qtotals core), and the only float op is one final exp
    per document. Empty/NULL-text rows are kept with n_words = 0 and
    NULL ppl, the gate-friendly convention."""
    per_doc = unigram_doc_qtotals(docs, pieces, text_col, id_col).select(
        F.col(id_col).alias("doc"), "n_words", "q_total"
    )
    ppl = F.exp(-(F.col("q_total").cast("double") / F.lit(float(_Q))) / F.col("n_words"))
    return (
        docs.select(F.col(id_col).alias("doc"))
        .join(per_doc, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("n_words", F.lit(0).cast("bigint")).alias("n_words"),
            ppl.alias("ppl"),
        )
    )


def _py_sample_segmentation(
    word: str,
    model: dict[str, float],
    max_len: int,
    alpha: float,
    unk_logp: float,
    seed: int,
) -> list[str]:
    """ONE segmentation drawn from p(seg) ∝ exp(alpha * score(seg)) by
    forward-filtering backward-sampling (Kudo ACL'18 §3.2 — subword
    regularization's sampling step; alpha is the smoothing temperature,
    alpha→inf recovers Viterbi). Randomness is md5-keyed on
    (seed, word, position) — engine-portable and partition-invariant,
    the same derandomization idiom as the MinHash seed family."""
    import hashlib

    L = len(word)
    neg = float("-inf")

    def _lp(piece: str) -> float | None:
        lp = model.get(piece)
        if lp is None and len(piece) == 1:
            return unk_logp
        return lp

    a = [neg] * (L + 1)
    a[0] = 0.0
    for i in range(1, L + 1):
        for j in range(max(0, i - max_len), i):
            lp = _lp(word[j:i])
            if lp is not None and a[j] != neg:
                a[i] = _logaddexp(a[i], a[j] + alpha * lp)
    out: list[str] = []
    i = L
    while i > 0:
        key = f"{seed}|{word}|{i}".encode()
        u = int(hashlib.md5(key).hexdigest()[:13], 16) / float(16**13)
        acc = 0.0
        chosen = None
        for j in range(max(0, i - max_len), i):
            lp = _lp(word[j:i])
            if lp is None or a[j] == neg:
                continue
            p = math.exp(a[j] + alpha * lp - a[i])
            acc += p
            if u < acc:
                chosen = j
                break
        if chosen is None:  # float-rounding tail: take the last valid j
            chosen = max(
                j
                for j in range(max(0, i - max_len), i)
                if _lp(word[j:i]) is not None and a[j] != neg
            )
        out.append(word[chosen:i])
        i = chosen
    out.reverse()
    return out


def unigram_sample_apply(
    docs: DataFrame,
    pieces: list[tuple[str, float]],
    alpha: float = 1.0,
    seed: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Subword-regularization tokenize: like unigram_apply but each
    word's segmentation is SAMPLED from the model (temperature
    ``alpha``) instead of Viterbi-decoded — the data-augmentation mode
    production unigram tokenizers ship. Draws are keyed on ``seed``:
    one seed = one deterministic corpus tokenization (all occurrences
    of a word share the draw — the distinct-word scale shape); vary
    seed per epoch for fresh draws, the epoch-shard pattern."""
    model, max_len, unk_logp = _model_geometry(pieces)
    return apply_word_encoder(
        docs,
        lambda words: map_array_column(
            words,
            "word",
            "toks",
            lambda w: _py_sample_segmentation(
                w, model, max_len, alpha, unk_logp, seed
            ),
        ),
        text_col,
        id_col,
    )


def pieces_to_frame(spark, pieces: list[tuple[str, float]]) -> DataFrame:
    """The learned vocabulary as a persistable relation
    (piece_id, piece, logp) — the merges_to_frame artifact contract;
    piece_id preserves the (count desc, piece asc) model order and
    float64 logp round-trips parquet DOUBLE bit-exactly."""
    return spark.createDataFrame(
        [(i, p, float(lp)) for i, (p, lp) in enumerate(pieces)],
        "piece_id bigint, piece string, logp double",
    )


def frame_to_pieces(df: DataFrame) -> list[tuple[str, float]]:
    """Inverse of :func:`pieces_to_frame` (driver-side artifact read,
    O(vocab) rows)."""
    return [
        (r.piece, float(r.logp))
        for r in df.select("piece_id", "piece", "logp")
        .orderBy("piece_id")
        .collect()
    ]
