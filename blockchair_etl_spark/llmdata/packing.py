"""Sequence packing: assign documents to fixed-token-budget bins.

Pretraining pipelines concatenate documents into fixed-length training
sequences; the batch-side primitive is assigning each document a
(pack_id, offset) under a token budget. This is greedy CONTIGUOUS
packing by stable id order — the chunked formulation: documents
fill a bin until the cumulative count crosses the budget; a straddling
document belongs to the bin where it starts (token-level splitting of
the straddler happens downstream at tensorization). Deterministic,
windowed, and SQL-expressible — no first-fit-decreasing bin search,
which cannot be expressed as a bounded window and over-optimizes for a
few % packing efficiency at corpus scale.

Scale shape: a GLOBAL ordered window would serialize onto one task, so
packing runs per shard (hash of the id): Window.partitionBy(shard)
.orderBy(id). Shards pack independently — exactly how a multi-node
data loader shards anyway — and the window state per task is one
running sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .text import tokens_col


def assign_packs(
    docs: DataFrame,
    budget: int = 2048,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tokens_col: str | None = None,
) -> DataFrame:
    """→ (doc_id, shard, n_tokens, pack_id, pack_offset).

    pack_id is per-shard (global pack key = (shard, pack_id));
    pack_offset is the document's starting token position within its
    pack's budget window. ``n_tokens_col`` packs by a caller-supplied
    token currency (a learned-tokenizer count) instead of the
    whitespace heuristic over ``text_col``.
    """
    toks = (
        F.col(n_tokens_col).cast("bigint")
        if n_tokens_col
        else F.size(tokens_col(text_col)).cast("bigint")
    )
    shard = F.pmod(F.col(id_col), F.lit(n_shards)).cast("bigint")
    t = docs.select(
        F.col(id_col), shard.alias("shard"), toks.alias("n_tokens")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
    return t.withColumn("__cum", cum_before).select(
        id_col,
        "shard",
        "n_tokens",
        F.expr(f"__cum DIV {budget}").cast("bigint").alias("pack_id"),
        F.pmod(F.col("__cum"), F.lit(budget)).cast("bigint").alias("pack_offset"),
    )


def split_straddlers(
    packed: DataFrame,
    budget: int = 2048,
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-level chunk assignment for bin-crossing documents — the
    step assign_packs defers "downstream to tensorization", made
    explicit: each (doc, covered-bin) pair becomes one chunk row with
    the doc-relative token slice and its offset inside the bin.

    A document occupying global token span [cum, cum+n) within its
    shard covers bins first=cum div B .. last=(cum+n-1) div B; for bin
    b the chunk is the overlap of the span with [b·B, (b+1)·B). Pure
    integer arithmetic end to end. The explode emits exactly
    (1 + bins_crossed) rows per doc — linear, no window beyond the one
    assign_packs already ran.

    Invariants (tested): per-doc slice lengths sum to n_tokens; chunks
    tile each bin without overlap; every slice_len <= budget.

    Output: (doc_id, shard, pack_id, slice_start, slice_len,
    bin_offset)."""
    b = F.lit(budget).cast("bigint")
    cum = (F.col("pack_id") * b + F.col("pack_offset")).cast("bigint")
    rows = (
        packed.filter(F.col("n_tokens") > 0)
        .select(
            id_col,
            "shard",
            F.col("pack_id").cast("bigint").alias("__first"),
            cum.alias("__cum"),
            F.col("n_tokens").alias("__n"),
        )
        # integer div, not float division + cast: exact for any bigint
        .withColumn("__last", F.expr(f"(__cum + __n - 1) div {budget}"))
        .select(
            id_col,
            "shard",
            "__cum",
            "__n",
            F.explode(F.sequence(F.col("__first"), F.col("__last"))).alias(
                "pack_id"
            ),
        )
    )
    start_g = F.greatest(F.col("__cum"), F.col("pack_id") * b)
    end_g = F.least(F.col("__cum") + F.col("__n"), (F.col("pack_id") + 1) * b)
    return rows.select(
        id_col,
        "shard",
        "pack_id",
        (start_g - F.col("__cum")).cast("bigint").alias("slice_start"),
        (end_g - start_g).cast("bigint").alias("slice_len"),
        (start_g - F.col("pack_id") * b).cast("bigint").alias("bin_offset"),
    )
