"""Bounded-depth iterative graph traversal (multi-hop fund tracing).

Re-expresses the reference's recursive-CTE trace
(`transaction_tracing/app.py:338-375`; worked example
`transaction_tracing/README.md:24-57`) as a driver-side loop of frontier
joins, exactly equivalent to the bounded-depth recursion —

    seed:  rows with source_address = X               (hop 1)
    step:  frontier ⋈ edges ON frontier.dst = edges.src  (hop h+1)
    total: UNION ALL of all hops

Spark 4 also plans ``WITH RECURSIVE`` natively (the
``trace_recursive_cte`` registry entry is that twin). The loop stays the
production path because its guard is per hop: a frontier's row count is
checked against ``max_frontier_rows`` before the next hop is built, while
the recursive plan offers only the session-wide
``spark.sql.cteRecursionRowLimit`` over the whole result.

Faithful semantic details:

- Hop-bounded, NOT visited-set-bounded: cycles within the bound are
  traversed again, and path multiplicity is preserved (UNION ALL, no
  dedup) — matching the reference CTE row-for-row.
- Degradation contract: the reference retries at max_hops=1 when the
  warehouse reports recursive-join OOM (`app.py:380-383`);
  :func:`trace_funds_with_fallback` reproduces that.

Scale design: a trace of H hops runs at most H actions. Each frontier
but the last is materialized by an eager ``localCheckpoint``, which also
truncates its lineage, and is counted on that same pass through
``DataFrame.observe`` — the count feeds the row guard and stops the loop
at the first empty frontier, since every later hop would be empty too.
The edge set is never shuffled or cached up front: the frontier is a few
rows, so the planner broadcasts it against a plain edge scan whenever the
edges carry size statistics, as a parquet scan does. The union of all
hops is checkpointed once more and the frontier checkpoints are then
released, so a trace leaves one checkpoint behind.

On the dashboard's day-size marts the edge scan is one partition (the
size-gated read-back of ``io.sinks.materialize``), so the hop joins and
``analytics.trace_from_address``'s per-transaction context aggregate
plan with no exchange, one job fewer per trace than over a partitioned
mart.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Observation, functions as F

from ..caching import release_local_checkpoint

_OUT_COLS = ["src", "dst", "tx_hash", "tx_time"]


class TraceBudgetExceeded(RuntimeError):
    """Raised when a hop's frontier exceeds the configured row budget."""


def trace_funds(
    edges: DataFrame,
    source,
    max_hops: int = 1,
    max_frontier_rows: int | None = None,
) -> DataFrame:
    """Trace flows outward from ``source`` for up to ``max_hops`` hops.

    ``edges`` must have columns (src, dst, tx_hash, tx_time); the result
    adds a leading ``hop`` column (1-based), like the reference CTE's
    hop counter.
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")

    # Re-alias the edge columns so none keeps the qualifier of a view
    # it passed through: a checkpoint matches attributes by qualifier,
    # and a filter's inferred constraints carry none (a mart's bare
    # pass-through column failed with "key not found").
    edges = edges.select(*[F.col(c).alias(c) for c in _OUT_COLS])
    frontier = edges.filter(F.col("src") == F.lit(source)).select(
        F.lit(1).alias("hop"), *_OUT_COLS
    )
    done: list[DataFrame] = []  # materialized frontiers, hop 1 first
    for hop in range(2, max_hops + 1):
        # one action checkpoints the frontier and counts it; read the
        # count only after it returns (Observation.get blocks until then)
        rows = Observation()
        frontier = frontier.observe(rows, F.count(F.lit(1)).alias("n")).localCheckpoint(
            eager=True
        )
        n = rows.get["n"]
        done.append(frontier)
        if max_frontier_rows is not None and n > max_frontier_rows:
            # nothing is returned on this path: free every checkpoint
            for df in done:
                release_local_checkpoint(df)
            raise TraceBudgetExceeded(
                f"hop {hop - 1} frontier has {n} rows > budget {max_frontier_rows}"
            )
        if n == 0:
            frontier = None
            break
        # Path multiplicity preserved: one output row per (path, edge) pair.
        parents = frontier.select(F.col("dst").alias("parent_dst"))
        frontier = edges.join(parents, F.col("src") == F.col("parent_dst")).select(
            F.lit(hop).alias("hop"), *_OUT_COLS
        )

    parts = done if frontier is None else [*done, frontier]
    if len(parts) == 1:
        # one hop, or an empty first hop: nothing left to union
        return parts[0]
    acc = reduce(DataFrame.unionByName, parts).localCheckpoint(eager=True)
    # DataFrame.unpersist never frees checkpoint blocks
    # (caching.release_local_checkpoint); acc holds its own copy now
    for df in done:
        release_local_checkpoint(df)
    return acc


def trace_funds_with_fallback(
    edges: DataFrame,
    source,
    max_hops: int,
    max_frontier_rows: int = 5_000_000,
) -> tuple[DataFrame, int]:
    """Trace with the reference's OOM degradation contract
    (`app.py:380-383`): if the requested depth blows the per-hop budget,
    re-run at max_hops=1. Returns (result, effective_hops)."""
    try:
        return (
            trace_funds(edges, source, max_hops, max_frontier_rows=max_frontier_rows),
            max_hops,
        )
    except TraceBudgetExceeded:
        return trace_funds(edges, source, max_hops=1), 1
