"""Bounded-iteration PageRank over an edge DataFrame.

The trace executor (query/trace.py) and connected components
(llmdata/clusters.py) cover reachability; PageRank adds the
importance-scoring member of the iterative-graph family — the shape a
fund-flow dashboard uses to rank addresses by inbound transfer mass
(reference surface: the recursive trace query
`transaction_tracing/app.py:338-375` walks the same edge relation).

Determinism: float PageRank is order-sensitive (double sums over
in-edges), so ranks here are FIXED-POINT BIGINTs scaled by 1e12.
Contributions divide with integer division and the damping factor is a
percentage applied as (85 * mass) div 100 — every step is exact int64
arithmetic, reproducible across engines, partitionings, and cluster
sizes, and therefore oracle-checkable (the registry entry unrolls the
same rounds in SQL). The deliberate cost: each division floors, so a
little rank mass leaks per hop (as it also does for dangling nodes in
the simplified formulation) — fine for ranking, documented here.

Scale shape per round: one join of edges against the rank relation
(shuffle on src), one hash-agg on dst, one left join back to the
vertex set. Edges+outdeg are computed once and persisted; the vertex
set's persist is SIZE-GATED (see pagerank_fixed_point — recompute wins
on small local scans, a cache wins once each re-derivation is a real
edge-table pass); rounds are O(E) with no driver-side state beyond the
loop counter.
"""

from __future__ import annotations

import warnings

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, functions as F

SCALE = 1_000_000_000_000  # rank 1.0 in fixed-point
# Edge-input size estimate from which pagerank_fixed_point persists the
# vertex set: the point where one cached pass clearly beats
# iterations+1 re-scans even with free cores.
VERTEX_PERSIST_MIN_BYTES = 256 * 1024 * 1024


def pagerank_fixed_point(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    src: str = "src",
    dst: str = "dst",
    personalization: list | None = None,
) -> DataFrame:
    """→ (vertex, rank_s BIGINT, rank DOUBLE) after ``iterations``
    synchronous rounds from a uniform init of SCALE (=1.0).

    ``personalization``: a (small, literal) vertex set restricting the
    teleport — init mass and the (1-d) restart term go ONLY to these
    vertices, giving rank-relative-to-the-seed-set (personalized
    PageRank, the "importance as seen from these addresses" query a
    fund-flow investigation runs). Same integer arithmetic, still
    bit-exact; the set enters the plan as an isin literal (broadcast by
    value), so no extra join."""
    ed = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    vertices = (
        ed.select(F.col("src").alias("vertex"))
        .union(ed.select(F.col("dst").alias("vertex")))
        .distinct()
    )
    # edd is re-joined every iteration of the (lazy) rank recurrence;
    # tracked_persist keeps the cache alive through the CALLER's action
    # (an eager unpersist here would land before any job runs, making
    # the cache a no-op and recomputing edd per iteration) and releases
    # it on the next harness/registry release_tracked() call.
    from ..caching import jvm_plan, tracked_persist

    # `vertices` is ALSO re-derived per use (the init projection plus
    # one left join per iteration — i+1 copies of the scan+distinct+
    # union chain; zero ReusedExchange, r17 plan audit). Persisting it
    # unconditionally LOSES locally — the duplicated subtrees run as
    # concurrent stages on idle cores over a ~2 MB scan while a
    # blocking cache write+read serializes (r17 interleaved A/B:
    # 1.16 s -> 2.20 s, rejected) — but at cluster scale each
    # re-derivation is a full edge-table scan + two shuffles. The
    # persist is therefore gated on the optimizer's size estimate of
    # the edge input (r18, verdict #2): local fixtures stay on the
    # fast no-persist path, anything past VERTEX_PERSIST_MIN_BYTES
    # caches the narrow vertex set once. Size estimation is
    # best-effort: if the JVM call fails the gate warns and stays off,
    # which only ever costs recompute, never correctness (persist does
    # not change results).
    try:
        est_bytes = int(jvm_plan(edges, "optimizedPlan").stats().sizeInBytes())
        if est_bytes >= (1 << 63) - 1:
            # Long.MaxValue is Spark's "no statistics" sentinel (e.g. a
            # LogicalRDD from createDataFrame) — treat unknown as small
            # rather than letting the sentinel force a persist
            est_bytes = 0
    except Py4JError as exc:
        warnings.warn(
            f"edge size estimate failed ({type(exc).__name__}: {exc}); "
            "the vertex persist stays off",
            RuntimeWarning,
            stacklevel=2,
        )
        est_bytes = 0
    if est_bytes >= VERTEX_PERSIST_MIN_BYTES:
        vertices = tracked_persist(vertices)

    deg = ed.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    edd = tracked_persist(ed.join(deg, "src"))
    base = SCALE * (100 - damping_pct) // 100

    if personalization is None:
        init_col = F.lit(SCALE).cast("bigint")
        base_col = F.lit(base).cast("bigint")
    else:
        in_set = F.col("vertex").isin(*personalization)
        init_col = F.when(in_set, F.lit(SCALE)).otherwise(F.lit(0)).cast("bigint")
        base_col = F.when(in_set, F.lit(base)).otherwise(F.lit(0)).cast("bigint")

    ranks = vertices.select("vertex", init_col.alias("rank_s"))
    for _ in range(iterations):
        contrib = (
            edd.join(ranks, edd.src == ranks.vertex)
            .select(
                F.col("dst").alias("vertex"),
                F.expr("rank_s div outdeg").alias("c"),
            )
            .groupBy("vertex")
            .agg(F.sum("c").alias("in_mass"))
        )
        ranks = vertices.join(contrib, "vertex", "left").select(
            "vertex",
            (
                base_col
                + F.expr(f"({damping_pct} * coalesce(in_mass, 0)) div 100")
            )
            .cast("bigint")
            .alias("rank_s"),
        )
    return ranks.select(
        "vertex",
        "rank_s",
        (F.col("rank_s").cast("double") / F.lit(float(SCALE))).alias("rank"),
    )
