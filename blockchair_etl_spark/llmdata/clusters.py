"""Duplicate-cluster resolution: connected components over near-dup pairs.

Pairwise dedup (minhash/jaccard/cosine) yields edges; choosing one
canonical document per *group* requires the transitive closure — A~B,
B~C puts A,C in one cluster even if A,C never paired. This is iterative
min-label propagation, the same driver-loop shape as the trace executor
(query/trace.py): no recursive SQL, no GraphFrames dependency.

Scale notes: each round is one neighbor-min join, shuffling on the
vertex key. Pointer doubling (L(v) ← L(L(v)), a second self-join per
round) halves label-chain length every round, so worst-case rounds =
O(log diameter), not O(diameter) — a 1M-long chain of near-dup pairs
converges in ~20 rounds instead of 1M. But on the COMMON near-dup
shape — near-clique clusters of diameter 2–4 — plain propagation
already converges in ≤3 rounds and the hop join is pure tax, so
doubling is adaptive: it engages only from round ``doubling_after``
onward, once the component is demonstrably deeper than a near-clique.
Labels are localCheckpointed per round to keep lineage O(1); the
convergence count rides the checkpoint job itself via the Observation
API (an ``observe`` node over the carried ``__chg`` flag), so each
round is exactly one action and no separate count job.

Small-graph fast path: near-dup edge sets are usually tiny relative to
the corpus that produced them (a 100 TB corpus with a 1% dup rate and
near-clique clusters yields millions of edges, not billions), and the
iterative loop's per-round cost on a small graph is pure scheduling
tax — each round is ~4 shuffle stages regardless of data size. So when
the materialized edge count is at or under ``local_finish_edges``, the
components are resolved exactly in ONE executor-side task: a
min-rooted union-find over the edge list via ``mapInPandas`` on a
single partition — the standard "finish small graphs locally" step of
MapReduce CC algorithms (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14). The gate is a measured bound, not a
guess: the count runs on the persisted edge relation the loop's first
round would have materialized anyway, so the big-graph path does no
extra work beyond reading one cached count.

Failure recovery at cluster scale: the edge set and each round's label
table live as ``localCheckpoint`` blocks — lineage-truncated,
executor-local, UNREPLICATED. That is the right local/batch trade (the
blocks are written once and re-read per round with no lineage
re-planning), but it means an executor loss mid-loop fails the job
where a persist-backed loop would recompute; Spark then retries the
whole query from the parquet inputs, which is correct (every step here
is deterministic) but repays all completed rounds. Deployments where
mid-job executor loss is routine should either run the loop over a
RELIABLE checkpoint (``spark.sparkContext.setCheckpointDir`` on
HDFS/object storage + ``DataFrame.checkpoint`` — same barrier
semantics, blocks survive executor death at the cost of a
write-through per round) or accept the retry-from-source fallback;
there is no silent-wrong-result mode either way, which is why the
cheaper local checkpoint is the default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.types import StructField, StructType

from ..caching import release_local_checkpoint, tracked_checkpoint_release


def _local_label_components(edges: DataFrame) -> DataFrame:
    """Exact min-label components of a SMALL edge list in one task.

    Single-partition ``mapInPandas`` union-find (executor-side, not a
    driver collect). Attaching the larger root under the smaller at
    every union keeps each tree rooted at its component's minimum id,
    so ``find(v)`` is bit-identical to the iterative loop's converged
    label. Input must fit one task comfortably — callers gate on edge
    count before choosing this path."""
    id_type = edges.schema["u"].dataType
    out_schema = StructType(
        [
            StructField("doc", id_type, True),
            StructField("cluster_id", id_type, True),
        ]
    )

    def finish(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
                parent.setdefault(u, u)
                parent.setdefault(v, v)
                ru, rv = find(u), find(v)
                if ru != rv:
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru  # min stays the root
        if parent:
            yield pd.DataFrame(
                {
                    "doc": list(parent),
                    "cluster_id": [find(x) for x in parent],
                }
            )

    return edges.repartition(1).mapInPandas(finish, schema=out_schema)


def connected_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    doubling_after: int = 2,
    salt: int | None = None,
    local_finish_edges: int | None = 2_000_000,
    contract_first: bool = True,
) -> DataFrame:
    """→ (doc, cluster_id) for every vertex in ≥1 pair; cluster_id is
    the minimum member id (deterministic canonical representative).

    ``doubling_after``: number of plain min-propagation rounds before
    the pointer-doubling hop join engages (0 = always double, as the
    pre-adaptive version did). The default 2 keeps the common
    near-clique case hop-free while retaining the O(log diameter)
    worst-case round bound for deep components.

    ``local_finish_edges``: if the distinct symmetric edge count is at
    or under this bound, skip the iterative loop and resolve components
    with the single-task union-find (:func:`_local_label_components`)
    — exact same output, no per-round scheduling cost. ``None``
    disables the gate (always iterate; tests use this to exercise the
    distributed path on small fixtures). ``salt`` is irrelevant on the
    local path (no join to skew).

    ``contract_first`` (big-graph path only): run ONE neighborhood-min
    contraction round before iterating — map every vertex to
    ``min(self ∪ neighbors)``, re-express edges between the mapped
    labels, drop the (now-internal) self-loops, and iterate on the
    contracted graph, composing the mapping back at the end. On the
    near-clique components near-dup pair generation produces, the
    contraction collapses each clique to its minimum in one pass, so
    every subsequent round shuffles a FAR smaller edge set — the loop
    otherwise re-shuffles the full edge list every round, which is the
    dominant cost at billions of edges. Worst case (a monotone chain)
    the contracted graph shrinks by only O(1) and the pre-pass costs
    roughly two loop rounds; the O(log diameter) doubling bound is
    unchanged. Bit-identical output (the component minimum maps to
    itself, so it survives contraction as the root).

    Measured (local[32], median-of-3, distributed path forced): 2000
    30-cliques (870k pairs) 3.02 → 2.30 s (−24% — and the per-round
    shuffle volume, the cost that dominates at cluster scale, drops to
    near zero after the pre-pass); 300 400-chains 8.27 → 11.99 s (+45%
    — the pre-pass costs two full-edge passes and a chain's O(1)
    shrink can't recoup them). The default stays True because dup
    graphs from near-dup pair generation are clique-shaped; callers
    clustering long-path graphs (e.g. sessionized traces) should pass
    ``contract_first=False``.

    ``salt``: spread the per-round neighbor-min join over this many
    salt buckets (operators/skew.salted_join) for POWER-LAW dup graphs
    — a hub vertex with millions of neighbors otherwise pins every
    edge row sharing its key to one shuffle partition each round. The
    label side is replicated salt×, so reserve this for graphs where
    the hub skew is measured (AQE's runtime skew split covers mild
    cases); results are bit-identical to the unsalted form.

    Convergence is required: if min-label propagation has not reached a
    fixpoint within ``max_iterations`` (a component whose diameter
    exceeds the bound — e.g. a long chain of near-dup pairs), the labels
    would silently be wrong, so we raise instead of returning them."""
    from ..caching import tracked_persist
    from ..operators.skew import salted_join

    fwd = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    edges = fwd.union(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # ONE action materializes the distinct edge set AND reads its count
    # (r17, guide §1.2/§2.4): the count rides the eager localCheckpoint
    # via the Observation API — the same fuse the per-round convergence
    # count already uses — replacing the previous persist + counting
    # action + separate checkpoint action (the pair-generation subtree
    # ran under the count and the cache was then re-read to build the
    # checkpoint; two jobs and a duplicate block copy for the same
    # bytes). Checkpoint blocks back both paths: the local finish's
    # returned plan reads them directly (reclaimed by the
    # ContextCleaner once the plan is GC'd, as before), and the
    # iterative loop re-reads them per round exactly as it re-read the
    # old cache. The non-convergence raise releases them explicitly —
    # the job the old tracked-persist backstop did.
    obs = Observation()
    edges = (
        edges.distinct()
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_edges = int(obs.get["n"])

    if local_finish_edges is not None and n_edges <= local_finish_edges:
        return _local_label_components(edges)

    mapping = None
    if contract_first:
        # neighborhood-min contraction: L(v) = min(v, min(N(v))). Every
        # vertex appears on the u side (edges are symmetric), so one
        # groupBy covers the whole vertex set. Edges re-expressed over
        # labels connect the same components; self-loops (intra-clique
        # edges) vanish, which is where the shrink comes from.
        mapping = tracked_persist(
            edges.groupBy("u")
            .agg(F.min("v").alias("m"))
            .select(
                F.col("u").alias("vertex"),
                F.least(F.col("u"), F.col("m")).alias("label"),
            )
        )
        contracted = (
            edges.join(
                mapping.select(
                    F.col("vertex").alias("u"), F.col("label").alias("lu")
                ),
                "u",
            )
            .join(
                mapping.select(
                    F.col("vertex").alias("v"), F.col("label").alias("lv")
                ),
                "v",
            )
            .select(F.col("lu").alias("u"), F.col("lv").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # the raw edge checkpoint stays alive until the loop's first
        # action materializes the contracted relation; released
        # explicitly after the loop (or by the non-convergence raise)
        raw_edges = edges
        edges = tracked_persist(contracted)

    labels = edges.select(F.col("u").alias("vertex")).distinct().select(
        "vertex", F.col("vertex").alias("label")
    )
    converged = False
    # superseded round checkpoints are released explicitly:
    # DataFrame.unpersist never frees localCheckpoint blocks (measured
    # r12 — caching.release_local_checkpoint), so without this every
    # round pinned a label-table copy until JVM GC. The FINAL round's
    # checkpoint backs the returned plan and stays (one table per
    # invocation, reclaimed by GC once the caller drops the frame).
    prev_ckpt: DataFrame | None = None
    for it in range(max_iterations):
        if salt:
            joined = salted_join(
                edges,
                labels.select(F.col("vertex").alias("v"), "label"),
                on=["v"],
                salt=salt,
            )
        else:
            joined = edges.join(labels, edges.v == labels.vertex)
        neighbor_min = joined.groupBy(F.col("u").alias("vertex")).agg(
            F.min("label").alias("nbr_label")
        )
        cand = labels.join(neighbor_min, "vertex", "left").select(
            "vertex",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
            F.coalesce(F.col("nbr_label") < F.col("label"), F.lit(False)).alias(
                "__chg"
            ),
        )
        if it >= doubling_after:
            # Pointer doubling: labels are vertex ids, so every label
            # value is itself a row in `cand` — replace L(v) with
            # L(L(v)). Min labels only ever decrease, so the looked-up
            # label is <= ours.
            hop = cand.select(
                F.col("vertex").alias("lv"), F.col("label").alias("llabel")
            )
            stepped = cand.join(hop, cand.label == hop.lv, "left").select(
                cand.vertex,
                F.coalesce(hop.llabel, cand.label).alias("label"),
                (
                    cand["__chg"]
                    | F.coalesce(hop.llabel < cand.label, F.lit(False))
                ).alias("__chg"),
            )
        else:
            stepped = cand
        # Convergence count rides the checkpoint job: the observe node
        # sums __chg while the blocks materialize — one action/round.
        obs = Observation()
        new_labels = stepped.observe(
            obs, F.sum(F.col("__chg").cast("long")).alias("changed")
        ).localCheckpoint(eager=True)
        changed = obs.get["changed"]
        if prev_ckpt is not None:
            release_local_checkpoint(prev_ckpt)
        prev_ckpt = new_labels
        labels = new_labels.drop("__chg")
        if not changed:
            converged = True
            break
    if mapping is not None:
        edges.unpersist()  # the tracked-persisted contracted relation
    else:
        release_local_checkpoint(edges)
    if not converged:
        if mapping is not None:
            release_local_checkpoint(raw_edges)
        raise RuntimeError(
            f"connected_clusters did not converge within {max_iterations} "
            "rounds; raise max_iterations (rounds needed = O(log diameter) "
            "once pointer doubling engages after round "
            f"{doubling_after})"
        )
    if mapping is not None:
        # compose the contraction mapping with the converged roots of
        # the contracted graph; labels whose edges fully collapsed in
        # the pre-pass are their own component minimum (coalesce)
        #
        # raw_edges backs `mapping`'s lineage, and the RETURNED
        # mapping.join(...) is lazy: an eager release here would leave
        # a window where a lost/evicted mapping cache partition
        # recomputes into freed checkpoint blocks and fails with
        # CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (r17 advice). Defer to the
        # tracked registry instead — the blocks outlive the caller's
        # terminal action and free on the next release_tracked(), the
        # same contract mapping's own persist has.
        tracked_checkpoint_release(raw_edges, label="connected_clusters raw_edges")
        roots = labels.select(
            F.col("vertex").alias("__lbl"), F.col("label").alias("__root")
        )
        return (
            mapping.join(roots, mapping.label == roots.__lbl, "left")
            .select(
                mapping.vertex.alias("doc"),
                F.coalesce(F.col("__root"), mapping.label).alias("cluster_id"),
            )
        )
    return labels.select(F.col("vertex").alias("doc"), F.col("label").alias("cluster_id"))


def incremental_connected_clusters(
    assignments: DataFrame | None,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    **cc_kwargs,
) -> DataFrame:
    """Daily-ingest maintenance of the duplicate-cluster assignment:
    fold TODAY'S near-dup pairs into YESTERDAY'S converged (doc,
    cluster_id) relation and return the updated assignment — without
    ever revisiting the historical pair set.

    Why it is exact: a converged assignment is its own STAR-EDGE
    certificate. Every doc—cluster_id row is an edge to the component's
    minimum member, so components over (star(clusters(E_hist)) ∪ E_new)
    equal components over (E_hist ∪ E_new) — same partition of vertices,
    same minimum per component, hence bit-identical min-id labels. The
    daily loop therefore carries O(|docs in any cluster|) star edges
    instead of the unbounded pair history: the scale difference between
    "all docs ever deduped" and "all pairs ever emitted" (quadratic in
    dup-group size). New edges that bridge two existing clusters merge
    them correctly — both stars re-label to the joint minimum.

    Fixed point on replay: if ``new_pairs`` is already inside the
    assignment's transitive closure (an at-least-once re-delivery), the
    output equals ``assignments`` row-for-row, so a replayed day
    leaves the assignment unchanged.

    ``assignments`` None (or empty) bootstraps: plain
    connected_clusters over the batch. Unlike the append-only signature
    stores, the assignment relation is REWRITTEN per cycle (cluster ids
    can change when clusters merge) — it is O(docs)."""
    edges = new_pairs.select(F.col(id_a), F.col(id_b))
    if assignments is not None:
        star = assignments.select(
            F.col("doc").alias(id_a), F.col("cluster_id").alias(id_b)
        )
        edges = edges.unionByName(star)
    return connected_clusters(edges, id_a=id_a, id_b=id_b, **cc_kwargs)
