"""PageRank fixed-point: structure, determinism, mass bounds; trace
budget degradation."""

import pytest
from pyspark.sql import functions as F

from blockchair_etl_spark.query import graph
from blockchair_etl_spark.query.graph import SCALE, pagerank_fixed_point
from blockchair_etl_spark.query.trace import (
    TraceBudgetExceeded,
    trace_funds,
    trace_funds_with_fallback,
)


def test_pagerank_star_center_wins(spark):
    # star: everyone points at 0 → 0 collects all damped mass
    edges = spark.createDataFrame([(i, 0) for i in range(1, 9)], ["src", "dst"])
    pr = {r.vertex: r.rank_s for r in pagerank_fixed_point(edges, iterations=3).collect()}
    assert pr[0] == max(pr.values())
    leaves = [pr[i] for i in range(1, 9)]
    assert len(set(leaves)) == 1  # symmetric leaves tie exactly
    # leaves keep only the base (0.15) mass: nothing points at them
    assert leaves[0] == SCALE * 15 // 100


def test_pagerank_vertex_persist_gate(spark, tmp_path, monkeypatch):
    """r18: the vertex-set persist is size-gated — local-scale inputs
    stay on the no-persist fast path (no extra InMemoryTableScan for
    the vertex relation), forcing the threshold down flips the persist
    on, and the ranks are bit-identical either way (a persist must
    never change results). Parquet-backed edges so the optimizer has a
    REAL size estimate (an unknown-stats relation — the Long.MaxValue
    sentinel — deliberately stays on the no-persist path)."""
    from blockchair_etl_spark.caching import release_tracked

    spark.createDataFrame(
        [(i, (i * 7 + 3) % 20) for i in range(40)], ["src", "dst"]
    ).write.mode("overwrite").parquet(str(tmp_path / "edges"))
    edges = spark.read.parquet(str(tmp_path / "edges"))

    def run():
        df = pagerank_fixed_point(edges, iterations=3)
        rows = {r.vertex: r.rank_s for r in df.collect()}
        plan = df._jdf.queryExecution().executedPlan().toString()
        release_tracked()
        return rows, plan.count("InMemoryTableScan")

    default_rows, default_inmem = run()
    monkeypatch.setattr(graph, "VERTEX_PERSIST_MIN_BYTES", 1)
    gated_rows, gated_inmem = run()
    # default path: only the edd persist caches (per-iteration joins);
    # gated path adds the vertex-relation cache on top
    assert gated_inmem > default_inmem
    assert gated_rows == default_rows


def test_pagerank_size_estimate_failure_warns_and_keeps_gate_off(
    spark, tmp_path, monkeypatch
):
    """When the JVM plan call behind the edge-size estimate fails, the
    vertex persist stays off even under a threshold that would turn it
    on, the ranks match the normal run, and the fallback warns."""
    from py4j.protocol import Py4JError

    import blockchair_etl_spark.caching as caching

    spark.createDataFrame(
        [(i, (i * 7 + 3) % 20) for i in range(40)], ["src", "dst"]
    ).write.mode("overwrite").parquet(str(tmp_path / "edges"))
    edges = spark.read.parquet(str(tmp_path / "edges"))

    def run():
        df = pagerank_fixed_point(edges, iterations=2)
        rows = {r.vertex: r.rank_s for r in df.collect()}
        plan = df._jdf.queryExecution().executedPlan().toString()
        caching.release_tracked()
        return rows, plan.count("InMemoryTableScan")

    want_rows, want_inmem = run()

    def broken_plan(df, stage="analyzed"):
        raise Py4JError("plan API unavailable")

    monkeypatch.setattr(caching, "jvm_plan", broken_plan)
    monkeypatch.setattr(graph, "VERTEX_PERSIST_MIN_BYTES", 1)
    with pytest.warns(RuntimeWarning, match="edge size estimate failed"):
        got_rows, got_inmem = run()
    assert got_rows == want_rows
    assert got_inmem == want_inmem


def test_pagerank_deterministic_and_bounded(spark):
    edges = spark.createDataFrame(
        [(i, (i * 7 + 3) % 20) for i in range(40)] + [(i % 20, (i * 3) % 20) for i in range(40)],
        ["src", "dst"],
    )
    a = {r.vertex: r.rank_s for r in pagerank_fixed_point(edges, iterations=4).collect()}
    b = {r.vertex: r.rank_s for r in pagerank_fixed_point(edges, iterations=4).collect()}
    assert a == b  # bit-identical across runs
    n = len(a)
    # total mass never exceeds n * SCALE (integer division only leaks)
    assert sum(a.values()) <= n * SCALE
    assert all(v >= SCALE * 15 // 100 for v in a.values())


def _fanout_edges(spark, fan: int = 40):
    """source 0 fans out to `fan` nodes; each of those fans out again —
    hop-2 frontier is fan² rows, a deterministic budget blower."""
    rows = [(0, i, f"t0_{i}", i) for i in range(1, fan + 1)]
    for i in range(1, fan + 1):
        rows += [
            (i, fan * i + j, f"t{i}_{j}", fan * i + j) for j in range(1, fan + 1)
        ]
    return spark.createDataFrame(rows, ["src", "dst", "tx_hash", "tx_time"])


def test_trace_budget_raises_at_documented_limit(spark):
    edges = _fanout_edges(spark)
    # hop-1 frontier is 40 rows; a 39-row budget must refuse hop 2
    with pytest.raises(TraceBudgetExceeded, match="budget"):
        trace_funds(edges, source=0, max_hops=2, max_frontier_rows=39)
    # a budget >= the frontier lets the same trace through
    out = trace_funds(edges, source=0, max_hops=2, max_frontier_rows=40)
    assert out.filter(F.col("hop") == 2).count() == 40 * 40


def test_trace_releases_frontier_checkpoints(spark):
    """r12: the per-hop frontier checkpoints must be released
    explicitly once the result's eager checkpoint holds the rows
    (DataFrame.unpersist never frees checkpoint blocks) — a 3-hop
    dashboard trace may leave
    only the ONE result checkpoint behind, not one block set per hop."""
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    edges = _fanout_edges(spark, fan=6)
    out = trace_funds(edges, source=0, max_hops=3)
    assert out.count() > 0
    leaked = [
        k
        for k in spark.sparkContext._jsc.getPersistentRDDs().keys()
        if k not in before
    ]
    assert len(leaked) <= 1, leaked  # only the result's own checkpoint


def _parquet_fanout(spark, tmp_path, fan: int = 6):
    """The fan-out edges as a parquet scan, so the optimizer has the
    size statistics the lake's tables have."""
    path = str(tmp_path / "fanout_edges")
    _fanout_edges(spark, fan=fan).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _trace_jobs(spark, group: str, **kw):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = trace_funds(**kw)
    finally:
        sc.setJobGroup("", "")
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_trace_runs_one_action_per_hop(spark, tmp_path):
    """A 3-hop trace materializes two frontiers and the union, each on
    one action: at most 5 jobs counting the broadcasts of the frontiers
    (9 when the edge set was shuffled and persisted up front). A source
    with no out-edges stops after its empty first hop: at most 2."""
    edges = _parquet_fanout(spark, tmp_path)
    out, jobs = _trace_jobs(
        spark, "trace-3hop", edges=edges, source=0, max_hops=3, max_frontier_rows=1000
    )
    assert len(jobs) <= 5, jobs
    assert out.count() == 6 + 36
    out, jobs = _trace_jobs(
        spark, "trace-no-out-edges", edges=edges, source=999, max_hops=3, max_frontier_rows=1000
    )
    assert len(jobs) <= 2, jobs
    assert out.count() == 0


def test_trace_runs_no_edge_shuffle_or_cache(spark, tmp_path):
    """No query the trace runs hash-partitions the edge set on src or
    reads it through the cache: the frontier is broadcast against a
    plain edge scan."""
    edges = _parquet_fanout(spark, tmp_path)
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def latest(n: int) -> list:
        # the store is sorted by execution id and drops its oldest
        # entries past spark.sql.ui.retainedExecutions, so read its tail
        bus.waitUntilEmpty()
        total = store.executionsCount()
        tail = store.executionsList(max(total - n, 0), n)
        return [tail.apply(i) for i in range(tail.size())]

    before = max((e.executionId() for e in latest(1)), default=-1)
    out = trace_funds(edges, source=0, max_hops=3, max_frontier_rows=1000)
    plans = [e.physicalPlanDescription() for e in latest(20) if e.executionId() > before]
    assert len(plans) >= 3  # two frontiers and the union
    plans.append(out._jdf.queryExecution().toString())
    for plan in plans:
        assert "hashpartitioning(src#" not in plan
        assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan


def _unrolled_trace(edges, source, max_hops: int):
    """The bounded recursion written out hop by hop, with no early stop."""
    cols = ["src", "dst", "tx_hash", "tx_time"]
    hop = edges.filter(F.col("src") == source).select(F.lit(1).alias("hop"), *cols)
    acc = hop
    for h in range(2, max_hops + 1):
        parents = hop.select(F.col("dst").alias("parent_dst"))
        hop = edges.join(parents, F.col("src") == F.col("parent_dst")).select(
            F.lit(h).alias("hop"), *cols
        )
        acc = acc.unionByName(hop)
    return acc


def test_trace_early_stop_matches_unrolled(spark):
    """Stopping at the first empty frontier changes nothing: source 1's
    hop 2 is empty, source 0's hop 3 is, and a source with no edges
    stops at hop 1; each equals the fully unrolled trace, rows and
    schema."""
    edges = _fanout_edges(spark, fan=6)
    for source, hops in ((1, 3), (0, 4), (999, 3)):
        got = trace_funds(edges, source=source, max_hops=hops, max_frontier_rows=1000)
        want = _unrolled_trace(edges, source, hops)
        assert got.schema == want.schema
        assert sorted(got.collect()) == sorted(want.collect()), (source, hops)


def test_trace_fallback_degrades_to_one_hop(spark):
    """The reference dashboard's OOM contract: a too-deep trace re-runs
    at depth 1 instead of failing (app.py:380-383 analog)."""
    edges = _fanout_edges(spark)
    df, hops = trace_funds_with_fallback(
        edges, source=0, max_hops=2, max_frontier_rows=39
    )
    assert hops == 1
    assert df.count() == 40 and df.agg(F.max("hop")).first()[0] == 1
    # within budget → the requested depth is honored
    df2, hops2 = trace_funds_with_fallback(
        edges, source=0, max_hops=2, max_frontier_rows=1000
    )
    assert hops2 == 2 and df2.count() == 40 + 40 * 40


def test_personalized_pagerank_mass_follows_seeds(spark):
    from blockchair_etl_spark.query.graph import SCALE, pagerank_fixed_point

    # two disconnected components: seeds live in the first
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 10)], "src bigint, dst bigint"
    )
    pr = {r.vertex: r.rank_s for r in pagerank_fixed_point(
        edges, iterations=3, personalization=[1]
    ).collect()}
    # the other component receives NO mass (teleport never lands there)
    assert pr[10] == 0 and pr[11] == 0
    # seed keeps restart mass; its cycle accumulates propagated mass
    assert pr[1] > 0 and pr[2] > 0 and pr[3] > 0
    # uniform variant ranks the second component non-zero
    uni = {r.vertex: r.rank_s for r in pagerank_fixed_point(
        edges, iterations=3
    ).collect()}
    assert uni[10] > 0 and uni[11] > 0
    # determinism: identical reruns bit-match
    again = {r.vertex: r.rank_s for r in pagerank_fixed_point(
        edges, iterations=3, personalization=[1]
    ).collect()}
    assert again == pr
