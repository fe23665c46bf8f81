"""Error bounds of the approximate aggregation variants."""

import pytest
from pyspark.sql import functions as F

from blockchair_etl_spark.io.sources import load_table
from blockchair_etl_spark.operators.approx import approx_distinct, approx_quantiles


def test_approx_count_distinct_within_rsd(spark):
    df = spark.range(100_000).select((F.col("id") % 34_567).alias("x"))
    exact = 34_567
    approx = df.agg(approx_distinct("x", rsd=0.02).alias("n")).head()["n"]
    assert abs(approx - exact) / exact < 0.05  # 2% rsd → 5% is a safe gate


def test_approx_quantiles_rank_error(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    probs = [0.5, 0.9, 0.99]
    approx = li.agg(
        approx_quantiles("l_extendedprice", probs, accuracy=10_000).alias("q")
    ).head()["q"]
    n = li.count()
    vals = [r["l_extendedprice"] for r in li.select("l_extendedprice").collect()]
    vals.sort()
    for p, a in zip(probs, approx):
        # rank error ≤ n/accuracy (plus discreteness slack)
        rank = vals.index(a) if a in vals else min(
            range(len(vals)), key=lambda i: abs(vals[i] - a)
        )
        assert abs(rank - p * n) <= n / 10_000 + 2


def test_kmv_sketch_accuracy_and_degeneracy(spark, sf_dir):
    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.operators.approx import kmv_distinct

    li = load_table(spark, sf_dir, "lineitem")
    row = kmv_distinct(li, "l_partkey", k=64).first()
    true = li.select("l_partkey").distinct().count()
    assert row.n_taken == 64
    # k=64 has ~12.7% stderr; the fixture's realized error is deterministic
    assert abs(row.distinct_estimate - true) / true < 0.35
    # cardinality below k degenerates to the exact count
    row2 = kmv_distinct(li, "l_linestatus", k=64).first()
    assert row2.n_taken == row2.distinct_estimate == 2
    # the merge: the sketches of two halves merge into the sketch of
    # the whole, and merging a sketch with itself changes nothing
    from blockchair_etl_spark.operators.approx import kmv_mins, kmv_union

    halves = [
        kmv_mins(li.filter(F.col("l_orderkey") % 2 == i), "l_partkey", k=64)
        for i in (0, 1)
    ]
    assert kmv_union(halves, k=64).first() == row
    whole = kmv_mins(li, "l_partkey", k=64)
    assert kmv_union([whole, whole], k=64).first() == row


def test_cms_never_undercounts_and_merges(spark, sf_dir):
    from blockchair_etl_spark.operators.approx import cms_build, cms_estimate, cms_merge

    ev = load_table(spark, sf_dir, "events").select("user_id")
    true_counts = {
        r.user_id: r.cnt
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    sketch = cms_build(ev, "user_id", width=256)
    # sketch state is fixed: at most depth × width cells
    assert sketch.count() <= 4 * 256
    est = {
        r.user_id: r.est_count
        for r in cms_estimate(sketch, ev.distinct(), "user_id", width=256).collect()
    }
    assert set(est) == set(true_counts)
    n_total = sum(true_counts.values())
    for k, true in true_counts.items():
        assert est[k] >= true  # CMS never under-counts
        # generous epsilon bound: e/width of stream length per row
        assert est[k] - true <= 3 * n_total / 256 + 1

    # mergeability: union-of-halves sketch == whole-stream sketch
    half_a = ev.filter(F.col("user_id") % 2 == 0)
    half_b = ev.filter(F.col("user_id") % 2 == 1)
    merged = cms_merge(
        cms_build(half_a, "user_id", width=256), cms_build(half_b, "user_id", width=256)
    )
    whole = {(r.row_id, r.col_id): r.cnt for r in sketch.collect()}
    got = {(r.row_id, r.col_id): r.cnt for r in merged.collect()}
    assert got == whole


def test_cms_estimate_absent_and_negative_keys(spark):
    from blockchair_etl_spark.operators.approx import cms_build, cms_estimate

    # tiny stream so most of the 4×64 cells stay untouched (sparse
    # sketch relation): a probed key addressing an absent cell must
    # return est_count 0, not vanish from the output
    stream = spark.range(5).select(F.col("id").alias("k"))
    sketch = cms_build(stream, "k", width=64)
    probes = spark.range(-3, 1000, 97).select(F.col("id").alias("k"))
    est = {r.k: r.est_count for r in cms_estimate(sketch, probes, "k", width=64).collect()}
    assert set(est) == set(range(-3, 1000, 97))  # no key dropped
    assert all(v >= 0 for v in est.values())
    # negative keys address valid non-negative columns (pmod) and keys
    # far from the stream mostly hit empty cells → exact-zero estimates
    assert est[-3] == 0 or est[-3] >= 0
    zeroes = sum(1 for k, v in est.items() if k > 4 and v == 0)
    assert zeroes >= 1


def test_histogram_quantiles_within_bin_width_of_exact(spark, sf_dir):
    from blockchair_etl_spark.operators.approx import histogram_quantiles

    import math

    ev = load_table(spark, sf_dir, "events")
    got = {r.event_type: r for r in histogram_quantiles(ev, "value", "event_type").collect()}
    by_type: dict = {}
    for r in ev.select("event_type", "value").collect():
        by_type.setdefault(r.event_type, []).append(r.value)
    for et, vals in by_type.items():
        vals.sort()
        r = got[et]
        assert r.n == len(vals)
        for pct in (50, 90, 99):
            # contract: estimate is the bin FLOOR of the ceil(q·n)-th
            # order statistic (not the interpolated percentile)
            order_stat = vals[(len(vals) * pct + 99) // 100 - 1]
            est = getattr(r, f"p{pct}")
            assert est <= order_stat + 1e-9
            assert order_stat - est < 0.125 + 1e-9
