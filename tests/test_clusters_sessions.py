"""Connected-components clustering and the sketch operators' laws."""

import pytest
from pyspark.sql import functions as F

from blockchair_etl_spark.llmdata.clusters import connected_clusters


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_connected_clusters_vs_union_find(spark):
    # default gate routes this small fixture through the single-task
    # union-find; local_finish_edges=None forces the iterative loop —
    # both must match the Python reference exactly
    pairs = [(1, 2), (2, 3), (10, 11), (12, 11), (20, 21), (3, 10), (30, 31)]
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    want = _union_find(pairs)
    for gate in (2_000_000, None):
        got = {
            r.doc: r.cluster_id
            for r in connected_clusters(df, local_finish_edges=gate).collect()
        }
        assert got == want
        # chain 1-2-3-10-11-12 collapses to min id 1
        assert got[12] == 1 and got[11] == 1
        assert got[21] == 20 and got[31] == 30


def test_connected_clusters_long_chain_converges_in_log_rounds(spark):
    # A 200-edge chain has diameter 200; pointer doubling must converge
    # within O(log n) rounds — 12 would be far beyond plain min-label
    # propagation's reach (it needs ~200 rounds here). Gate disabled:
    # this test exists to exercise the distributed loop.
    pairs = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    got = {
        r.doc: r.cluster_id
        for r in connected_clusters(
            df, max_iterations=12, local_finish_edges=None
        ).collect()
    }
    assert set(got.values()) == {0}
    assert len(got) == 201


def test_connected_clusters_releases_round_checkpoints(spark):
    """r12: DataFrame.unpersist never frees localCheckpoint blocks
    (caching.release_local_checkpoint is the real release), so the CC
    loop must explicitly free each superseded round's label table —
    a multi-round run may pin at most the FINAL round's checkpoint
    (backing the returned plan), never one per round."""
    from blockchair_etl_spark.caching import release_tracked

    release_tracked(blocking=True)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    pairs = [(i, i + 1) for i in range(200)]  # diameter forces rounds
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    res = connected_clusters(df, max_iterations=12, local_finish_edges=None)
    assert res.count() == 201
    release_tracked(blocking=True)  # the loop's tracked edge persists
    leaked = [
        k
        for k in spark.sparkContext._jsc.getPersistentRDDs().keys()
        if k not in before
    ]
    assert len(leaked) <= 1, leaked  # only the final round's checkpoint


def test_connected_clusters_adaptive_doubling_parity(spark):
    # The hop join engages only after `doubling_after` plain rounds;
    # every setting must produce identical clusters. A near-clique
    # (star) converges inside the plain-propagation window, and the
    # always-double setting reproduces the pre-adaptive behavior.
    star = [(50, i) for i in range(40)]
    df = spark.createDataFrame(star, ["id_a", "id_b"])
    want = _union_find(star)
    for k in (0, 2, 100):
        got = {
            r.doc: r.cluster_id
            for r in connected_clusters(
                df, max_iterations=5, doubling_after=k, local_finish_edges=None
            ).collect()
        }
        assert got == want


def test_connected_clusters_salted_parity_on_hub_graph(spark):
    # power-law shape: one hub vertex with many neighbors plus a chain;
    # the salted neighbor-min join must produce bit-identical clusters
    hub = [(0, i) for i in range(1, 400)]
    chain = [(1000 + i, 1001 + i) for i in range(50)]
    pairs = spark.createDataFrame(hub + chain, ["id_a", "id_b"])
    plain = {
        (r.doc, r.cluster_id)
        for r in connected_clusters(pairs, local_finish_edges=None).collect()
    }
    salted = {
        (r.doc, r.cluster_id)
        for r in connected_clusters(
            pairs, salt=8, local_finish_edges=None
        ).collect()
    }
    assert plain == salted
    # salt composed with the raw (uncontracted) loop — the fourth
    # strategy combination, so salt x contract_first is fully covered
    salted_raw = {
        (r.doc, r.cluster_id)
        for r in connected_clusters(
            pairs, salt=8, local_finish_edges=None, contract_first=False
        ).collect()
    }
    assert plain == salted_raw
    # hub component collapses to min id 0; chain to 1000
    labels = dict(salted)
    assert labels[399] == 0 and labels[1050] == 1000


def test_connected_clusters_cycle(spark):
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], ["id_a", "id_b"])
    got = {r.doc: r.cluster_id for r in connected_clusters(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_connected_clusters_local_finish_parity(spark):
    # the size gate is a pure execution-strategy switch: the one-task
    # union-find and the pointer-doubling loop must be bit-identical on
    # a graph mixing cliques, a chain, a cycle and isolated-pair shapes
    import random

    rng = random.Random(7)
    pairs = [(i, i + 1) for i in range(60)]  # chain
    pairs += [(100 + a, 100 + b) for a in range(20) for b in range(a + 1, 20)]
    pairs += [(200, 201), (201, 202), (202, 200)]  # cycle
    pairs += [(rng.randrange(300, 340), rng.randrange(300, 340)) for _ in range(50)]
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    local = {
        (r.doc, r.cluster_id) for r in connected_clusters(df).collect()
    }
    want = set(_union_find(pairs).items())
    assert local == want
    # distributed loop, with and without the contraction pre-pass
    for contract in (True, False):
        got = {
            (r.doc, r.cluster_id)
            for r in connected_clusters(
                df, local_finish_edges=None, contract_first=contract
            ).collect()
        }
        assert got == want, f"contract_first={contract}"


def test_connected_clusters_random_graphs_all_strategies(spark):
    # seeded random graphs with mixed component shapes; every strategy
    # combination must match the union-find reference exactly
    import random

    rng = random.Random(90815)
    for trial in range(4):
        n = rng.randint(8, 40)
        m = rng.randint(n // 2, 2 * n)
        pairs = list(
            {
                tuple(sorted((rng.randrange(n), rng.randrange(n))))
                for _ in range(m)
            }
        )
        pairs = [(a, b) for a, b in pairs if a != b]
        if not pairs:
            continue
        df = spark.createDataFrame(pairs, ["id_a", "id_b"])
        want = set(_union_find(pairs).items())
        for contract in (True, False):
            got = {
                (r.doc, r.cluster_id)
                for r in connected_clusters(
                    df, local_finish_edges=None, contract_first=contract
                ).collect()
            }
            assert got == want, f"trial={trial} contract={contract}"


def test_connected_clusters_contraction_pure_cliques(spark):
    # two disjoint cliques contract to ZERO edges in the pre-pass; the
    # loop then runs on an empty graph and the compose step must still
    # label every original vertex with its clique minimum
    pairs = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    pairs += [(10 + a, 10 + b) for a in range(4) for b in range(a + 1, 4)]
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    got = {
        r.doc: r.cluster_id
        for r in connected_clusters(
            df, local_finish_edges=None, contract_first=True
        ).collect()
    }
    assert got == _union_find(pairs)
    assert got[4] == 0 and got[13] == 10


def test_incremental_cc_matches_one_shot_and_replays(spark):
    """incremental_connected_clusters over 3 daily batches — including
    an edge that MERGES two already-converged clusters — must equal the
    one-shot CC over the union of all pairs, bit-exactly, on BOTH
    execution paths; and re-folding an already-absorbed batch is a
    fixed point (row-identical assignment)."""
    from blockchair_etl_spark.llmdata.clusters import (
        incremental_connected_clusters,
    )

    b1 = [(1, 2), (2, 3), (10, 11), (20, 21)]
    b2 = [(12, 11), (30, 31), (3, 4)]
    b3 = [(4, 10), (21, 30)]  # merges {1..4}+{10..12} and {20,21}+{30,31}
    batches = [b1, b2, b3]
    want = _union_find(b1 + b2 + b3)

    for gate in (2_000_000, None):
        store = None
        for pairs in batches:
            df = spark.createDataFrame(pairs, ["id_a", "id_b"])
            store = incremental_connected_clusters(
                store, df, local_finish_edges=gate
            )
        got = {r.doc: r.cluster_id for r in store.collect()}
        assert got == want

        # fixed point: replaying the last batch over the converged
        # assignment changes nothing
        replay = incremental_connected_clusters(
            store,
            spark.createDataFrame(b3, ["id_a", "id_b"]),
            local_finish_edges=gate,
        )
        assert {r.doc: r.cluster_id for r in replay.collect()} == want


def test_kmv_estimate_grouped_input_contract(spark):
    """r14 advice: kmv_estimate_grouped names its INPUT group column
    (in_col, default 'g' per the kmv_mins_grouped contract) instead of
    silently requiring a literal 'g' — a renamed store column works via
    in_col= and a wrong relation fails with a pointed error, never by
    grouping a coincidental column. A NULL group value is a group of
    its own: rows with an unknown dimension still get a cardinality."""
    from blockchair_etl_spark.operators.approx import (
        kmv_distinct_grouped,
        kmv_estimate_grouped,
        kmv_mins_grouped,
    )

    df = spark.createDataFrame(
        [(i % 3, f"u{i}") for i in range(60)], "seg int, user string"
    )
    mins = kmv_mins_grouped(df, "seg", "user", k=8)
    base = {
        (r.segment, r.n_taken, r.kth_min_hash)
        for r in kmv_estimate_grouped(mins, "segment", k=8).collect()
    }
    renamed = mins.withColumnRenamed("g", "seg_key")
    via_in_col = {
        (r.segment, r.n_taken, r.kth_min_hash)
        for r in kmv_estimate_grouped(
            renamed, "segment", k=8, in_col="seg_key"
        ).collect()
    }
    assert base == via_in_col
    with pytest.raises(ValueError, match="grouped mins relation"):
        kmv_estimate_grouped(renamed, "segment", k=8)

    rows = [(i, None if i % 5 == 0 else f"g{i % 2}", i % 30) for i in range(120)]
    nulls = spark.createDataFrame(rows, "row_id bigint, g string, user_id bigint")
    est = {
        r.g: r.n_taken
        for r in kmv_distinct_grouped(nulls, "g", "user_id", k=8).collect()
    }
    # the NULL group holds the 6 distinct keys i % 30 with i % 5 == 0:
    # exact below k
    assert set(est) == {None, "g0", "g1"} and est[None] == 6


def _hll_ref_registers(keys, p=10):
    """Pure-python HLL reference: same 60-bit md5 hash, top-p bucket,
    first-1-bit rank over the remaining bits."""
    import hashlib

    w = 60 - p
    regs = {}
    for k in keys:
        hv = int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
        b = hv >> w
        rest = hv & ((1 << w) - 1)
        r = (w + 1) if rest == 0 else (w + 1 - rest.bit_length())
        regs[b] = max(regs.get(b, 0), r)
    return regs


def test_hll_registers_match_python_reference(spark):
    """hll_registers == the pure-python reference (bucket split,
    first-1-bit rank via minimal-binary-string length, max per bucket)
    — including duplicate keys changing nothing."""
    from blockchair_etl_spark.operators.approx import hll_registers

    rows = [(i, f"user_{i % 211}") for i in range(700)]
    df = spark.createDataFrame(rows, "row_id bigint, user_id string")
    got = {
        (r.bucket, r.r) for r in hll_registers(df, "user_id", p=10).collect()
    }
    want = set(_hll_ref_registers({f"user_{i}" for i in range(211)}).items())
    assert got == want and got


def test_bitlen_tree_boundaries(spark):
    """r18: the CASE-tree bit length (_bitlen_tree) must equal the
    minimal-binary-string length at every power-of-two boundary and the
    domain extremes — the exact values the HLL rank decode feeds it."""
    from pyspark.sql import functions as F

    from blockchair_etl_spark.operators.approx import _bitlen_tree

    w = 50
    vals = sorted(
        {1, (1 << w) - 1}
        | {1 << k for k in range(w - 1)}
        | {(1 << k) - 1 for k in range(1, w)}
        | {(1 << k) + 1 for k in range(w - 1)}
    )
    df = spark.createDataFrame([(v,) for v in vals], "x bigint")
    got = {r.x: r.bl for r in df.select("x", _bitlen_tree(F.col("x"), w).alias("bl")).collect()}
    for v in vals:
        assert got[v] == v.bit_length(), v


def test_hll_union_law_estimate_and_accuracy(spark):
    """Register-wise max of two half-corpus sketches equals the sketch
    of the union (the merge law, bit-exact); re-merging a sketch into
    itself is a no-op (idempotence); and the estimator is usable: in
    the raw regime (50k distinct >> 2.5m) raw_estimate lands within
    ~4 sigma of exact, while a small corpus flags use_linear_counting
    and the serving-side m*ln(m/V) correction from the emitted
    sufficient statistics lands within 5%."""
    import math

    from blockchair_etl_spark.operators.approx import (
        hll_distinct,
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    big = spark.range(50_000).selectExpr("concat('k', id) AS key")
    a = big.filter(F.col("key").substr(-1, 1).isin("0", "1", "2", "3", "4"))
    b = big.subtract(a)
    merged = hll_merge([hll_registers(a, "key"), hll_registers(b, "key")])
    whole = {(r.bucket, r.r) for r in hll_registers(big, "key").collect()}
    assert {(r.bucket, r.r) for r in merged.collect()} == whole
    remerged = hll_merge([hll_registers(big, "key"), hll_registers(big, "key")])
    assert {(r.bucket, r.r) for r in remerged.collect()} == whole

    est = hll_estimate(hll_registers(big, "key")).first()
    assert not est.use_linear_counting  # 50k >> 2.5 * 1024
    sigma = 1.04 / math.sqrt(1024)
    assert abs(est.raw_estimate - 50_000) / 50_000 < 4 * sigma

    small = hll_distinct(
        spark.range(300).selectExpr("concat('s', id) AS key"), "key"
    ).first()
    assert small.use_linear_counting and small.zero_registers > 0
    corrected = 1024 * math.log(1024 / small.zero_registers)
    assert abs(corrected - 300) / 300 < 0.05


def test_kmv_intersect_regimes(spark):
    """KMV intersection (the Theta-sketch set operation): with both
    sketches unsaturated the estimate IS the exact intersection count;
    in the saturated regime the estimate lands within ~4/sqrt(k) of
    exact; a mixed regime (one complete sketch) uses the saturated
    side's kth as theta. Also the algebra sanity: intersection +
    union estimates never invert containment."""
    from blockchair_etl_spark.operators.approx import (
        kmv_intersect,
        kmv_mins,
        kmv_union,
    )

    def seg(prefix, n):
        return spark.range(n).selectExpr(f"concat('{prefix}', id) AS key")

    # exact regime: |A|=30, |B|=25, overlap 10 (k=64 > both)
    a_small = seg("x", 30)
    b_small = seg("x", 10).unionByName(seg("y", 15))
    got = kmv_intersect(
        kmv_mins(a_small, "key"), kmv_mins(b_small, "key"), k=64
    ).first()
    assert got.n_common == 10 and got.intersection_estimate == 10.0
    assert got.theta == 1 << 60

    # saturated regime: |A|=|B|=5000, overlap 2000
    a_big = seg("a", 3000).unionByName(seg("c", 2000))
    b_big = seg("b", 3000).unionByName(seg("c", 2000))
    est = kmv_intersect(
        kmv_mins(a_big, "key", k=256),
        kmv_mins(b_big, "key", k=256),
        k=256,
    ).first()
    assert est.theta < (1 << 60)
    assert abs(est.intersection_estimate - 2000) / 2000 < 4 / (256 ** 0.5)
    # the union estimate of the same sketches covers the true union
    # within the same tolerance — no containment inversion
    uni = kmv_union(
        [kmv_mins(a_big, "key", k=256), kmv_mins(b_big, "key", k=256)], k=256
    ).first()
    assert est.intersection_estimate < uni.distinct_estimate

    # algebra self-consistency (r16 advice): est(A^A) on a SATURATED
    # sketch must equal kmv_distinct(A) exactly — the strict hv < theta
    # bound excludes the kth min itself, giving the family's
    # (k-1)*space/kth, not k*space/kth (a k/(k-1) upward bias).
    from blockchair_etl_spark.operators.approx import kmv_distinct

    a_mins = kmv_mins(a_big, "key", k=256)
    self_est = kmv_intersect(a_mins, a_mins, k=256).first()
    direct = kmv_distinct(a_big, "key", k=256).first()
    assert self_est.n_common == 255  # k-1 strictly below the kth min
    assert self_est.intersection_estimate == direct.distinct_estimate

    # mixed regime: complete A (40 keys), saturated B — theta = B's kth
    mixed = kmv_intersect(
        kmv_mins(seg("c", 40), "key", k=64),
        kmv_mins(b_big, "key", k=64),
        k=64,
    ).first()
    kth_b = kmv_mins(b_big, "key", k=64).agg(F.max("hv")).first()[0]
    assert mixed.theta == kth_b


def test_kmv_a_not_b_regimes(spark):
    """KMV a-not-b (the third Theta-sketch operation): exact when both
    sketches are unsaturated; within ~4/sqrt(k) of truth when
    saturated; and the strict-theta algebra is ADDITIVE —
    est(A∩B) + est(A\\B) equals est(A) bit-identically when
    theta = theta_a (both terms scale counts that partition A's
    census strictly below its own kth min). Degenerations:
    est(A\\A) = 0 and est(A\\∅) = est(A)."""
    from blockchair_etl_spark.operators.approx import (
        kmv_a_not_b,
        kmv_distinct,
        kmv_intersect,
        kmv_mins,
    )

    def seg(prefix, n):
        return spark.range(n).selectExpr(f"concat('{prefix}', id) AS key")

    # exact regime: |A|=30 (10 shared + 20 own), |B|=25 -> |A\B| = 20
    a_small = seg("x", 10).unionByName(seg("z", 20))
    b_small = seg("x", 10).unionByName(seg("y", 15))
    got = kmv_a_not_b(
        kmv_mins(a_small, "key"), kmv_mins(b_small, "key"), k=64
    ).first()
    assert got.n_diff == 20 and got.difference_estimate == 20.0
    assert got.theta == 1 << 60

    # saturated regime: |A|=5000 with 3000 exclusive, |B|=5000
    a_big = seg("a", 3000).unionByName(seg("c", 2000))
    b_big = seg("b", 3000).unionByName(seg("c", 2000))
    ma = kmv_mins(a_big, "key", k=256)
    mb = kmv_mins(b_big, "key", k=256)
    est = kmv_a_not_b(ma, mb, k=256).first()
    assert est.theta < (1 << 60)
    assert abs(est.difference_estimate - 3000) / 3000 < 4 / (256 ** 0.5)

    # additivity (strict-theta law): est(A^B) + est(A\B) == est(A)
    # exactly when theta comes from A's kth min. Here |A|=|B| with the
    # same hash family, so theta = min(kth_a, kth_b); restrict to the
    # self case to pin theta = theta_a deterministically.
    inter_self = kmv_intersect(ma, ma, k=256).first()
    diff_self = kmv_a_not_b(ma, ma, k=256).first()
    direct = kmv_distinct(a_big, "key", k=256).first()
    assert diff_self.n_diff == 0 and diff_self.difference_estimate == 0.0
    assert (
        inter_self.intersection_estimate + diff_self.difference_estimate
        == direct.distinct_estimate
    )
    # and against an unsaturated (complete, tiny) B: theta = theta_a,
    # the partition law holds with a nonempty intersection
    mb_small = kmv_mins(seg("c", 40), "key", k=256)
    inter_ab = kmv_intersect(ma, mb_small, k=256).first()
    diff_ab = kmv_a_not_b(ma, mb_small, k=256).first()
    assert inter_ab.theta == diff_ab.theta
    assert (
        inter_ab.intersection_estimate + diff_ab.difference_estimate
        == direct.distinct_estimate
    )


def test_kmv_set_stats_grouped_laws(spark):
    """kmv_set_stats_grouped: the flat Theta algebra holds GROUP-WISE.
    A group fed the same two segments as the flat ops reads the flat
    results exactly; a group present in only one relation reads that
    side's exact census (theta = space, never a null row); per-group
    additivity n_common + n_only_a + n_only_b partitions the below-θ
    union census."""
    from blockchair_etl_spark.operators.approx import (
        kmv_a_not_b,
        kmv_intersect,
        kmv_mins,
        kmv_mins_grouped,
        kmv_set_stats_grouped,
    )

    def seg(prefix, n):
        return spark.range(n).selectExpr(f"concat('{prefix}', id) AS key")

    # group "big": saturated segments (|A|=|B|=5000, overlap 2000);
    # group "solo_a": present only in A (40 keys); group "tiny": exact
    # regime on both sides (overlap 10)
    a_big = seg("a", 3000).unionByName(seg("c", 2000))
    b_big = seg("b", 3000).unionByName(seg("c", 2000))
    a_tiny = seg("x", 10).unionByName(seg("z", 20))
    b_tiny = seg("x", 10).unionByName(seg("y", 15))

    def with_g(df, g):
        return df.selectExpr(f"'{g}' AS g", "key")

    ga = (
        with_g(a_big, "big")
        .unionByName(with_g(seg("s", 40), "solo_a"))
        .unionByName(with_g(a_tiny, "tiny"))
    )
    gb = with_g(b_big, "big").unionByName(with_g(b_tiny, "tiny"))
    got = {
        r.g: r
        for r in kmv_set_stats_grouped(
            kmv_mins_grouped(ga, "g", "key", k=256),
            kmv_mins_grouped(gb, "g", "key", k=256),
            k=256,
        ).collect()
    }
    assert set(got) == {"big", "solo_a", "tiny"}

    # group-wise == flat on the same segments
    flat_i = kmv_intersect(
        kmv_mins(a_big, "key", k=256), kmv_mins(b_big, "key", k=256), k=256
    ).first()
    flat_d = kmv_a_not_b(
        kmv_mins(a_big, "key", k=256), kmv_mins(b_big, "key", k=256), k=256
    ).first()
    big = got["big"]
    assert (big.theta, big.n_common) == (flat_i.theta, flat_i.n_common)
    assert big.intersection_estimate == flat_i.intersection_estimate
    assert big.n_only_a == flat_d.n_diff
    assert big.a_not_b_estimate == flat_d.difference_estimate
    # per-group additivity of the below-theta census
    assert big.n_common + big.n_only_a + big.n_only_b > 0

    # one-sided group: exact census, theta = space, zero intersection
    solo = got["solo_a"]
    assert solo.theta == 1 << 60
    assert (solo.n_common, solo.n_only_a, solo.n_only_b) == (0, 40, 0)
    assert solo.a_not_b_estimate == 40.0
    assert solo.jaccard_estimate == 0.0

    # exact regime group: the true set sizes, exactly
    tiny = got["tiny"]
    assert (tiny.n_common, tiny.n_only_a, tiny.n_only_b) == (10, 20, 15)
    assert tiny.jaccard_estimate == 10.0 / 45.0


def test_kmv_set_stats_grouped_plan_gate(spark):
    """Plan gate for the grouped Theta algebra: the O(groups) stats
    relation joins back by BROADCAST (never a shuffle of the census
    side on a 100 TB-derived store), and there is no cartesian product
    anywhere in the plan — the census split is the single full-outer
    (g, hv) equi-join."""
    from blockchair_etl_spark.operators.approx import (
        kmv_mins_grouped,
        kmv_set_stats_grouped,
    )

    ga = spark.range(5000).selectExpr(
        "CAST(id % 3 AS STRING) AS g", "concat('u', id % 700) AS key"
    )
    gb = spark.range(5000).selectExpr(
        "CAST(id % 3 AS STRING) AS g", "concat('v', id % 700) AS key"
    )
    plan = (
        kmv_set_stats_grouped(
            kmv_mins_grouped(ga, "g", "key", k=64),
            kmv_mins_grouped(gb, "g", "key", k=64),
            k=64,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 1  # stats side broadcast
    assert "FullOuter" in plan  # the single census-split join shape


def test_kmv_jaccard_regimes_and_algebra_consistency(spark):
    """kmv_jaccard (the serving-side ratio of the Theta algebra):
    exact when both sketches are unsaturated; the θ/space inclusion
    factor cancels so the saturated form is a ratio of two exact
    counts over the below-θ hash sample. The strict-θ convention makes
    the three operations mutually consistent on the same inputs:
    n_union = n_common + n_diff(A,B) + n_diff(B,A). Degenerations:
    J(A,A) = 1.0 exactly, disjoint = 0.0."""
    from blockchair_etl_spark.operators.approx import (
        kmv_a_not_b,
        kmv_intersect,
        kmv_jaccard,
        kmv_mins,
    )

    def seg(prefix, n):
        return spark.range(n).selectExpr(f"concat('{prefix}', id) AS key")

    # exact regime: |A∩B|=10, |A∪B|=45 -> J = 10/45
    a_small = seg("x", 10).unionByName(seg("z", 20))
    b_small = seg("x", 10).unionByName(seg("y", 15))
    got = kmv_jaccard(
        kmv_mins(a_small, "key"), kmv_mins(b_small, "key"), k=64
    ).first()
    assert (got.n_common, got.n_union) == (10, 45)
    assert got.jaccard_estimate == 10.0 / 45.0

    # saturated regime: true J = 2000/8000 = 0.25
    a_big = seg("a", 3000).unionByName(seg("c", 2000))
    b_big = seg("b", 3000).unionByName(seg("c", 2000))
    ma = kmv_mins(a_big, "key", k=256)
    mb = kmv_mins(b_big, "key", k=256)
    j = kmv_jaccard(ma, mb, k=256).first()
    assert j.theta < (1 << 60)
    assert abs(j.jaccard_estimate - 0.25) < 4 / (256 ** 0.5)

    # mutual consistency on the SAME theta: the below-theta union
    # census partitions into common + a-only + b-only
    n_ab = kmv_a_not_b(ma, mb, k=256).first().n_diff
    n_ba = kmv_a_not_b(mb, ma, k=256).first().n_diff
    n_c = kmv_intersect(ma, mb, k=256).first().n_common
    assert j.n_union == n_c + n_ab + n_ba
    assert j.n_common == n_c

    # degenerations
    assert kmv_jaccard(ma, ma, k=256).first().jaccard_estimate == 1.0
    dis = kmv_jaccard(
        kmv_mins(seg("a", 3000), "key", k=256),
        kmv_mins(seg("b", 3000), "key", k=256),
        k=256,
    ).first()
    assert dis.jaccard_estimate == 0.0


def test_histogram_range_contract(spark):
    """r16 verdict stretch #7: the fixed-bin histogram sketch's state
    bound is O(groups × range × scale) and silently breaks if the
    production value range drifts past the scale the bins were sized
    for. With a declared value_range contract: (a) in-range data binds
    identically to the contract-less form — the guard is a pure
    when-branch, zero behavior change; (b) an out-of-range value fails
    the job LOUDLY in-plan with the offending value in the message;
    (c) NULLs still pass through (null comparisons fall to the
    otherwise branch, the pre-contract semantics)."""
    import pytest

    from blockchair_etl_spark.operators.approx import (
        histogram_bins,
        histogram_quantiles,
    )

    df = spark.createDataFrame(
        [("a", 1.5), ("a", 2.25), ("b", 0.0), ("b", 100.0), ("a", None)],
        "g string, value double",
    )
    def cells(b):
        return sorted(
            map(tuple, b.collect()),
            key=lambda t: (t[0], t[1] is None, t[1]),
        )

    free = cells(histogram_bins(df, "value", "g"))
    bound = cells(
        histogram_bins(df, "value", "g", value_range=(0.0, 100.0))
    )
    assert free == bound  # in-range: bit-identical cells, NULLs kept

    drifted = df.unionByName(
        spark.createDataFrame([("a", 1.0e12)], "g string, value double")
    )
    with pytest.raises(Exception, match="range contract"):
        histogram_bins(
            drifted, "value", "g", value_range=(0.0, 100.0)
        ).collect()
    # the composed quantile read enforces the same contract
    with pytest.raises(Exception, match="range contract"):
        histogram_quantiles(
            drifted, "value", "g", value_range=(0.0, 100.0)
        ).collect()
    # and without a declared contract the drift stays silent — the
    # documented reason to declare one in production
    assert histogram_bins(drifted, "value", "g").count() == len(free) + 1


def test_hll_intersect_estimate_inclusion_exclusion(spark):
    """r16 verdict stretch #6: serving-side HLL set-intersection by
    inclusion-exclusion over two register relations — |A∩B| ≈
    est(A)+est(B)−est(A∪B) with the union from the idempotent
    register-wise max merge. Exact degeneration: est(A∩A) = est(A)
    bit-identically (merge idempotence). The documented error caveat
    vs the KMV θ-based estimate: each readout errs ~1.04/√m of its OWN
    cardinality, so the difference's absolute error scales with |A∪B|
    — wider than kmv_intersect's intersection-scaled error on the same
    segments."""
    import math

    from blockchair_etl_spark.operators.approx import (
        hll_corrected_estimate,
        hll_estimate,
        hll_intersect_estimate,
        hll_registers,
        kmv_intersect,
        kmv_mins,
    )

    def seg(prefix, n):
        return spark.range(n).selectExpr(f"concat('{prefix}', id) AS key")

    a = seg("a", 3000).unionByName(seg("c", 2000))
    b = seg("b", 3000).unionByName(seg("c", 2000))
    ra, rb = hll_registers(a, "key"), hll_registers(b, "key")
    got = hll_intersect_estimate(ra, rb)
    m, sigma = 1024, 1.04 / math.sqrt(1024)
    assert abs(got["est_union"] - 8000) < 4 * sigma * 8000
    # inclusion-exclusion tolerance: three ~independent readouts, the
    # union term dominating — conservative 4·σ·√3·|A∪B| absolute band
    assert abs(got["intersection_estimate"] - 2000) < 4 * sigma * math.sqrt(3) * 8000

    # exact degeneration via merge idempotence: est(A∩A) == est(A)
    self_got = hll_intersect_estimate(ra, ra)
    ea = hll_corrected_estimate(hll_estimate(ra).first())
    assert self_got["est_union"] == ea
    assert self_got["intersection_estimate"] == ea

    # disjoint segments: clamped at zero, never negative
    d = hll_intersect_estimate(
        hll_registers(seg("a", 3000), "key"),
        hll_registers(seg("b", 3000), "key"),
    )
    assert 0.0 <= d["intersection_estimate"] < 4 * sigma * math.sqrt(3) * 6000

    # the caveat, measured on the same segments: the KMV θ-based
    # estimate stays inside ITS intersection-scaled band (4/√k of
    # |A∩B|), which is the tighter contract for small intersections
    kmv = kmv_intersect(
        kmv_mins(a, "key", k=256), kmv_mins(b, "key", k=256), k=256
    ).first()
    assert abs(kmv.intersection_estimate - 2000) / 2000 < 4 / (256 ** 0.5)


def test_hll_intersect_estimate_grouped(spark):
    """Grouped inclusion-exclusion over grouped HLL register stores:
    per-group estimates land in the compounded band; a group with the
    SAME stream on both sides reads est(A_g) bit-identically (merge
    idempotence); a group present on one side only reads exactly 0
    (est_a + 0 − est_a, not merely clamped)."""
    import math

    from blockchair_etl_spark.operators.approx import (
        hll_corrected_estimate,
        hll_estimate_grouped,
        hll_intersect_estimate_grouped,
        hll_registers_grouped,
    )

    def seg(g, prefix, n):
        return spark.range(n).selectExpr(
            f"'{g}' AS g", f"concat('{prefix}', id) AS key"
        )

    # group "both": |A|=|B|=5000, overlap 2000; group "same": identical
    # 4000-key stream on both sides; group "only_a": one-sided
    a = (
        seg("both", "a", 3000).unionByName(seg("both", "c", 2000))
        .unionByName(seg("same", "s", 4000))
        .unionByName(seg("only_a", "o", 3000))
    )
    b = seg("both", "b", 3000).unionByName(seg("both", "c", 2000)).unionByName(
        seg("same", "s", 4000)
    )
    ra = hll_registers_grouped(a, "g", "key")
    rb = hll_registers_grouped(b, "g", "key")
    got = hll_intersect_estimate_grouped(ra, rb)
    assert set(got) == {"both", "same", "only_a"}

    m, sigma = 1024, 1.04 / math.sqrt(1024)
    both = got["both"]
    assert abs(both["est_union"] - 8000) < 4 * sigma * 8000
    assert (
        abs(both["intersection_estimate"] - 2000)
        < 4 * sigma * math.sqrt(3) * 8000
    )

    same_direct = {
        r.g: hll_corrected_estimate(r)
        for r in hll_estimate_grouped(ra, "g").collect()
    }
    assert got["same"]["intersection_estimate"] == same_direct["same"]
    assert got["only_a"]["intersection_estimate"] == 0.0
    assert got["only_a"]["est_b"] == 0.0


def test_hll_registers_plan_shape(spark):
    """Plan gate: the register build is ONE map-side-combined hash
    aggregation — exactly one exchange, keyed on bucket, with a partial
    max upstream of it, so the shuffle carries at most 2^p rows per
    map task regardless of input size (the fixed-memory claim as a
    plan property, not just a row-count one)."""
    from blockchair_etl_spark.operators.approx import hll_registers

    df = spark.range(10_000).selectExpr("concat('u', id) AS key")
    plan = (
        hll_registers(df, "key", p=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1
    assert "HashAggregate" in plan
    # partial aggregation runs below the exchange: the first (deepest)
    # aggregate in the string is the FINAL one, so a partial_max must
    # also appear (Spark prints partial aggregates with partial_ fns)
    assert "partial_max" in plan


def test_hll_oracle_constant_drift_gate():
    """The sketch_hll_distinct oracle inlines the raw-estimate
    numerator as a literal (queryset._HLL_C); this gate pins it to the
    live _hll_constant so an alpha/precision change in the operator
    cannot silently diverge from the SQL the driver compares against
    (the unigram gate-vocab drift-guard pattern)."""
    from blockchair_etl_spark.operators.approx import _hll_constant
    from blockchair_etl_spark.queryset import _HLL_C

    assert _HLL_C == _hll_constant(10)
    assert repr(_hll_constant(10)) == "1.7013287633207432e+21"


def test_hll_grouped_matches_flat_slices(spark):
    """Grouped registers == per-group flat registers; grouped estimate
    carries the same row shape; a renamed register relation fails loud
    (the kmv_estimate_grouped in_col contract)."""
    from blockchair_etl_spark.operators.approx import (
        hll_estimate_grouped,
        hll_registers,
        hll_registers_grouped,
    )

    rows = [(i % 3, f"u{i % 97}") for i in range(500)]
    df = spark.createDataFrame(rows, "seg int, user_id string")
    grouped = hll_registers_grouped(df, "seg", "user_id")
    for seg in (0, 1, 2):
        flat = {
            (r.bucket, r.r)
            for r in hll_registers(
                df.filter(F.col("seg") == seg), "user_id"
            ).collect()
        }
        got = {
            (r.bucket, r.r)
            for r in grouped.filter(F.col("g") == seg).collect()
        }
        assert got == flat and got
    est = {r.segment: r for r in hll_estimate_grouped(grouped, "segment").collect()}
    assert set(est) == {0, 1, 2}
    assert all(e.m == 1024 and e.s_scaled > 0 for e in est.values())
    with pytest.raises(ValueError, match="grouped register relation"):
        hll_estimate_grouped(grouped.withColumnRenamed("g", "seg_key"), "segment")


def test_cms_grouped_matches_flat_slices(spark):
    """Grouped count-min == per-group flat count-min: for every group,
    the grouped probe of non-null keys reads what the flat probe reads
    off a sketch of that group's slice (the NULL keys the flat build
    counts and the grouped build drops address no probed cell); a
    renamed sketch relation is read through in_col= and fails loud
    without it."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from blockchair_etl_spark.operators.approx import (
        cms_build,
        cms_build_grouped,
        cms_estimate,
        cms_estimate_grouped,
    )

    rows = [(i % 3, None if i % 11 == 0 else (i * 7) % 41) for i in range(600)]
    df = spark.createDataFrame(rows, "seg int, user_id bigint")
    probes = spark.createDataFrame(
        [(s, u) for s in (0, 1, 2) for u in range(-2, 45)], "seg int, user_id bigint"
    )
    sketch = cms_build_grouped(df, "seg", "user_id", width=16)

    def grouped(sk, **kw):
        est = cms_estimate_grouped(sk, probes, "seg", "user_id", width=16, **kw)
        return {(r.seg, r.user_id): r.est_count for r in est.collect()}

    got = grouped(sketch)
    assert len(got) == 3 * 47
    flat = [
        cms_estimate(
            cms_build(df.filter(F.col("seg") == seg), "user_id", width=16),
            probes.filter(F.col("seg") == seg).select("user_id"),
            "user_id",
            width=16,
        ).select(F.lit(seg).alias("seg"), "user_id", "est_count")
        for seg in (0, 1, 2)
    ]
    want = reduce(DataFrame.unionByName, flat).collect()
    assert got == {(r.seg, r.user_id): r.est_count for r in want}
    renamed = sketch.withColumnRenamed("g", "seg_key")
    assert grouped(renamed, in_col="seg_key") == got
    with pytest.raises(ValueError, match="grouped sketch relation"):
        grouped(renamed)
