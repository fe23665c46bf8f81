"""Property-based tests (hypothesis) for the engine's pure algebras:
the widening partial order, varchar tiering, name sanitation, and the
exact-decimal summation contract."""

from decimal import Decimal

from hypothesis import HealthCheck, given, settings, strategies as st

from blockchair_etl_spark.schema.inference import (
    ColumnType,
    SchemaSkip,
    apply_ratchet,
    sanitize_column_name,
    varchar_tier,
    VARCHAR_TIERS,
)

kinds = st.sampled_from(["integer", "float", "boolean", "date", "timestamp"])
col_types = st.one_of(
    kinds.map(lambda k: ColumnType(k)),
    st.sampled_from(VARCHAR_TIERS).map(lambda n: ColumnType("varchar", n)),
)


@given(col_types)
def test_widens_irreflexive(t):
    assert t.widens(t) is False


@given(col_types, col_types, col_types)
def test_widens_transitive(a, b, c):
    # b widens a, c widens b ⇒ c widens a (strict order transitivity)
    if b.widens(a) is True and c.widens(b) is True:
        assert c.widens(a) is True


@given(col_types, col_types)
def test_widens_antisymmetric(a, b):
    if a != b:
        assert not (a.widens(b) is True and b.widens(a) is True)


@given(st.integers(min_value=0, max_value=10**7))
def test_varchar_tier_covers(n):
    t = varchar_tier(n)
    assert t in VARCHAR_TIERS
    assert t >= n or t == VARCHAR_TIERS[-1]
    # minimality: no smaller tier suffices
    smaller = [x for x in VARCHAR_TIERS if x < t]
    assert all(x < n for x in smaller)


@given(st.text(max_size=30), st.integers(min_value=0, max_value=99))
def test_sanitize_idempotent_and_valid(name, pos):
    s = sanitize_column_name(name, pos)
    assert s == sanitize_column_name(s, pos) or s.startswith("COL_")
    assert s[0].isalpha() or s.startswith("COL_")
    assert all(c.isalnum() or c == "_" for c in s)


@given(
    st.lists(
        st.tuples(st.sampled_from("ABCD"), col_types), min_size=1, max_size=4,
        unique_by=lambda t: t[0],
    ),
    st.lists(
        st.tuples(st.sampled_from("ABCD"), col_types), min_size=1, max_size=4,
        unique_by=lambda t: t[0],
    ),
)
def test_ratchet_never_narrows(new, old):
    try:
        accepted = apply_ratchet(new, old)
    except SchemaSkip:
        return
    # accepted schema is never narrower than old on any common column
    old_d, acc_d = dict(old), dict(accepted)
    for col in set(old_d) & set(acc_d):
        assert acc_d[col].widens(old_d[col]) in (True, False)  # never None


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.decimals(
            min_value=Decimal("-99999.99"),
            max_value=Decimal("99999.99"),
            places=2,
        ),
        min_size=1,
        max_size=200,
    )
)
def test_exact_sum_matches_decimal_arithmetic(spark, values):
    from blockchair_etl_spark.macros import exact_sum

    df = spark.createDataFrame([(float(v),) for v in values], ["x"])
    got = df.agg(exact_sum("x", 2).alias("s")).head()["s"]
    # doubles of 2dp values round-trip exactly through DECIMAL(18,2)
    want = float(sum(Decimal(str(float(v))).quantize(Decimal("0.01")) for v in values))
    assert got == want


# ---------------------------------------------------------------------------
# Portable-hash contract: the CMS/bloom sketches claim bit-identical
# behavior across engines because their addressing is pure int64
# arithmetic. Property-check that claim: Python, DuckDB, and Spark must
# compute identical positions for arbitrary keys.
# ---------------------------------------------------------------------------


def _py_pos(k: int, a: int, b: int, p: int, m: int) -> int:
    # Python % is already non-negative for positive modulus — i.e. pmod
    # semantics, matching the Spark-side F.pmod addressing
    return ((a * (k % p) + b) % p) % m


@given(
    st.lists(
        st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=50
    )
)
@settings(max_examples=30, deadline=None)
def test_sketch_hash_python_duckdb_agree(keys):
    import duckdb

    from blockchair_etl_spark.operators.approx import CMS_PARAMS, CMS_PRIME

    con = duckdb.connect()
    for a, b in CMS_PARAMS:
        # CAST AS BIGINT mirrors the registry oracles: without it DuckDB
        # types small literals INT32 and the hash arithmetic overflows —
        # exactly the portability trap the cast exists to close. The
        # ((k % p) + p) % p wrap is DuckDB's pmod spelling (its % keeps
        # the dividend's sign); a*pmod+b >= 0, so outer mods need none.
        got = con.execute(
            "SELECT ((%d * (((CAST(k AS BIGINT) %% %d) + %d) %% %d) + %d) %% %d) %% 256 "
            "FROM (SELECT UNNEST(?) AS k)"
            % (a, CMS_PRIME, CMS_PRIME, CMS_PRIME, b, CMS_PRIME),
            [keys],
        ).fetchall()
        want = [_py_pos(k, a, b, CMS_PRIME, 256) for k in keys]
        assert [r[0] for r in got] == want


def test_sketch_hash_spark_matches_python(spark):
    import random

    from pyspark.sql import functions as F

    from blockchair_etl_spark.operators.approx import CMS_PARAMS, CMS_PRIME, _cms_col

    rng = random.Random(7)
    keys = [rng.randrange(-(2**62), 2**62) for _ in range(1000)]
    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    cols = [
        _cms_col(F.col("k"), a, b, 256).alias(f"c{i}")
        for i, (a, b) in enumerate(CMS_PARAMS)
    ]
    rows = {r.k: r for r in df.select("k", *cols).collect()}
    for k in keys:
        for i, (a, b) in enumerate(CMS_PARAMS):
            assert rows[k][f"c{i}"] == _py_pos(k, a, b, CMS_PRIME, 256)


# ---------------------------------------------------------------------------
# Round-6 selection operators: budget-selection and split-leakage
# invariants over arbitrary corpora.
# ---------------------------------------------------------------------------


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),  # score
            st.integers(min_value=0, max_value=40),      # n words
        ),
        min_size=1,
        max_size=60,
    )
)
def test_quality_budget_select_invariants(spark, rows):
    """(1) selected docs' better-ranked token mass stays under budget;
    (2) selection is a PREFIX of the (score DESC, id ASC) ranking —
    if a doc is selected, every better-ranked doc is too."""
    from blockchair_etl_spark.llmdata.sampling import quality_budget_select

    data = [
        (i, " ".join(f"w{j}" for j in range(nw)), score)
        for i, (score, nw) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "doc_id bigint, text string, score bigint")
    out = sorted(
        quality_budget_select(df, score_col="score", budget_den=2).collect(),
        key=lambda r: (-r.score, r.doc_id),
    )
    total = sum(nw for _, nw in rows)
    budget = total // 2
    for r in out:
        assert r.cum_before < budget
    # prefix property against the full ranking
    ranking = sorted(
        ((score, i, nw) for i, (score, nw) in enumerate(rows)),
        key=lambda t: (-t[0], t[1]),
    )
    selected_ids = [r.doc_id for r in out]
    assert selected_ids == [i for _, i, _ in ranking[: len(selected_ids)]]


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(whitelist_categories=("Ll", "Nd"), max_codepoint=122),
            max_size=12,
        ),
        min_size=1,
        max_size=40,
    )
)
def test_leakage_safe_split_never_splits_equal_content(spark, texts):
    """For ANY corpus (including heavy duplication and empty strings),
    equal normalized content always lands in one split."""
    from pyspark.sql import functions as F

    from blockchair_etl_spark.llmdata.sampling import leakage_safe_split

    data = [(i, t) for i, t in enumerate(texts)]
    # duplicate every doc once under a different id
    data += [(1_000 + i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(data, "doc_id bigint, text string")
    out = leakage_safe_split(df)
    assert out.count() == len(data)
    bad = (
        out.join(df, "doc_id")
        .groupBy(F.regexp_replace(F.lower("text"), r"\s+", " ").alias("t"))
        .agg(F.count_distinct("split").alias("ns"))
        .filter("ns > 1")
        .count()
    )
    assert bad == 0


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.integers(0, 12), min_size=0, max_size=20),
        min_size=2,
        max_size=6,
    )
)
def test_containment_matches_python_sets(spark, docs_tokens):
    """For random token lists: every emitted containment equals the
    Python-set value |Sa ∩ Sb| / |Sa| over distinct 2-gram shingles,
    jaccard <= containment, and containment ∈ (0, 1]."""
    from blockchair_etl_spark.llmdata.dedup import ngram_containment_pairs

    rows = [
        (i, " ".join(f"t{v}" for v in toks)) for i, toks in enumerate(docs_tokens)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.id_src, r.id_dst): (r.n_common, r.containment)
        for r in ngram_containment_pairs(df, n=2, threshold=0.0).collect()
    }

    def sset(toks):
        return {
            " ".join(f"t{v}" for v in toks[i : i + 2])
            for i in range(len(toks) - 1)
        }

    shingles = {i: sset(t) for i, t in enumerate(docs_tokens)}
    for (src, dst), (n_common, cont) in got.items():
        sa, sb = shingles[src], shingles[dst]
        inter = len(sa & sb)
        assert inter == n_common and inter > 0
        assert cont == inter / len(sa)
        assert 0.0 < cont <= 1.0
        jac = inter / len(sa | sb)
        assert jac <= cont + 1e-12
    # completeness: every overlapping ordered pair appears
    for i in shingles:
        for j in shingles:
            if i != j and shingles[i] & shingles[j]:
                assert (i, j) in got


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.integers(0, 6), min_size=0, max_size=12),
        min_size=1,
        max_size=5,
    )
)
def test_simhash_core_matches_python_reference(spark, docs_tokens):
    """The one-shuffle SimHash core (r8: per-bit sums as aggregate
    columns over the occurrence stream) must equal the md5 reference
    model bit-for-bit on arbitrary token multisets, including repeated
    tokens (frequency weighting) and empty docs (no row)."""
    import hashlib
    from collections import Counter

    from blockchair_etl_spark.llmdata.dedup import simhash_fingerprints

    rows = [
        (i, " ".join(f"t{v}" for v in toks)) for i, toks in enumerate(docs_tokens)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc: r.simhash for r in simhash_fingerprints(df, bits=32).collect()}

    exp = {}
    for i, toks in enumerate(docs_tokens):
        words = [f"t{v}" for v in toks]
        if not words:
            continue
        acc = [0] * 32
        for w, freq in Counter(words).items():
            hexd = hashlib.md5(w.encode()).hexdigest()
            for j in range(32):
                nib = int(hexd[j // 4], 16)
                acc[j] += freq if (nib >> (j % 4)) & 1 else -freq
        exp[i] = sum(1 << j for j in range(32) if acc[j] >= 0)
    assert got == exp


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 40)),
        min_size=0,
        max_size=60,
    ),
    st.integers(1, 3),
)
def test_grouped_kmv_merge_lossless(spark, rows, n_parts):
    """For random (group, key) multisets split arbitrarily into parts:
    merging the parts' per-group min-k sketches equals the per-group
    min-k sketch of the whole — the lossless-union property that makes
    grouped KMV a proper distributed sketch — and per-group estimates
    off the merge equal the one-shot operator (exact below k)."""
    from pyspark.sql import functions as F

    from blockchair_etl_spark.operators.approx import (
        kmv_distinct_grouped,
        kmv_estimate_grouped,
        kmv_merge_mins_grouped,
        kmv_mins_grouped,
    )

    k = 4
    df = spark.createDataFrame(
        [(i, g, v) for i, (g, v) in enumerate(rows)],
        "row_id bigint, g string, user_id bigint",
    )
    whole = {(r.g, r.hv) for r in kmv_mins_grouped(df, "g", "user_id", k=k).collect()}
    parts = [
        kmv_mins_grouped(
            df.filter((F.col("row_id") % n_parts) == i), "g", "user_id", k=k
        )
        for i in range(n_parts)
    ]
    merged_df = kmv_merge_mins_grouped(parts, k=k)
    merged = {(r.g, r.hv) for r in merged_df.collect()}
    assert merged == whole
    # python model: per group, the k smallest distinct hashes
    import hashlib

    model: dict[str, set[int]] = {}
    for g, v in rows:
        model.setdefault(g, set()).add(
            int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        )
    want = {
        (g, hv) for g, hvs in model.items() for hv in sorted(hvs)[:k]
    }
    assert whole == want
    est = {
        r.g: (r.n_taken, r.distinct_estimate)
        for r in kmv_estimate_grouped(merged_df, "g", k=k).collect()
    }
    one_shot = {
        r.g: (r.n_taken, r.distinct_estimate)
        for r in kmv_distinct_grouped(df, "g", "user_id", k=k).collect()
    }
    assert est == one_shot
    for g, hvs in model.items():
        if len(hvs) < k:
            assert est[g] == (len(hvs), float(len(hvs)))  # exact below k


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(0, 40), min_size=0, max_size=30),
    st.lists(st.integers(0, 40), min_size=0, max_size=30),
)
def test_theta_algebra_matches_python_model(spark, xs, ys):
    """For random value sets at a k small enough to saturate often:
    the flat Theta-sketch ops (intersect / a-not-b / jaccard, r17's
    strict hv < theta convention) match a pure-python reference of the
    rule EXACTLY — counts, theta, and the one-multiply-one-divide
    estimates — and the below-theta census partition law
    n_union = n_common + n_only_a + n_only_b holds on every draw
    (empty and sub-k sets included)."""
    import hashlib

    from blockchair_etl_spark.operators.approx import (
        kmv_a_not_b,
        kmv_intersect,
        kmv_jaccard,
        kmv_mins,
    )

    k, space = 4, 1 << 60

    def hset(vals):
        return {
            int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
            for v in set(vals)
        }

    ha, hb = hset(xs), hset(ys)
    ma, mb = sorted(ha)[:k], sorted(hb)[:k]
    theta = min(
        ma[-1] if len(ma) >= k else space,
        mb[-1] if len(mb) >= k else space,
    )
    sa, sb = set(ma), set(mb)
    n_common = sum(1 for h in sa & sb if h < theta)
    n_only_a = sum(1 for h in sa - sb if h < theta)
    n_only_b = sum(1 for h in sb - sa if h < theta)

    def scaled(n):
        if theta >= space:
            return float(n)
        return float(n) * float(space) / float(theta)

    dfa = spark.createDataFrame([(v,) for v in xs], "v bigint")
    dfb = spark.createDataFrame([(v,) for v in ys], "v bigint")
    sk_a, sk_b = kmv_mins(dfa, "v", k=k), kmv_mins(dfb, "v", k=k)

    got_i = kmv_intersect(sk_a, sk_b, k=k).first()
    assert (got_i.n_common, got_i.theta) == (n_common, theta)
    assert got_i.intersection_estimate == scaled(n_common)

    got_d = kmv_a_not_b(sk_a, sk_b, k=k).first()
    assert (got_d.n_diff, got_d.theta) == (n_only_a, theta)
    assert got_d.difference_estimate == scaled(n_only_a)

    got_j = kmv_jaccard(sk_a, sk_b, k=k).first()
    n_union = n_common + n_only_a + n_only_b
    assert (got_j.n_common, got_j.n_union, got_j.theta) == (
        n_common, n_union, theta,
    )
    if n_union:
        assert got_j.jaccard_estimate == float(n_common) / float(n_union)
    else:
        assert got_j.jaccard_estimate is None


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 30)),
        min_size=0,
        max_size=50,
    ),
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "d"]), st.integers(0, 30)),
        min_size=0,
        max_size=50,
    ),
)
def test_grouped_theta_algebra_matches_python_model(spark, rows_a, rows_b):
    """kmv_set_stats_grouped vs a pure-python per-group strict-theta
    model on random grouped multisets (groups overlapping, one-sided,
    or absent; sub-k and saturated regimes mixed at k=4): every
    output row's theta, census split, estimates, and Jaccard match the
    model exactly, and the output covers exactly the groups present in
    either relation."""
    import hashlib

    from blockchair_etl_spark.operators.approx import (
        kmv_mins_grouped,
        kmv_set_stats_grouped,
    )

    k, space = 4, 1 << 60

    def model_mins(rows):
        by_g: dict[str, set[int]] = {}
        for g, v in rows:
            by_g.setdefault(g, set()).add(
                int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
            )
        return {g: sorted(hvs)[:k] for g, hvs in by_g.items()}

    ma, mb = model_mins(rows_a), model_mins(rows_b)

    def scaled(n, theta):
        if theta >= space:
            return float(n)
        return float(n) * float(space) / float(theta)

    want = {}
    for g in set(ma) | set(mb):
        a, b = ma.get(g, []), mb.get(g, [])
        theta = min(
            a[-1] if len(a) >= k else space,
            b[-1] if len(b) >= k else space,
        )
        sa, sb = set(a), set(b)
        n_c = sum(1 for h in sa & sb if h < theta)
        n_a = sum(1 for h in sa - sb if h < theta)
        n_b = sum(1 for h in sb - sa if h < theta)
        n_u = n_c + n_a + n_b
        want[g] = (
            theta, n_c, n_a, n_b,
            scaled(n_c, theta), scaled(n_a, theta), scaled(n_b, theta),
            float(n_c) / float(n_u) if n_u else None,
        )

    dfa = spark.createDataFrame(
        [(g, v) for g, v in rows_a], "g string, v bigint"
    ) if rows_a else spark.createDataFrame([], "g string, v bigint")
    dfb = spark.createDataFrame(
        [(g, v) for g, v in rows_b], "g string, v bigint"
    ) if rows_b else spark.createDataFrame([], "g string, v bigint")
    got = {
        r.g: (
            r.theta, r.n_common, r.n_only_a, r.n_only_b,
            r.intersection_estimate, r.a_not_b_estimate,
            r.b_not_a_estimate, r.jaccard_estimate,
        )
        for r in kmv_set_stats_grouped(
            kmv_mins_grouped(dfa, "g", "v", k=k),
            kmv_mins_grouped(dfb, "g", "v", k=k),
            k=k,
        ).collect()
    }
    assert got == want
