"""Connected-components clustering and stateful-streaming sessionization."""

import datetime

import pytest
from pyspark.sql import functions as F

from blockchair_etl_spark.io.sources import load_table
from blockchair_etl_spark.llmdata.clusters import connected_clusters
from blockchair_etl_spark.queryset import QUERIES


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


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    from blockchair_etl_spark.streaming.sessionize import sessionize_stream

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    events_dir = str(tmp_path / "ev")
    ev.select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    ).write.parquet(events_dir)
    schema = spark.read.parquet(events_dir).schema

    stream = spark.readStream.schema(schema).parquet(events_dir)
    q = (
        sessionize_stream(stream, watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination(180)
    got = spark.read.parquet(str(tmp_path / "out"))

    # batch twin: sessions whose gap horizon precedes the final
    # watermark are exactly the ones the stream must have emitted
    batch = QUERIES["sessionize_events"].fn(spark, "/root/testdata/sf0.001")
    max_ts = ev.agg(F.max("ts")).head()[0]
    wm = max_ts - datetime.timedelta(hours=1)
    flushed = batch.filter(
        F.col("session_end") + F.expr("INTERVAL 30 MINUTE") < F.lit(wm)
    )
    got_keys = {
        (r.user_id, r.session_start, r.n_events) for r in got.collect()
    }
    want_keys = {
        (r.user_id, r.session_start, r.n_events) for r in flushed.collect()
    }
    assert want_keys, "fixture should contain flushed sessions"
    assert want_keys <= got_keys
    # nothing emitted twice
    assert got.count() == got.dropDuplicates(["user_id", "session_start"]).count()


def test_native_session_window_matches_batch_twin(spark, tmp_path):
    from blockchair_etl_spark.streaming.incremental import session_window_counts

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    events_dir = str(tmp_path / "ev_native")
    ev.select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    ).write.parquet(events_dir)
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    q = (
        session_window_counts(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out_native"))
        .option("checkpointLocation", str(tmp_path / "ckpt_native"))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination(180)
    got = spark.read.parquet(str(tmp_path / "out_native"))

    batch = QUERIES["sessionize_events"].fn(spark, "/root/testdata/sf0.001")
    max_ts = ev.agg(F.max("ts")).head()[0]
    wm = max_ts - datetime.timedelta(hours=1)
    # native session windows close at session_end + gap; append emits
    # those the final watermark passed
    flushed = batch.filter(
        F.col("session_end") + F.expr("INTERVAL 30 MINUTE") < F.lit(wm)
    )
    got_keys = {(r.user_id, r.session_start, r.n_events) for r in got.collect()}
    want_keys = {
        (r.user_id, r.session_start, r.n_events) for r in flushed.collect()
    }
    assert want_keys, "fixture should contain flushed sessions"
    # every batch-identified flushed session appears identically
    assert want_keys <= got_keys


def test_stream_interval_join_matches_batch_twin(spark, tmp_path):
    from blockchair_etl_spark.streaming.incremental import stream_interval_join

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    events_dir = str(tmp_path / "ev_join")
    ev.select(
        "event_id", "user_id", "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
    ).write.parquet(events_dir)
    schema = spark.read.parquet(events_dir).schema

    def side(event_type, id_alias, ts_alias):
        return (
            spark.readStream.schema(schema)
            .parquet(events_dir)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(id_alias),
                "user_id",
                F.col("ts").alias(ts_alias),
            )
        )

    joined = stream_interval_join(
        side("error", "error_id", "error_ts"),
        side("purchase", "purchase_id", "purchase_ts"),
        on="user_id",
        left_ts="error_ts",
        right_ts="purchase_ts",
        tolerance_secs=600,
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", str(tmp_path / "out_join"))
        .option("checkpointLocation", str(tmp_path / "ckpt_join"))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination(180)
    got = spark.read.parquet(str(tmp_path / "out_join"))

    batch = QUERIES["range_join_error_purchase"].fn(spark, "/root/testdata/sf0.001")
    got_pairs = {(r.error_id, r.purchase_id) for r in got.collect()}
    want_pairs = {(r.error_id, r.purchase_id) for r in batch.collect()}
    assert want_pairs, "fixture should contain error/purchase pairs"
    assert got_pairs == want_pairs


def test_stream_upsert_daily_idempotent(spark, tmp_path):
    from blockchair_etl_spark.streaming.incremental import stream_upsert_daily

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    events_dir = str(tmp_path / "ev_upsert")
    ev.select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    ).write.parquet(events_dir)
    schema = spark.read.parquet(events_dir).schema
    out_dir = str(tmp_path / "out_upsert")

    q = stream_upsert_daily(
        spark, events_dir, schema, str(tmp_path / "ckpt_upsert"), out_dir
    )
    q.awaitTermination(180)
    n_expected = spark.read.parquet(events_dir).count()
    first = spark.read.parquet(out_dir)
    assert first.count() == n_expected
    assert "date" in first.columns  # partitioned layout

    # replay with a FRESH checkpoint: the same days are overwritten, not
    # appended — the per-day idempotence contract
    q2 = stream_upsert_daily(
        spark, events_dir, schema, str(tmp_path / "ckpt_upsert2"), out_dir
    )
    q2.awaitTermination(180)
    assert spark.read.parquet(out_dir).count() == n_expected


def test_stream_dedup_matches_batch_distinct(spark, tmp_path):
    from blockchair_etl_spark.streaming.incremental import stream_dedup_events

    # event feed with in-window duplicate event_ids (upstream retries)
    rows = []
    for i in range(200):
        ts = f"2024-01-01 00:{i % 60:02d}:{i % 50:02d}"
        rows.append((i % 80, ts, float(i)))
        if i % 3 == 0:  # duplicate delivery of the same event
            rows.append((i % 80, ts, float(i)))
    df = spark.createDataFrame(rows, "event_id bigint, ts_s string, value double")
    df = df.select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    src = str(tmp_path / "dupe_events")
    df.repartition(4).write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    deduped = stream_dedup_events(stream, ["event_id"], watermark="2 hours")
    out = str(tmp_path / "dedup_out")
    ckpt = str(tmp_path / "dedup_ckpt")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    assert got.count() == df.select("event_id").distinct().count()
    assert got.groupBy("event_id").count().filter(F.col("count") > 1).count() == 0


def test_stream_static_enrichment_no_state(spark, tmp_path):
    from blockchair_etl_spark.streaming.incremental import stream_enrich_with_dim

    events = spark.createDataFrame(
        [(i, i % 5, f"2024-01-01 00:{i % 60:02d}:00") for i in range(120)],
        "event_id bigint, dim_key bigint, ts_s string",
    ).select("event_id", "dim_key", F.col("ts_s").cast("timestamp").alias("ts"))
    src = str(tmp_path / "enrich_events")
    events.write.parquet(src)
    dim = spark.createDataFrame(
        [(k, f"name-{k}") for k in range(5)], "dim_key bigint, dim_name string"
    )

    stream = spark.readStream.schema(events.schema).parquet(src)
    enriched = stream_enrich_with_dim(stream, dim, on="dim_key")
    out = str(tmp_path / "enrich_out")
    q = (
        enriched.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "enrich_ckpt"))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 120
    assert got.filter(F.col("dim_name").isNull()).count() == 0
    # batch twin produces the identical enrichment
    twin = events.join(dim, "dim_key")
    assert sorted((r.event_id, r.dim_name) for r in got.collect()) == sorted(
        (r.event_id, r.dim_name) for r in twin.collect()
    )


def test_stream_cms_maintain_equals_batch_sketch(spark, tmp_path):
    """The continuously-maintained sketch store after draining the
    stream must CELL-FOR-CELL equal cms_build over all events — the
    mergeability contract, batch vs stream."""
    from blockchair_etl_spark.operators.approx import cms_build
    from blockchair_etl_spark.streaming.incremental import stream_cms_maintain

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    events_dir = str(tmp_path / "ev_cms")
    # two files → at least one micro-batch each under availableNow
    ev.select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id"
    ).repartition(2).write.parquet(events_dir)
    schema = spark.read.parquet(events_dir).schema
    store = str(tmp_path / "cms_store")

    q = stream_cms_maintain(
        spark, events_dir, schema,
        checkpoint_dir=str(tmp_path / "ckpt_cms"), store_dir=store,
        key_col="user_id", width=64,
    )
    q.awaitTermination(180)

    got = {
        (r.row_id, r.col_id): r.cnt for r in spark.read.parquet(store).collect()
    }
    want = {
        (r.row_id, r.col_id): r.cnt
        for r in cms_build(
            ev.select(F.col("user_id").cast("bigint").alias("k")), "k", 64
        ).collect()
    }
    assert got == want


def test_stream_interval_join_left_outer_flushes_unmatched(spark, tmp_path):
    """Left-outer stream-stream interval join: unmatched left rows emit
    with null right columns once the watermark passes their match
    window. A far-future sentinel file (processed as its own later
    micro-batch) advances the watermark past all main data, so every
    unmatched main row must flush; the flushed set is compared
    pair-for-pair against the batch left join."""
    import glob
    import shutil

    from blockchair_etl_spark.streaming.incremental import stream_interval_join

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    base = ev.select(
        "event_id", "user_id", "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    max_ts = base.agg(F.max("ts")).head()[0]

    events_dir = tmp_path / "ev_outer"
    events_dir.mkdir()

    def _one_file(df, dest_name):
        stage = tmp_path / ("stage_" + dest_name)
        df.coalesce(1).write.parquet(str(stage))
        part = glob.glob(str(stage / "part-*.parquet"))[0]
        shutil.copy(part, str(events_dir / dest_name))

    # a_main sorts before b_late -> main batch first, sentinel second
    _one_file(base, "a_main.parquet")
    sentinel = spark.createDataFrame(
        [(999_999_999, -999, "error", max_ts)],
        "event_id bigint, user_id bigint, event_type string, ts timestamp",
    ).select("event_id", "user_id", "event_type", (F.col("ts") + F.expr("INTERVAL 30 DAYS")).alias("ts"))
    _one_file(sentinel.select("event_id", "user_id", "event_type", "ts"), "b_late.parquet")

    schema = spark.read.parquet(str(events_dir)).schema

    def side(event_type, id_alias, ts_alias):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(events_dir))
            .filter(F.col("event_type") == event_type)
            .select(F.col("event_id").alias(id_alias), "user_id", F.col("ts").alias(ts_alias))
        )

    joined = stream_interval_join(
        side("error", "error_id", "error_ts"),
        side("purchase", "purchase_id", "purchase_ts"),
        on="user_id", left_ts="error_ts", right_ts="purchase_ts",
        tolerance_secs=600, how="left_outer",
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", str(tmp_path / "out_outer"))
        .option("checkpointLocation", str(tmp_path / "ckpt_outer"))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination(240)
    got = spark.read.parquet(str(tmp_path / "out_outer")).filter(
        F.col("error_id") != 999_999_999  # drop the sentinel's own row
    )

    err = base.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", F.col("ts").alias("error_ts")
    )
    pur = base.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    twin = err.join(
        pur,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("error_ts") - F.expr("INTERVAL 600 SECONDS"))
        & (F.col("purchase_ts") <= F.col("error_ts") + F.expr("INTERVAL 600 SECONDS")),
        "left",
    )
    want = {(r.error_id, r.purchase_id) for r in twin.collect()}
    got_pairs = {(r.error_id, r.purchase_id) for r in got.collect()}
    assert any(p is None for _, p in want), "fixture should contain unmatched errors"
    assert got_pairs == want


def test_apiws_late_event_lowers_session_start_or_splits():
    """Batch parity for EARLY late events in the applyInPandasWithState
    sessionizer: an event within gap BEFORE the stored session start
    lowers session_start (min, the mirror of the max-end rule); one more
    than gap before the stored start can never merge (nearest session
    event is `start`), so it comes out as its own earlier session."""
    import pandas as pd

    from blockchair_etl_spark.streaming.sessionize import _sessionize_group

    class StubGroupState:
        def __init__(self):
            self.v = None
            self.hasTimedOut = False
            self.timeout = None
        @property
        def exists(self):
            return self.v is not None
        @property
        def get(self):
            return self.v
        def update(self, v):
            self.v = v
        def remove(self):
            self.v = None
        def setTimeoutTimestamp(self, ts):
            self.timeout = ts

    st = StubGroupState()
    base = pd.Timestamp("2024-01-01 02:00:00")
    df1 = pd.DataFrame({"ts": [base, base + pd.Timedelta(minutes=10)], "value": [1.0, 2.0]})
    list(_sessionize_group((7,), iter([df1]), st))
    start_before, end_before, _, _ = st.v

    early = pd.DataFrame({"ts": [base - pd.Timedelta(minutes=20)], "value": [4.0]})
    out = pd.concat(list(_sessionize_group((7,), iter([early]), st)))
    assert len(out) == 0
    start, end, n, total = st.v
    assert start == start_before - 20 * 60 * 1_000_000
    assert end == end_before and n == 3 and total == 7.0

    lone = pd.DataFrame({"ts": [base - pd.Timedelta(minutes=80)], "value": [8.0]})
    out2 = pd.concat(list(_sessionize_group((7,), iter([lone]), st)))
    assert len(out2) == 1 and out2.iloc[0].n_events == 1
    assert out2.iloc[0].total_value == 8.0
    assert (st.v[0], st.v[1], st.v[2]) == (start, end, 3)


def test_apiws_out_of_order_event_does_not_regress_session_end():
    """An out-of-order event inside the open session merges without
    regressing session_end or moving the flush timeout; driven directly
    through the applyInPandasWithState group function with a stub
    GroupState."""
    import pandas as pd

    from blockchair_etl_spark.streaming.sessionize import _sessionize_group

    class StubGroupState:
        def __init__(self):
            self.v = None
            self.hasTimedOut = False
            self.timeout = None
        @property
        def exists(self):
            return self.v is not None
        @property
        def get(self):
            return self.v
        def update(self, v):
            self.v = v
        def remove(self):
            self.v = None
        def setTimeoutTimestamp(self, ts):
            self.timeout = ts

    st = StubGroupState()
    base = pd.Timestamp("2024-01-01 00:00:00")
    df1 = pd.DataFrame({"ts": [base, base + pd.Timedelta(minutes=10)], "value": [1.0, 2.0]})
    list(_sessionize_group((7,), iter([df1]), st))
    _, end_before, _, _ = st.v
    timeout_before = st.timeout

    late = pd.DataFrame({"ts": [base + pd.Timedelta(minutes=5)], "value": [4.0]})
    out = pd.concat(list(_sessionize_group((7,), iter([late]), st)))
    assert len(out) == 0
    start, end, n, total = st.v
    assert end == end_before
    assert n == 3 and total == 7.0
    assert st.timeout == timeout_before


def test_stream_cms_replay_does_not_double_count(spark, tmp_path):
    """A micro-batch replayed after the store swap but before the
    checkpoint commit must NOT be cell-merged twice: the store tracks
    the last applied batch_id and skips replays, so the sketch still
    equals cms_build over the events seen exactly once."""
    from blockchair_etl_spark.operators.approx import cms_build
    from blockchair_etl_spark.streaming.incremental import make_cms_updater

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id"
    )
    store = str(tmp_path / "cms_replay_store")
    upd = make_cms_updater(store, key_col="user_id", width=64)
    b0 = ev.filter(F.col("event_id") % 2 == 0)
    b1 = ev.filter(F.col("event_id") % 2 == 1)
    upd(b0, 0)
    upd(b1, 1)
    upd(b1, 1)  # simulate foreachBatch replay of the same batch

    got = {
        (r.row_id, r.col_id): r.cnt
        for r in spark.read.parquet(store).drop("__last_batch").collect()
    }
    want = {
        (r.row_id, r.col_id): r.cnt
        for r in cms_build(
            ev.select(F.col("user_id").cast("bigint").alias("k")), "k", 64
        ).collect()
    }
    assert got == want


def test_stream_cms_checkpoint_reset_mismatch_raises(spark, tmp_path):
    """Only the exact-last-batch replay is skipped. A batch_id BELOW
    the stored watermark means the checkpoint was reset/recreated while
    the store was kept -- re-numbered batches may carry NEW events, so
    silently skipping them would leave the store stale. That must raise
    loudly instead (r8 ADVICE #1)."""
    import pytest

    from blockchair_etl_spark.streaming.incremental import make_cms_updater

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id"
    )
    store = str(tmp_path / "cms_mismatch_store")
    upd = make_cms_updater(store, key_col="user_id", width=64)
    upd(ev.filter(F.col("event_id") % 2 == 0), 0)
    upd(ev.filter(F.col("event_id") % 2 == 1), 1)
    # genuine replay of the LAST batch: still silently skipped
    upd(ev.filter(F.col("event_id") % 2 == 1), 1)
    with pytest.raises(RuntimeError, match="checkpoint/store mismatch"):
        upd(ev.filter(F.col("event_id") % 2 == 0), 0)


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


def test_cluster_assignment_stream_matches_one_shot(spark, tmp_path):
    """The streaming assignment maintainer: a pairs stream drained in 3
    micro-batches leaves the store equal to one-shot CC over all pairs;
    a replayed exact-last batch is skipped (store untouched, same
    __last_batch); a batch_id below the watermark raises the
    checkpoint-mismatch error."""
    import pytest as _pytest

    from blockchair_etl_spark.streaming.dedup_stream import (
        cluster_assignment_stream,
        make_cluster_assignment_updater,
    )

    b1 = [(1, 2), (2, 3), (10, 11)]
    b2 = [(12, 11), (20, 21)]
    b3 = [(3, 10), (21, 1)]  # everything merges into cluster 1 except none
    all_pairs = b1 + b2 + b3
    want = _union_find(all_pairs)

    src = str(tmp_path / "pairs_src")
    for pairs in (b1, b2, b3):
        spark.createDataFrame(pairs, ["id_a", "id_b"]).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    store_dir = str(tmp_path / "assign_store")
    stream = (
        spark.readStream.schema("id_a bigint, id_b bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        cluster_assignment_stream(
            stream, store_dir, str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    def read_store():
        df = spark.read.parquet(store_dir)
        last = df.agg(F.max("__last_batch")).first()[0]
        return {r.doc: r.cluster_id for r in df.collect()}, last

    got, last = read_store()
    assert got == want

    # replayed exact-last batch: skipped, store untouched
    upd = make_cluster_assignment_updater(store_dir)
    upd(spark.createDataFrame(b3, ["id_a", "id_b"]), int(last))
    again, last2 = read_store()
    assert again == want and last2 == last

    # batch_id below the watermark: checkpoint/store mismatch
    with _pytest.raises(RuntimeError, match="checkpoint/store mismatch"):
        upd(spark.createDataFrame(b1, ["id_a", "id_b"]), int(last) - 1)


def test_cluster_store_swap_crash_recovery(spark, tmp_path):
    """r13 review: the swap must have NO unrecoverable window. Simulate
    a crash between the two renames (store moved aside to .old, new
    generation never landed): the next trigger restores the previous
    generation and folds into IT — history survives. Also: a store
    seeded by a BATCH job (no __last_batch column) is accepted."""
    import os

    from blockchair_etl_spark.llmdata.clusters import connected_clusters
    from blockchair_etl_spark.streaming.dedup_stream import (
        make_cluster_assignment_updater,
    )

    store_dir = str(tmp_path / "assign")
    # batch-seeded store: plain (doc, cluster_id), no watermark column
    seed_pairs = [(1, 2), (10, 11)]
    connected_clusters(
        spark.createDataFrame(seed_pairs, ["id_a", "id_b"])
    ).write.parquet(store_dir)

    upd = make_cluster_assignment_updater(store_dir)
    upd(spark.createDataFrame([(2, 3)], ["id_a", "id_b"]), 0)
    want_after_0 = _union_find(seed_pairs + [(2, 3)])
    got = {
        r.doc: r.cluster_id for r in spark.read.parquet(store_dir).collect()
    }
    assert got == want_after_0

    # crash window: previous generation parked at .old, store missing
    os.rename(store_dir, store_dir + ".old")
    upd(spark.createDataFrame([(3, 10)], ["id_a", "id_b"]), 1)
    got = {
        r.doc: r.cluster_id for r in spark.read.parquet(store_dir).collect()
    }
    assert got == _union_find(seed_pairs + [(2, 3), (3, 10)])
    assert not os.path.exists(store_dir + ".old")


def test_cms_store_swap_crash_recovery(spark, tmp_path):
    """The CMS maintainer shares atomic_swap_store's no-unrecoverable-
    window contract: with the store parked at .old (crash between the
    two renames), the next trigger restores it and cell-merges into the
    FULL history instead of silently rebootstrapping from one batch."""
    import os

    from blockchair_etl_spark.operators.approx import cms_build
    from blockchair_etl_spark.streaming.incremental import make_cms_updater

    store = str(tmp_path / "cms_store")
    upd = make_cms_updater(store, key_col="k", width=16)
    b0 = spark.createDataFrame([(i % 5,) for i in range(40)], "k bigint")
    b1 = spark.createDataFrame([(i % 3,) for i in range(30)], "k bigint")
    upd(b0, 0)
    os.rename(store, store + ".old")  # the crash window
    upd(b1, 1)
    got = {
        (r.row_id, r.col_id): r.cnt
        for r in spark.read.parquet(store).drop("__last_batch").collect()
    }
    want = {
        (r.row_id, r.col_id): r.cnt
        for r in cms_build(b0.unionByName(b1), "k", width=16).collect()
    }
    assert got == want
    assert not os.path.exists(store + ".old")


def test_stream_cms_grouped_maintain_equals_batch_sketch(spark, tmp_path):
    """Grouped CMS (per-dimension heavy hitters at O(groups × depth ×
    width) state): the store after a 3-drain stream equals
    cms_build_grouped over exactly the rows seen (cell-wise merge
    algebra), per-group top-k off the live store equals the one-shot
    batch ranking, state cardinality stays bounded per drain even when
    ONE group receives ~all events (the kmv hot-group fixture's
    frequency twin), and a replayed exact-last batch is skipped."""
    from blockchair_etl_spark.io.sinks import read_live_store
    from blockchair_etl_spark.operators.approx import (
        cms_build_grouped,
        cms_estimate_grouped,
    )
    from blockchair_etl_spark.streaming.incremental import (
        make_cms_grouped_updater,
        stream_cms_grouped_maintain,
    )

    # hot: 1500 events over 300 users; cold: 30 events over 3 users,
    # user 7 heavily repeated in both groups
    rows = [(i, "hot", (i % 300) if i % 5 else 7) for i in range(1500)] + [
        (90000 + i, "cold", 7 if i % 3 else i % 3) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "row_id bigint, g string, user_id bigint")
    src = str(tmp_path / "gcms_src")
    for i in range(3):
        df.filter(F.col("row_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    store = str(tmp_path / "gcms_store")
    q = stream_cms_grouped_maintain(
        spark,
        src,
        spark.read.parquet(src).schema,
        str(tmp_path / "gcms_ckpt"),
        store,
        group_col="g",
        key_col="user_id",
        width=64,
    )
    assert q.awaitTermination(300)

    def cells(frame):
        return {(r.g, r.row_id, r.col_id): r.cnt for r in frame.collect()}

    batch_input = df.select("g", F.col("user_id").cast("bigint").alias("k"))
    got = cells(spark.read.parquet(store).drop("__last_batch"))
    want = cells(cms_build_grouped(batch_input, "g", "k", width=64))
    assert got == want
    # state bound: exactly depth x width cells max per group, however
    # hot the group — the sketch never grows with stream length
    per_group = {}
    for (g, _, _), _c in got.items():
        per_group[g] = per_group.get(g, 0) + 1
    assert per_group["hot"] <= 4 * 64 and per_group["cold"] <= 4 * 64

    # serving: per-group estimates off the live store match the
    # one-shot batch sketch's, and the hot repeated user dominates
    keys = batch_input.distinct()
    served = {
        (r.g, r.k): r.est_count
        for r in cms_estimate_grouped(
            read_live_store(spark, store).drop("__last_batch"),
            keys,
            "g",
            "k",
            width=64,
        ).collect()
    }
    batch = {
        (r.g, r.k): r.est_count
        for r in cms_estimate_grouped(
            cms_build_grouped(batch_input, "g", "k", width=64),
            keys,
            "g",
            "k",
            width=64,
        ).collect()
    }
    assert served == batch
    assert served[("hot", 7)] >= 300  # true count 300, CMS never under
    assert max(v for (g, k), v in served.items() if g == "hot") == served[
        ("hot", 7)
    ]

    # replayed exact-last batch: skipped, store unchanged
    upd = make_cms_grouped_updater(store, group_col="g", key_col="user_id", width=64)
    last = spark.read.parquet(store).agg(F.max("__last_batch")).first()[0]
    upd(df, int(last))
    assert cells(spark.read.parquet(store).drop("__last_batch")) == want


def test_read_live_store_reader_contract(spark, tmp_path):
    """Advice fix: external concurrent readers of a swap-maintained
    store never run recover_swapped_store (writer-only — a reader-side
    recovery would race the writer's in-flight rename); read_live_store
    tolerates the transient not-exists window by retrying, and raises
    a diagnosable FileNotFoundError past the budget without touching
    .old (so the writer's recovery still sees it)."""
    import os

    from blockchair_etl_spark.io.sinks import (
        atomic_swap_store,
        read_live_store,
    )

    store = str(tmp_path / "live_store")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")
    atomic_swap_store(df, store)
    held = read_live_store(spark, store)
    assert held.count() == 2

    # action-time safety (r14 review): the returned frame must survive
    # the NEXT swap deleting the part files it was listed from — the
    # load materializes inside the retry, so a dashboard holding the
    # frame across swaps cannot hit FileNotFound at collect time
    atomic_swap_store(
        spark.createDataFrame([(3, "c")], "id bigint, v string"), store
    )
    assert {r.id for r in held.collect()} == {1, 2}  # pre-swap snapshot
    assert {r.id for r in read_live_store(spark, store).collect()} == {3}

    # simulate the mid-swap window: store parked at .old
    os.rename(store, store + ".old")
    with pytest.raises(FileNotFoundError, match="mid-swap"):
        read_live_store(spark, store, retries=3, delay=0.01)
    # reader must NOT have "recovered" — .old is untouched for the writer
    assert os.path.exists(store + ".old") and not os.path.exists(store)


def test_read_live_store_real_errors_surface_immediately(spark, tmp_path):
    """r14 advice: only the swapped-away-mid-read shape retries. A
    genuinely corrupt store (not-parquet bytes at the path) raises the
    real error on the FIRST attempt — no ~1s of retry sleeps masking
    it — and an over-max_rows store raises a pointed ValueError instead
    of collecting a data-scale relation to the driver."""
    import time

    from blockchair_etl_spark.io.sinks import (
        atomic_swap_store,
        read_live_store,
    )

    corrupt = tmp_path / "corrupt_store"
    corrupt.mkdir()
    (corrupt / "part-00000.parquet").write_bytes(b"this is not parquet")
    t0 = time.monotonic()
    with pytest.raises(Exception) as ei:
        read_live_store(spark, str(corrupt), retries=20, delay=0.25)
    # 20 retries x 0.25s = 5s of sleeps if the bare-except behavior
    # regressed; immediate surfacing finishes well under that
    assert time.monotonic() - t0 < 4.0
    assert not isinstance(ei.value, FileNotFoundError)

    big = str(tmp_path / "big_store")
    atomic_swap_store(
        spark.range(50).select(F.col("id")), big
    )
    with pytest.raises(ValueError, match="max_rows"):
        read_live_store(spark, big, max_rows=10)
    # at-the-cap stores load fine and completely
    assert read_live_store(spark, big, max_rows=50).count() == 50


@pytest.mark.filterwarnings("error::FutureWarning")
def test_swap_window_error_matching_is_typed_first(spark, tmp_path):
    """r15 advice: _is_swap_window_error classifies by exception
    class / error condition FIRST — broad text markers like 'does not
    exist' appear in unrelated catalog errors and used to burn the
    full retry budget before surfacing. A generic exception whose TEXT
    merely contains the old broad markers must NOT classify as the
    swap window; the real plan-time shape (AnalysisException with
    PATH_NOT_FOUND on a vanished path) and a plain FileNotFoundError
    must."""
    from pyspark.errors import AnalysisException

    from blockchair_etl_spark.io.sinks import _is_swap_window_error

    # old-marker texts on a generic exception: NOT the swap window
    assert not _is_swap_window_error(Exception("table x does not exist"))
    assert not _is_swap_window_error(RuntimeError("No such file or thing"))
    assert _is_swap_window_error(FileNotFoundError("gone"))
    # the genuine plan-time shape, captured from a vanished path
    missing = str(tmp_path / "never_written")
    try:
        spark.read.parquet(missing).collect()
        raise AssertionError("read of a missing path should raise")
    except AnalysisException as exc:
        assert _is_swap_window_error(exc)
    # an AnalysisException with an unrelated condition is NOT retried
    try:
        spark.sql("SELECT definitely_not_a_column FROM range(1)").collect()
        raise AssertionError("unresolved column should raise")
    except AnalysisException as exc:
        assert not _is_swap_window_error(exc)
    # legacy pyspark<3.4 plan-time shape (r16 advice): a CONDITIONLESS
    # AnalysisException saying 'Path does not exist: ...' — the layout
    # the import fallback supports — must classify as the swap window,
    # while the same text on a generic exception stays class-qualified
    # out.
    legacy = AnalysisException("Path does not exist: file:/tmp/store/current")
    if not (legacy.getCondition() if hasattr(legacy, "getCondition") else None):
        assert _is_swap_window_error(legacy)
    assert not _is_swap_window_error(Exception("Path does not exist: /x"))
    # a Py4J failure while walking the Java cause chain warns and falls
    # back to the class-qualified text scan
    from py4j.protocol import Py4JError

    class _ClosedGateway:
        def getClass(self):
            raise Py4JError("gateway closed")

    class _Captured(Exception):
        java_exception = _ClosedGateway()

    with pytest.warns(RuntimeWarning, match="cause-chain walk failed"):
        assert _is_swap_window_error(_Captured("java.io.FileNotFoundException: /s"))
    with pytest.warns(RuntimeWarning, match="cause-chain walk failed"):
        assert not _is_swap_window_error(_Captured("disk quota exceeded"))


def test_kmv_estimate_grouped_input_contract(spark):
    """r14 advice: kmv_estimate_grouped names its INPUT group column
    (in_col, default 'g' per the kmv_mins_grouped contract) instead of
    silently requiring a literal 'g' — a renamed store column works via
    in_col= and a wrong relation fails with a pointed error, never by
    grouping a coincidental column."""
    from blockchair_etl_spark.operators.approx import (
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


def test_streaming_pairs_to_assignment_composition(spark, tmp_path):
    """The documented end-to-end streaming dedup story: the MinHash
    dedup loop emits pairs per trigger; a pairs stream pointed at its
    pairs_dir maintains the (doc, cluster_id) assignment store. After
    both drains, the assignment equals one-shot CC over the one-shot
    pair set — neither loop ever rescanned history."""
    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.llmdata.clusters import connected_clusters
    from blockchair_etl_spark.llmdata.dedup import minhash_lsh_pairs
    from blockchair_etl_spark.streaming.dedup_stream import (
        cluster_assignment_stream,
        incremental_minhash_stream,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "docs_src")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    pairs_dir = str(tmp_path / "pairs")
    schema = spark.read.parquet(src).schema
    q = (
        incremental_minhash_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            store_dir=str(tmp_path / "sig_store"),
            pairs_dir=pairs_dir,
            checkpoint_dir=str(tmp_path / "ckpt_mh"),
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    pairs_schema = spark.read.parquet(pairs_dir).schema
    q2 = (
        cluster_assignment_stream(
            spark.readStream.schema(pairs_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(pairs_dir),
            store_dir=str(tmp_path / "assign"),
            checkpoint_dir=str(tmp_path / "ckpt_cc"),
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(300)

    got = {
        r.doc: r.cluster_id
        for r in spark.read.parquet(str(tmp_path / "assign"))
        .drop("__last_batch")
        .collect()
    }
    want = {
        r.doc: r.cluster_id
        for r in connected_clusters(minhash_lsh_pairs(docs)).collect()
    }
    assert got == want and want


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


def test_theta_algebra_served_from_two_live_kmv_stores(spark, tmp_path):
    """The segment-overlap dashboard read (r17): TWO continuously-
    maintained KMV stores (viewers, clickers) serve the complete Theta
    set algebra — intersection, a-not-b, Jaccard — bit-identical to
    the batch ops over the raw corpus, off O(k) state per segment.
    Works because each live store's mins relation equals kmv_mins over
    exactly the rows its filtered stream has seen (the maintainer
    contract), and the algebra consumes only mins relations."""
    from blockchair_etl_spark.io.sinks import read_live_store
    from blockchair_etl_spark.operators.approx import (
        kmv_a_not_b,
        kmv_intersect,
        kmv_jaccard,
        kmv_mins,
    )
    from blockchair_etl_spark.streaming.incremental import make_kmv_updater

    # viewers = users 0..149, clickers = users 100..249 (overlap 50)
    views = spark.range(600).selectExpr(
        "id AS row_id", "'view' AS event_type",
        "CAST(id % 150 AS BIGINT) AS user_id",
    )
    clicks = spark.range(600).selectExpr(
        "id + 1000 AS row_id", "'click' AS event_type",
        "CAST(100 + id % 150 AS BIGINT) AS user_id",
    )
    df = views.unionByName(clicks)
    src = str(tmp_path / "seg_src")
    for i in range(2):
        df.filter(F.col("row_id") % 2 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stores = {}
    for seg in ("view", "click"):
        store = str(tmp_path / f"kmv_{seg}")
        q = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .parquet(src)
            .filter(F.col("event_type") == seg)
            .writeStream.foreachBatch(make_kmv_updater(store, "user_id", 64))
            .option("checkpointLocation", str(tmp_path / f"ckpt_{seg}"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        stores[seg] = read_live_store(spark, store).drop("__last_batch")
        assert stores[seg].count() <= 64  # O(k) forever

    ma_batch = kmv_mins(views, "user_id", k=64)
    mb_batch = kmv_mins(clicks, "user_id", k=64)
    served_i = kmv_intersect(stores["view"], stores["click"], k=64).first()
    batch_i = kmv_intersect(ma_batch, mb_batch, k=64).first()
    assert tuple(served_i) == tuple(batch_i)
    served_d = kmv_a_not_b(stores["view"], stores["click"], k=64).first()
    batch_d = kmv_a_not_b(ma_batch, mb_batch, k=64).first()
    assert tuple(served_d) == tuple(batch_d)
    served_j = kmv_jaccard(stores["view"], stores["click"], k=64).first()
    batch_j = kmv_jaccard(ma_batch, mb_batch, k=64).first()
    assert tuple(served_j) == tuple(batch_j)
    # sanity: the true overlap (50 of 250) sits inside the saturated
    # band around the served estimates
    assert served_i.theta < (1 << 60)
    assert abs(served_j.jaccard_estimate - 0.2) < 4 / (64 ** 0.5)


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
    inclusion-exclusion over the live register stores — |A∩B| ≈
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


def test_stream_hll_maintain_equals_batch_sketch(spark, tmp_path):
    """The HLL register store after a 3-drain stream equals
    hll_registers over exactly the rows seen (the union law), a
    replayed exact-last batch is skipped, and a double-merge into a
    fresh store is a semantic no-op anyway (register-max idempotence —
    the KMV replay-safety class)."""
    from blockchair_etl_spark.operators.approx import hll_registers
    from blockchair_etl_spark.streaming.incremental import (
        make_hll_updater,
        stream_hll_maintain,
    )

    rows = [(i, i % 137) for i in range(600)]
    df = spark.createDataFrame(rows, "row_id bigint, user_id bigint")
    src = str(tmp_path / "hll_src")
    for i in range(3):
        df.filter(F.col("row_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    store = str(tmp_path / "hll_store")
    q = stream_hll_maintain(
        spark,
        src,
        spark.read.parquet(src).schema,
        str(tmp_path / "hll_ckpt"),
        store,
        key_col="user_id",
        p=10,
    )
    assert q.awaitTermination(300)

    got = {
        (r.bucket, r.r)
        for r in spark.read.parquet(store).drop("__last_batch").collect()
    }
    want = {(r.bucket, r.r) for r in hll_registers(df, "user_id").collect()}
    assert got == want and got

    upd = make_hll_updater(store, key_col="user_id", p=10)
    last = spark.read.parquet(store).agg(F.max("__last_batch")).first()[0]
    upd(df, int(last))  # exact-last replay: skipped
    again = {
        (r.bucket, r.r)
        for r in spark.read.parquet(store).drop("__last_batch").collect()
    }
    assert again == got

    fresh = str(tmp_path / "hll_fresh")
    upd2 = make_hll_updater(fresh, key_col="user_id", p=10)
    upd2(df, 0)
    upd2(df, 1)  # same rows re-merged: register-max no-op
    twice = {
        (r.bucket, r.r)
        for r in spark.read.parquet(fresh).drop("__last_batch").collect()
    }
    assert twice == want


def test_stream_kmv_maintain_equals_batch_sketch(spark, tmp_path):
    """The KMV sketch store after a 3-drain stream equals kmv_mins over
    exactly the rows seen (the mergeability contract), estimation off
    the store matches the batch sketch, a replayed exact-last batch is
    skipped, and a re-merge is a semantic no-op anyway (min-k union
    idempotence — exercised via a fresh-store double-merge)."""
    from blockchair_etl_spark.operators.approx import kmv_mins
    from blockchair_etl_spark.streaming.incremental import (
        make_kmv_updater,
        stream_kmv_maintain,
    )

    rows = [(i, i % 37) for i in range(400)]
    df = spark.createDataFrame(rows, "row_id bigint, user_id bigint")
    src = str(tmp_path / "kmv_src")
    for i in range(3):
        df.filter(F.col("row_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    store = str(tmp_path / "kmv_store")
    q = stream_kmv_maintain(
        spark,
        src,
        spark.read.parquet(src).schema,
        str(tmp_path / "kmv_ckpt"),
        store,
        key_col="user_id",
        k=16,
    )
    assert q.awaitTermination(300)

    got = sorted(
        r.hv
        for r in spark.read.parquet(store).drop("__last_batch").collect()
    )
    want = sorted(r.hv for r in kmv_mins(df, "user_id", k=16).collect())
    assert got == want and len(got) == 16

    # replayed exact-last batch: skipped, store byte-identical
    upd = make_kmv_updater(store, key_col="user_id", k=16)
    last = (
        spark.read.parquet(store).agg(F.max("__last_batch")).first()[0]
    )
    upd(df, int(last))
    again = sorted(
        r.hv
        for r in spark.read.parquet(store).drop("__last_batch").collect()
    )
    assert again == got

    # min-k union idempotence: merging the SAME batch twice into a
    # fresh store changes nothing
    fresh = str(tmp_path / "kmv_fresh")
    upd2 = make_kmv_updater(fresh, key_col="user_id", k=16)
    upd2(df, 0)
    once = sorted(
        r.hv for r in spark.read.parquet(fresh).drop("__last_batch").collect()
    )
    upd2(df, 1)  # new batch id, same rows — the semantic no-op
    twice = sorted(
        r.hv for r in spark.read.parquet(fresh).drop("__last_batch").collect()
    )
    assert once == twice == got

    # a BATCH-seeded store (plain kmv_mins relation, no watermark
    # column) is accepted as watermark-less (r13 review — the CMS
    # sibling's legacy-store contract)
    seeded = str(tmp_path / "kmv_seeded")
    kmv_mins(df.filter(F.col("row_id") < 200), "user_id", k=16).write.parquet(
        seeded
    )
    upd3 = make_kmv_updater(seeded, key_col="user_id", k=16)
    upd3(df.filter(F.col("row_id") >= 200), 0)
    assert (
        sorted(
            r.hv
            for r in spark.read.parquet(seeded).drop("__last_batch").collect()
        )
        == got
    )


def test_stream_histogram_maintain_equals_batch_sketch(spark, tmp_path):
    """The histogram sketch store after a 3-drain stream equals
    histogram_bins over exactly the rows seen (cell-for-cell), quantiles
    read off the live store match the one-shot operator for every
    requested percentile, and a replayed exact-last batch is skipped
    (cell sums DOUBLE-COUNT on re-merge, so the watermark is
    load-bearing here, unlike KMV)."""
    from blockchair_etl_spark.operators.approx import (
        histogram_bins,
        histogram_quantiles,
        histogram_quantiles_from_bins,
    )
    from blockchair_etl_spark.streaming.incremental import (
        make_histogram_updater,
        stream_histogram_maintain,
    )

    rows = [(i, ["a", "b", "c"][i % 3], (i * 7 % 100) / 4.0) for i in range(300)]
    df = spark.createDataFrame(rows, "row_id bigint, event_type string, value double")
    src = str(tmp_path / "hist_src")
    for i in range(3):
        df.filter(F.col("row_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    store = str(tmp_path / "hist_store")
    q = stream_histogram_maintain(
        spark,
        src,
        spark.read.parquet(src).schema,
        str(tmp_path / "hist_ckpt"),
        store,
    )
    assert q.awaitTermination(300)

    def cells(frame):
        return {(r.g, r.bin): r.cnt for r in frame.collect()}

    got = cells(spark.read.parquet(store).drop("__last_batch"))
    want = cells(histogram_bins(df, "value", "event_type"))
    assert got == want and want

    store_q = histogram_quantiles_from_bins(
        spark.read.parquet(store).drop("__last_batch"), "event_type", (50, 90, 99)
    )
    batch_q = histogram_quantiles(df, "value", "event_type", (50, 90, 99))
    assert sorted(map(tuple, store_q.collect())) == sorted(
        map(tuple, batch_q.collect())
    )

    # replayed exact-last batch: skipped (a re-merge would double-count)
    upd = make_histogram_updater(store)
    last = spark.read.parquet(store).agg(F.max("__last_batch")).first()[0]
    upd(df, int(last))
    assert cells(spark.read.parquet(store).drop("__last_batch")) == want


def test_stream_hll_grouped_maintain_equals_batch_sketch(spark, tmp_path):
    """The grouped HLL store after a 2-drain stream equals
    hll_registers_grouped over exactly the rows seen, and per-group
    estimation off the live store matches the batch sketch
    bit-exactly."""
    from blockchair_etl_spark.operators.approx import (
        hll_estimate_grouped,
        hll_registers_grouped,
    )
    from blockchair_etl_spark.streaming.incremental import (
        stream_hll_grouped_maintain,
    )

    rows = [(i, i % 4, i % 151) for i in range(600)]
    df = spark.createDataFrame(rows, "row_id bigint, seg int, user_id bigint")
    src = str(tmp_path / "ghll_src")
    for i in range(2):
        df.filter(F.col("row_id") % 2 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    store = str(tmp_path / "ghll_store")
    q = stream_hll_grouped_maintain(
        spark,
        src,
        spark.read.parquet(src).schema,
        str(tmp_path / "ghll_ckpt"),
        store,
        group_col="seg",
        key_col="user_id",
        p=10,
    )
    assert q.awaitTermination(300)

    live = spark.read.parquet(store).drop("__last_batch")
    got = {(r.g, r.bucket, r.r) for r in live.collect()}
    want = {
        (r.g, r.bucket, r.r)
        for r in hll_registers_grouped(df, "seg", "user_id").collect()
    }
    assert got == want and got
    served = {
        r.segment: (r.s_scaled, r.raw_estimate)
        for r in hll_estimate_grouped(live, "segment").collect()
    }
    batch = {
        r.segment: (r.s_scaled, r.raw_estimate)
        for r in hll_estimate_grouped(
            hll_registers_grouped(df, "seg", "user_id"), "segment"
        ).collect()
    }
    assert served == batch and set(served) == {0, 1, 2, 3}


def test_stream_kmv_grouped_maintain_equals_batch_sketch(spark, tmp_path):
    """Grouped KMV (per-dimension distinct counts at O(groups x k)
    state): the store after a 3-drain stream equals kmv_mins_grouped
    over exactly the rows seen, per-group estimation off the live
    store equals the one-shot batch sketch (exact below k, estimator
    above), replayed exact-last batch is skipped, and the grouped
    min-k union is idempotent."""
    from blockchair_etl_spark.io.sinks import read_live_store
    from blockchair_etl_spark.operators.approx import (
        kmv_distinct_grouped,
        kmv_estimate_grouped,
        kmv_mins_grouped,
    )
    from blockchair_etl_spark.streaming.incremental import (
        make_kmv_grouped_updater,
        stream_kmv_grouped_maintain,
    )

    # group 'a' has 200 distinct keys (> k=16, estimator path); group
    # 'b' has 7 (< k, exact-degeneration path)
    rows = [(i, "a", i % 200) for i in range(600)] + [
        (1000 + i, "b", i % 7) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "row_id bigint, g string, user_id bigint")
    src = str(tmp_path / "gkmv_src")
    for i in range(3):
        df.filter(F.col("row_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    store = str(tmp_path / "gkmv_store")
    q = stream_kmv_grouped_maintain(
        spark,
        src,
        spark.read.parquet(src).schema,
        str(tmp_path / "gkmv_ckpt"),
        store,
        group_col="g",
        key_col="user_id",
        k=16,
    )
    assert q.awaitTermination(300)

    def mins_set(frame):
        return {(r.g, r.hv) for r in frame.collect()}

    got = mins_set(spark.read.parquet(store).drop("__last_batch"))
    want = mins_set(kmv_mins_grouped(df, "g", "user_id", k=16))
    assert got == want and len(got) == 16 + 7  # k for 'a', exact 7 for 'b'

    served = {
        r.g: (r.n_taken, r.kth_min_hash, r.distinct_estimate)
        for r in kmv_estimate_grouped(
            read_live_store(spark, store).drop("__last_batch"), "g", k=16
        ).collect()
    }
    batch = {
        r.g: (r.n_taken, r.kth_min_hash, r.distinct_estimate)
        for r in kmv_distinct_grouped(df, "g", "user_id", k=16).collect()
    }
    assert served == batch
    assert batch["b"][0] == 7 and batch["b"][2] == 7.0  # exact below k
    assert batch["a"][0] == 16 and 100 < batch["a"][2] < 400  # estimator

    # replayed exact-last batch: skipped; re-merge is a no-op anyway
    upd = make_kmv_grouped_updater(store, group_col="g", key_col="user_id", k=16)
    last = spark.read.parquet(store).agg(F.max("__last_batch")).first()[0]
    upd(df, int(last))
    assert mins_set(spark.read.parquet(store).drop("__last_batch")) == want
    upd(df, int(last) + 1)  # new batch id, same rows — semantic no-op
    assert mins_set(spark.read.parquet(store).drop("__last_batch")) == want


def test_stream_kmv_grouped_hot_group_state_bound(spark, tmp_path):
    """r14 verdict stretch #8: the streaming maintainer under the
    kmv_mins_grouped hot-group skew fixture — ONE group receives ~all
    distinct keys across every drain. After EACH drain the store must
    hold at most k rows for the hot group and exactly-seen rows for the
    cold one (state cardinality bounded at O(groups x k) regardless of
    how many distincts a drain adds), and the final store must equal
    the one-shot batch sketch over all rows (the lossless min-k merge),
    proving the two-level salted cut's bound composes with incremental
    merges rather than only holding in the single-pass form."""
    from blockchair_etl_spark.operators.approx import kmv_mins_grouped
    from blockchair_etl_spark.streaming.incremental import (
        make_kmv_grouped_updater,
    )

    K = 16
    # hot: 3000 distinct users split across 3 drains (1000 new
    # distincts per drain — every drain would blow a naive per-group
    # accumulation); cold: 4 distinct users repeated in every drain
    drains = []
    for d in range(3):
        rows = [(d * 1000 + i, "hot", d * 1000 + i) for i in range(1000)]
        rows += [(900000 + d * 10 + j, "cold", j % 4) for j in range(10)]
        drains.append(
            spark.createDataFrame(
                rows, "row_id bigint, g string, user_id bigint"
            )
        )

    store = str(tmp_path / "hot_gkmv_store")
    upd = make_kmv_grouped_updater(store, group_col="g", key_col="user_id", k=K)
    for batch_id, batch in enumerate(drains):
        upd(batch, batch_id)
        state = (
            spark.read.parquet(store)
            .drop("__last_batch")
            .groupBy("g")
            .count()
            .collect()
        )
        per_group = {r.g: r["count"] for r in state}
        # the hot group saturates at exactly k from the first drain
        # (1000 distincts > k); state NEVER grows with drain count
        assert per_group["hot"] == K, (batch_id, per_group)
        assert per_group["cold"] == 4, (batch_id, per_group)
        assert sum(per_group.values()) <= 2 * K

    everything = drains[0]
    for b in drains[1:]:
        everything = everything.unionByName(b)
    got = {
        (r.g, r.hv)
        for r in spark.read.parquet(store).drop("__last_batch").collect()
    }
    want = {
        (r.g, r.hv)
        for r in kmv_mins_grouped(everything, "g", "user_id", k=K).collect()
    }
    assert got == want


def test_grouped_kmv_null_group_and_crash_recovery(spark, tmp_path):
    """Edge pins for the grouped KMV family: (a) a NULL group value is
    a group of its own (distinct + window both treat NULL as one
    partition — rows with an unknown dimension still get a
    cardinality, they don't vanish); (b) the grouped updater shares
    atomic_swap_store's no-unrecoverable-window contract — with the
    store parked at .old the next trigger restores it and merges into
    the FULL history."""
    import os

    from blockchair_etl_spark.operators.approx import (
        kmv_distinct_grouped,
        kmv_mins_grouped,
    )
    from blockchair_etl_spark.streaming.incremental import (
        make_kmv_grouped_updater,
    )

    rows = [(i, None if i % 5 == 0 else "g%d" % (i % 2), i % 30) for i in range(120)]
    df = spark.createDataFrame(rows, "row_id bigint, g string, user_id bigint")
    mins = kmv_mins_grouped(df, "g", "user_id", k=8)
    groups = {r.g for r in mins.select("g").distinct().collect()}
    assert groups == {None, "g0", "g1"}
    est = {r.g: r.n_taken for r in kmv_distinct_grouped(df, "g", "user_id", k=8).collect()}
    # NULL group: 6 distinct keys (multiples of 5 mod 30) — exact below k
    assert None in est and est[None] == 6

    store = str(tmp_path / "gkmv_crash")
    upd = make_kmv_grouped_updater(store, group_col="g", key_col="user_id", k=8)
    b0 = df.filter(F.col("row_id") < 60)
    b1 = df.filter(F.col("row_id") >= 60)
    upd(b0, 0)
    os.rename(store, store + ".old")  # the crash window
    upd(b1, 1)
    got = {(r.g, r.hv) for r in spark.read.parquet(store).drop("__last_batch").collect()}
    want = {(r.g, r.hv) for r in kmv_mins_grouped(df, "g", "user_id", k=8).collect()}
    assert got == want
    assert not os.path.exists(store + ".old")


def test_dashboard_metrics_served_from_live_sketch_stores(spark, tmp_path):
    """r13 verdict stretch #8 — the dashboard-at-scale serving story:
    the A2-shaped distinct count and the A3-shaped value quantiles,
    served from the continuously maintained KMV / histogram stores
    (O(k) and O(groups x bins) state, read through the reader-safe
    read_live_store path) equal the batch sketch operators run over
    the full corpus — the dashboard never scans raw events. Composes
    the real `events` table, a two-drain stream per store, kmv_union
    as the store's estimation read-half, and the state-size bound."""
    from blockchair_etl_spark.io.sinks import read_live_store
    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.operators.approx import (
        histogram_quantiles,
        histogram_quantiles_from_bins,
        kmv_distinct,
        kmv_union,
    )
    from blockchair_etl_spark.streaming.incremental import (
        stream_histogram_maintain,
        stream_kmv_maintain,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "ev_src")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    kmv_store = str(tmp_path / "kmv_store")
    hist_store = str(tmp_path / "hist_store")
    schema = spark.read.parquet(src).schema

    def drain():
        q1 = stream_kmv_maintain(
            spark, src, schema, str(tmp_path / "kmv_ckpt"), kmv_store,
            key_col="user_id", k=64,
        )
        assert q1.awaitTermination(300)
        q2 = stream_histogram_maintain(
            spark, src, schema, str(tmp_path / "hist_ckpt"), hist_store,
        )
        assert q2.awaitTermination(300)

    drain()
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()

    # A2 served from O(k) state: estimate off the live store's mins
    # relation (kmv_union IS the read half) == the batch sketch over
    # the whole corpus — same n_taken, kth hash, and estimate
    store_mins = read_live_store(spark, kmv_store).drop("__last_batch")
    assert store_mins.count() <= 64  # O(k) forever
    served = kmv_union([store_mins], k=64).first()
    batch = kmv_distinct(ev, "user_id", k=64).first()
    assert (served.n_taken, served.kth_min_hash) == (
        batch.n_taken, batch.kth_min_hash,
    )
    assert served.distinct_estimate == batch.distinct_estimate

    # A3 served from O(groups x bins) state: quantiles off the live
    # store == the one-shot operator over the whole corpus
    bins = read_live_store(spark, hist_store).drop("__last_batch")
    from blockchair_etl_spark.operators.approx import histogram_bins

    # state is the CELL relation (groups x occupied bins), not rows:
    # identical cardinality to the one-shot batch sketch's cell set
    assert bins.count() == histogram_bins(ev, "value", "event_type").count()
    assert bins.count() < ev.count()
    served_q = histogram_quantiles_from_bins(bins, "event_type", (50, 90, 99))
    batch_q = histogram_quantiles(ev, "value", "event_type", (50, 90, 99))
    assert sorted(map(tuple, served_q.collect())) == sorted(
        map(tuple, batch_q.collect())
    )

    # per-dimension heavy hitters (r15): top users per event type
    # served from the maintained grouped-CMS store == the one-shot
    # grouped sketch over the whole corpus — the third dashboard
    # metric family off O(groups x depth x width) state
    from blockchair_etl_spark.operators.approx import (
        cms_build_grouped,
        cms_estimate_grouped,
    )
    from blockchair_etl_spark.streaming.incremental import (
        stream_cms_grouped_maintain,
    )

    gcms_store = str(tmp_path / "gcms_store")
    q3 = stream_cms_grouped_maintain(
        spark, src, schema, str(tmp_path / "gcms_ckpt"), gcms_store,
        group_col="event_type", key_col="user_id", width=64,
    )
    assert q3.awaitTermination(300)
    gsketch = read_live_store(spark, gcms_store).drop("__last_batch")
    assert gsketch.count() <= ev.select("event_type").distinct().count() * 4 * 64
    keys = (
        ev.select(F.col("event_type").alias("g"),
                  F.col("user_id").cast("bigint").alias("k"))
        .filter(F.col("g").isNotNull() & F.col("k").isNotNull())
        .distinct()
    )
    served_hh = {
        (r.g, r.k): r.est_count
        for r in cms_estimate_grouped(gsketch, keys, "g", "k", width=64).collect()
    }
    batch_input = ev.select(
        F.col("event_type").alias("g"), F.col("user_id").cast("bigint").alias("k")
    ).filter(F.col("g").isNotNull())
    batch_hh = {
        (r.g, r.k): r.est_count
        for r in cms_estimate_grouped(
            cms_build_grouped(batch_input, "g", "k", width=64),
            keys, "g", "k", width=64,
        ).collect()
    }
    assert served_hh == batch_hh and served_hh

    # HLL distinct (r16): the fixed-memory register-array counter as
    # the FOURTH served family — the estimate off the maintained
    # register store is bit-identical to the batch sketch, at <= 2^p
    # rows of state regardless of stream length
    from blockchair_etl_spark.operators.approx import hll_distinct, hll_estimate
    from blockchair_etl_spark.streaming.incremental import stream_hll_maintain

    hll_store = str(tmp_path / "hll_store")
    q4 = stream_hll_maintain(
        spark, src, schema, str(tmp_path / "hll_ckpt"), hll_store,
        key_col="user_id", p=10,
    )
    assert q4.awaitTermination(300)
    regs = read_live_store(spark, hll_store).drop("__last_batch")
    assert regs.count() <= 1024
    served_hll = hll_estimate(regs).first()
    batch_hll = hll_distinct(ev, "user_id").first()
    assert (
        served_hll.s_scaled, served_hll.zero_registers,
        served_hll.raw_estimate, served_hll.use_linear_counting,
    ) == (
        batch_hll.s_scaled, batch_hll.zero_registers,
        batch_hll.raw_estimate, batch_hll.use_linear_counting,
    )
