"""Sources/sinks/extract/incremental/pipeline behavior (SURVEY §2
S1-S8, §2.10, §3)."""

import gzip
import time
from datetime import date

import pytest
from pyspark.sql import functions as F

from blockchair_etl_spark.io.extract import (
    ConfigError,
    DownloadConfig,
    clean_old_files,
    download_daily,
    download_file,
    dump_url,
    load_download_config,
    write_gzip_tsv,
)
from blockchair_etl_spark.io.sinks import (
    Materialization,
    materialize,
    read_partitioned,
    retention_sweep,
    write_daily_partition,
)
from blockchair_etl_spark.io.sources import (
    load_with_pattern_routing,
    parse_dump_filename,
    read_tsv,
)
from blockchair_etl_spark.pipeline import QueryCache, run_transform_dag
from blockchair_etl_spark.schema.registry import RAW_SCHEMAS, TABLE_FILE_PATTERNS
from blockchair_etl_spark.streaming.incremental import (
    incremental_batch_load,
    stream_windowed_counts,
)

from blockchain_fixtures import generate, write_parquet


def test_parse_dump_filename():
    assert parse_dump_filename("blockchair_bitcoin_blocks_20250812.tsv.gz") == (
        "bitcoin",
        "blocks",
        "20250812",
    )
    assert parse_dump_filename("blockchair_eth_inputs_20240101.tsv") == (
        "eth",
        "inputs",
        "20240101",
    )
    assert parse_dump_filename("random.csv") is None


class FakeResp:
    def __init__(self, data):
        self.data = [data, b""]

    def read(self, n):
        return self.data.pop(0)

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False


def test_dump_url_and_download_retry(tmp_path):
    cfg = DownloadConfig(api_key="k")
    url = dump_url(cfg, "blocks", date(2025, 8, 12))
    assert url.endswith("bitcoin/blocks/blockchair_bitcoin_blocks_20250812.tsv.gz?key=k")

    calls = {"n": 0}

    def flaky_opener(url, timeout):
        calls["n"] += 1
        if calls["n"] < 3:
            raise ConnectionError("transient")
        return FakeResp(b"payload")

    import blockchair_etl_spark.io.extract as ex

    orig_min = ex.BACKOFF_MIN_SECS
    ex.BACKOFF_MIN_SECS = 0.0
    try:
        dest = download_file(url, tmp_path / "f.gz", _opener=flaky_opener)
    finally:
        ex.BACKOFF_MIN_SECS = orig_min
    assert dest.read_bytes() == b"payload" and calls["n"] == 3

    def dead_opener(url, timeout):
        raise ConnectionError("down")

    ex.BACKOFF_MIN_SECS = 0.0
    try:
        with pytest.raises(ConnectionError):
            download_file(url, tmp_path / "g.gz", _opener=dead_opener)
    finally:
        ex.BACKOFF_MIN_SECS = orig_min


def test_download_daily_lands_one_file_per_type(tmp_path):
    """Stage 1 as one call: one dump URL fetched per data type into
    landing/<coin>/<type>/, and with skip_existing a file already
    landed is returned without opening its URL."""
    cfg = DownloadConfig(landing_dir=str(tmp_path / "landing"))
    day = date(2025, 8, 12)
    urls = []

    def opener(url, timeout):
        urls.append(url)
        return FakeResp(url.encode())

    got = download_daily(cfg, day, _opener=opener)
    assert got == [
        tmp_path / "landing" / "bitcoin" / t / f"blockchair_bitcoin_{t}_20250812.tsv.gz"
        for t in ("blocks", "transactions", "inputs", "outputs")
    ]
    assert urls == [dump_url(cfg, t, day) for t in cfg.data_types]
    assert [p.read_bytes() for p in got] == [u.encode() for u in urls]

    def refusing_opener(url, timeout):
        raise AssertionError(f"opened {url} although the file is landed")

    got[0].write_bytes(b"landed earlier")
    blocks_only = DownloadConfig(landing_dir=cfg.landing_dir, data_types=("blocks",))
    assert download_daily(blocks_only, day, _opener=refusing_opener) == [got[0]]
    assert got[0].read_bytes() == b"landed earlier"


def test_retention_sweep_landing(tmp_path):
    cfg = DownloadConfig(landing_dir=str(tmp_path))
    for day in ["20250801", "20250810", "20250812"]:
        write_gzip_tsv(
            tmp_path / "bitcoin" / "blocks" / f"blockchair_bitcoin_blocks_{day}.tsv.gz",
            ["id"],
            [[1]],
        )
    removed = clean_old_files(cfg, today=date(2025, 8, 13))
    assert [p.name for p in removed] == ["blockchair_bitcoin_blocks_20250801.tsv.gz"]


@pytest.fixture(scope="module")
def tsv_files(tmp_path_factory):
    """Three days of blocks TSVs + one deliberately malformed file
    (FIXTURES.md file-format fixture)."""
    d = tmp_path_factory.mktemp("landing")
    fields = RAW_SCHEMAS["blocks"].fields
    header = [f.name for f in fields]

    def _cell(field, bid, day_iso):
        t = field.dataType.typeName()
        if field.name == "id":
            return bid
        if t == "long":
            return 100
        if t == "double":
            return 1.5
        if t == "timestamp":
            return f"{day_iso} 00:00:00"
        return f"s{bid}"

    files = []
    for i, day in enumerate(["20250810", "20250811", "20250812"]):
        day_iso = f"2025-08-{10 + i}"
        rows = [
            [_cell(f, bid, day_iso) for f in fields]
            for bid in range(i * 10, i * 10 + 5)
        ]
        files.append(
            str(
                write_gzip_tsv(
                    d / f"blockchair_bitcoin_blocks_{day}.tsv.gz", header, rows
                )
            )
        )
    bad = d / "blockchair_bitcoin_blocks_20250813.tsv.gz"
    with gzip.open(bad, "wt") as f:
        f.write("id\thash\nnot_a_number\tx\ty\tz\textra\tgarbage\n")
    files.append(str(bad))
    return files


def test_tsv_scan_and_pattern_routing_with_skip(spark, tsv_files):
    # S3: schema'd TSV/gzip scan
    df = read_tsv(spark, tsv_files[0], schema=RAW_SCHEMAS["blocks"])
    assert df.count() == 5
    assert df.schema["time"].dataType.typeName() == "timestamp"

    # S4: route by pattern, skip the malformed file whole
    routed, report = load_with_pattern_routing(
        spark, tsv_files, TABLE_FILE_PATTERNS, RAW_SCHEMAS
    )
    assert len(report.loaded) == 3
    assert len(report.skipped) == 1 and "20250813" in report.skipped[0][0]
    assert routed["blocks"].count() == 15


_VALID_DOWNLOAD_CFG = {
    "base_url": "https://gz.blockchair.com",
    "data_types": ["blocks", "transactions"],
    "file_format": "tsv.gz",
    "destination_dir": "data",
    "retention_days": 3,
}


def test_download_config_env_substitution(tmp_path):
    base = _VALID_DOWNLOAD_CFG
    # ${VAR:-default} falls back when unset
    cfg = load_download_config({**base, "api_key": "${BC_KEY:-sekrit}"}, env={})
    assert cfg.api_key == "sekrit"
    # ${VAR} resolves from the environment
    cfg = load_download_config(
        {**base, "base_url": "${BC_URL}"}, env={"BC_URL": "http://mirror.example"}
    )
    assert cfg.base_url == "http://mirror.example"
    # required key resolving empty → error
    with pytest.raises(ConfigError, match="BC_URL"):
        load_download_config({**base, "base_url": "${BC_URL}"}, env={})
    # JSON file path load + field mapping
    import json

    p = tmp_path / "cfg.json"
    p.write_text(json.dumps({**base, "retention_days": "7"}))
    loaded = load_download_config(p)
    assert loaded.retention_days == 7
    assert loaded.landing_dir == "data"
    assert loaded.data_types == ("blocks", "transactions")


def test_download_config_schema_rejections():
    base = _VALID_DOWNLOAD_CFG
    assert load_download_config(base).coin == "bitcoin"
    bad_cases = {
        "missing_required": {k: v for k, v in base.items() if k != "file_format"},
        "url_pattern": {**base, "base_url": "ftp://x"},
        "data_type_enum": {**base, "data_types": ["blocks", "wallets"]},
        "file_format_enum": {**base, "file_format": "csv"},
        "retention_type": {**base, "retention_days": 1.5},
        "retention_pattern": {**base, "retention_days": "three"},
    }
    for label, cfg in bad_cases.items():
        with pytest.raises(ConfigError):
            load_download_config(cfg)
            pytest.fail(f"{label} accepted")


def test_pattern_routing_probes_in_one_job(spark, tsv_files):
    # Validation must be ONE batched Spark job over all candidate files
    # (corrupt-record scan grouped by input_file_name), not a serial
    # driver-side probe job per file.
    sc = spark.sparkContext
    sc.setJobGroup("probe-batch", "pattern routing probe")
    try:
        routed, report = load_with_pattern_routing(
            spark, tsv_files, TABLE_FILE_PATTERNS, RAW_SCHEMAS
        )
    finally:
        jobs = sc.statusTracker().getJobIdsForGroup("probe-batch")
        sc.setJobGroup("", "")
    assert len(report.loaded) == 3 and len(report.skipped) == 1
    # Constant job count (scan + AQE final stage), NOT one probe job per
    # file — the old shape was len(files) serial jobs.
    assert len(jobs) <= 2, f"expected <=2 batched probe jobs for 4 files, got {len(jobs)}"


_DUMP_VALUES = {
    "long": lambda i: i,
    "double": lambda i: i + 0.5,
    "string": lambda i: f"s{i}",
    "timestamp": lambda i: f"2025-08-12 00:00:{i % 60:02d}",
}


def _dump_rows(schema, n: int, start: int = 0) -> list[list]:
    """``n`` well-formed dump rows for a raw table schema."""
    return [
        [_DUMP_VALUES[f.dataType.typeName()](start + i) for f in schema.fields]
        for i in range(n)
    ]


def _jobs_of(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_pattern_routing_validates_a_day_in_one_plan(spark, tmp_path):
    # One well-formed file per raw table plus one malformed one: every
    # table's files are checked by ONE corrupt-record plan, not one per
    # table, and only the malformed file is skipped.
    good = [
        str(write_gzip_tsv(
            tmp_path / f"blockchair_bitcoin_{table}_20250812.tsv.gz",
            schema.names, _dump_rows(schema, 3),
        ))
        for table, schema in RAW_SCHEMAS.items()
    ]
    rows = _dump_rows(RAW_SCHEMAS["inputs"], 3)
    rows[1][0] = "not_a_number"
    bad = str(write_gzip_tsv(
        tmp_path / "blockchair_bitcoin_inputs_20250813.tsv.gz", RAW_SCHEMAS["inputs"].names, rows
    ))
    (routed, report), jobs = _jobs_of(
        spark, "day-validation",
        lambda: load_with_pattern_routing(spark, good + [bad], TABLE_FILE_PATTERNS, RAW_SCHEMAS),
    )
    assert len(jobs) <= 2, f"expected <=2 jobs to validate five tables, got {len(jobs)}"
    assert [f for f, _ in report.skipped] == [bad]
    assert report.loaded == good
    assert {t: df.count() for t, df in routed.items()} == dict.fromkeys(RAW_SCHEMAS, 3)


def test_pattern_routing_truncated_gzip_takes_per_file_fallback(spark, tmp_path):
    # A truncated gzip kills the batch corrupt-record scan as a whole;
    # the per-file FAILFAST probes must then skip that file alone, even
    # when its first thousands of rows still decompress.
    blocks = RAW_SCHEMAS["blocks"]
    good = [
        str(write_gzip_tsv(
            tmp_path / f"blockchair_bitcoin_blocks_2025081{d}.tsv.gz",
            blocks.names, _dump_rows(blocks, 5, start=10 * d),
        ))
        for d in (0, 1)
    ]
    tx = RAW_SCHEMAS["transactions"]
    good.append(str(write_gzip_tsv(
        tmp_path / "blockchair_bitcoin_transactions_20250810.tsv.gz", tx.names, _dump_rows(tx, 4)
    )))
    truncated = write_gzip_tsv(
        tmp_path / "blockchair_bitcoin_blocks_20250812.tsv.gz", blocks.names, _dump_rows(blocks, 5000)
    )
    data = truncated.read_bytes()
    truncated.write_bytes(data[: len(data) // 2])
    (routed, report), jobs = _jobs_of(
        spark, "truncated-validation",
        lambda: load_with_pattern_routing(
            spark, good + [str(truncated)], TABLE_FILE_PATTERNS, RAW_SCHEMAS
        ),
    )
    assert [f for f, _ in report.skipped] == [str(truncated)]
    assert report.loaded == good
    # the failed batch job, then one probe per file (probes inherit the
    # caller's job group)
    assert len(jobs) >= 1 + len(good) + 1
    assert routed["blocks"].count() == 10 and routed["transactions"].count() == 4


def test_daily_partitions_and_retention(spark, tmp_path):
    base = str(tmp_path / "lake")
    for day in ["20250810", "20250811", "20250812"]:
        df = spark.range(3).withColumn("day", F.lit(day))
        write_daily_partition(df, base, "blocks", day)
    # idempotent overwrite of one partition
    write_daily_partition(spark.range(5), base, "blocks", "20250812")
    dropped = retention_sweep(base, "blocks", keep_after="20250811")
    assert dropped == ["date=20250810"]
    df = read_partitioned(spark, base, "blocks")
    counts = {r["date"]: r["n"] for r in df.groupBy("date").agg(F.count("*").alias("n")).collect()}
    assert counts == {20250811: 3, 20250812: 5}
    # partition pruning reaches the plan
    plan = df.filter(F.col("date") == 20250812)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "date" in plan


def test_incremental_batch_load(spark, tsv_files, tmp_path):
    base = str(tmp_path / "lake2")
    loaded = incremental_batch_load(
        spark, tsv_files[:3], RAW_SCHEMAS, base, retention_days_cutoff="20250811"
    )
    assert loaded == {"blocks": ["20250810", "20250811", "20250812"]}
    df = read_partitioned(spark, base, "blocks")
    assert sorted(r["date"] for r in df.select("date").distinct().collect()) == [
        20250811,
        20250812,
    ]


def test_materialize_modes(spark, tmp_path):
    df = spark.range(100).withColumn("k", F.col("id") % 7)
    v = materialize(df, "a_view", Materialization("view"))
    assert v.count() == 100 and spark.table("a_view").count() == 100
    t = materialize(
        df, "a_table", Materialization("table", cluster_by=("k",)), base_path=str(tmp_path)
    )
    assert t.count() == 100
    with pytest.raises(ValueError, match="base_path"):
        materialize(df, "no_lake", Materialization("table"))
    # clustered write produced sorted-within-file parquet
    import pyarrow.parquet as pq
    import glob

    files = glob.glob(f"{tmp_path}/a_table/*.parquet")
    assert files
    for fpath in files:
        ks = pq.read_table(fpath, columns=["k"])["k"].to_pylist()
        assert ks == sorted(ks)


def test_full_dag_runner_with_materialization(spark, tmp_path):
    fixdir = tmp_path / "fix"
    fixdir.mkdir()
    write_parquet(generate(), str(fixdir))
    raw = {
        n: spark.read.parquet(f"{fixdir}/{n}.parquet")
        for n in ["blocks", "transactions", "inputs", "outputs", "addresses"]
    }
    tables, checks = run_transform_dag(raw, base_path=str(tmp_path / "marts"))
    assert set(tables) == {
        "stg_blocks", "stg_transactions", "stg_inputs", "stg_outputs", "stg_addresses",
        "int_transaction_flows", "int_address_balances_with_history",
        "fct_transaction_traces", "dim_addresses", "dim_blocks",
    }
    assert all(c.passed for c in checks), [c.name for c in checks if not c.passed]
    assert (tmp_path / "marts" / "fct_transaction_traces").exists()
    assert tables["fct_transaction_traces"].count() > 0


def test_query_cache_ttl_and_retry(spark):
    clock = {"t": 0.0}
    cache = QueryCache(ttl_secs=10.0, _clock=lambda: clock["t"], _sleep=lambda s: None)
    builds = {"n": 0}

    def build():
        builds["n"] += 1
        return spark.range(3)

    assert len(cache.run("q", (1,), build)) == 3
    cache.run("q", (1,), build)
    assert builds["n"] == 1  # cached
    clock["t"] = 11.0
    cache.run("q", (1,), build)
    assert builds["n"] == 2  # expired

    fails = {"n": 0}

    def flaky():
        fails["n"] += 1
        if fails["n"] < 3:
            raise RuntimeError("boom")
        return spark.range(1)

    assert len(cache.run("flaky", (), flaky)) == 1 and fails["n"] == 3

    def dead():
        raise RuntimeError("always")

    with pytest.raises(RuntimeError):
        cache.run("dead", (), dead)


def test_streaming_windowed_counts(spark, tmp_path):
    from blockchair_etl_spark.io.sources import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    events_dir = str(tmp_path / "events_in")
    ev.withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(events_dir)
    schema = spark.read.parquet(events_dir).schema
    q = stream_windowed_counts(
        spark,
        events_dir,
        schema,
        checkpoint_dir=str(tmp_path / "ckpt"),
        out_dir=str(tmp_path / "out"),
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out"))
    # append mode emits exactly the FINALIZED windows: those whose end
    # precedes the final watermark (max event time - 2h)
    max_ts = ev.agg(F.max("ts")).head()[0]
    import datetime

    wm = max_ts - datetime.timedelta(hours=2)
    finalized = (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("w"), "event_type")
        .count()
        .filter(F.col("w") + F.expr("INTERVAL 1 HOUR") <= F.lit(wm))
        .count()
    )
    assert got.count() == finalized
    # second drain with no new files adds nothing (exactly-once)
    q2 = stream_windowed_counts(
        spark, events_dir, schema,
        checkpoint_dir=str(tmp_path / "ckpt"), out_dir=str(tmp_path / "out"),
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "out")).count() == finalized


def test_compact_small_files_preserves_rows_and_reduces_files(spark, tmp_path):
    from blockchair_etl_spark.io.sinks import compact_small_files

    path = str(tmp_path / "fragmented")
    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    df.repartition(64).write.parquet(path)
    import pathlib

    before = len(list(pathlib.Path(path).glob("*.parquet")))
    assert before >= 32
    after = compact_small_files(spark, path, target_file_bytes=10 * 1024 * 1024)
    assert after < before
    got = spark.read.parquet(path)
    assert got.count() == 10_000
    assert got.agg({"k": "sum"}).collect()[0][0] == sum(range(10_000))
    # already-compact dirs are left alone
    assert compact_small_files(spark, path, target_file_bytes=10 * 1024 * 1024) == after


def test_read_jsonl_with_corrupt_record_routing(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from blockchair_etl_spark.io.sources import read_jsonl

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"id": 1, "name": "alpha"}\n'
        '{"id": 2, "name": "beta"}\n'
        "this is not json at all\n"
        '{"id": 4, "name": "delta"}\n'
    )
    schema = StructType([StructField("id", LongType()), StructField("name", StringType())])
    df = read_jsonl(spark, str(p), schema=schema, keep_corrupt=True)
    rows = df.collect()
    assert len(rows) == 4  # bad line kept in-band, not dropped, not fatal
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert {r.id for r in good} == {1, 2, 4}
    assert len(bad) == 1 and "not json" in bad[0]._corrupt_record


def test_tsv_export_round_trips_through_read_tsv(spark, tmp_path):
    from blockchair_etl_spark.io.sinks import export_tsv
    from blockchair_etl_spark.io.sources import read_tsv

    df = spark.createDataFrame(
        [(1, "a\tb escaped", 1.5), (2, "plain", -2.25)], "k bigint, s string, v double"
    )
    out = str(tmp_path / "dump")
    export_tsv(df, out, compression="gzip", single_file=True)
    import pathlib

    files = list(pathlib.Path(out).glob("*.csv.gz"))
    assert len(files) == 1  # single gzip'd dump part, like the reference feed
    back = read_tsv(spark, out, schema=df.schema)
    assert sorted((r.k, r.s, float(r.v)) for r in back.collect()) == sorted(
        (r.k, r.s, float(r.v)) for r in df.collect()
    )


def test_columnar_write_orc_and_zstd_parquet(spark, tmp_path):
    from blockchair_etl_spark.io.sinks import write_columnar

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).cast("double").alias("v")
    )
    orc_path = str(tmp_path / "t_orc")
    write_columnar(df, orc_path, fmt="orc", compression="zstd")
    assert spark.read.orc(orc_path).count() == 1000
    pq_path = str(tmp_path / "t_pq")
    write_columnar(df, pq_path, fmt="parquet", compression="zstd")
    got = spark.read.parquet(pq_path)
    assert got.count() == 1000
    import pathlib

    assert any("zstd" in f.name for f in pathlib.Path(pq_path).glob("*.parquet"))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        write_columnar(df, str(tmp_path / "t_avro"), fmt="avro")


def test_range_sorted_write_files_are_disjoint(spark, tmp_path):
    from blockchair_etl_spark.io.sinks import write_range_sorted

    df = spark.range(0, 100_000).select(
        (F.col("id") * 7919 % 100_000).alias("k"), F.col("id").alias("payload")
    )
    path = str(tmp_path / "range_sorted")
    write_range_sorted(df, path, ["k"], num_files=6)
    import pathlib

    spans = []
    for f in pathlib.Path(path).glob("*.parquet"):
        part = spark.read.parquet(str(f))
        lo, hi = part.agg(F.min("k"), F.max("k")).collect()[0]
        rows = part.select("k").collect()
        assert [r.k for r in rows] == sorted(r.k for r in rows)  # sorted within file
        spans.append((lo, hi))
    spans.sort()
    for (l1, h1), (l2, h2) in zip(spans, spans[1:]):
        assert h1 <= l2  # files cover disjoint key ranges → min/max pruning works
    assert spark.read.parquet(path).count() == 100_000


def test_observe_metrics_ride_the_batch_plan(spark):
    from pyspark.sql import Observation

    obs = Observation("ingest_metrics")
    df = spark.range(0, 10_000).select(
        F.col("id"), F.when(F.col("id") % 100 == 0, None).otherwise(F.col("id")).alias("v")
    )
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.col("v").isNull().cast("bigint")).alias("null_v"),
    )
    # metrics accumulate during the SAME action — no second scan
    assert observed.filter(F.col("v").isNotNull()).count() == 9_900
    assert obs.get["rows_seen"] == 10_000 and obs.get["null_v"] == 100


def test_streaming_hopping_windows_match_batch(spark, tmp_path):
    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.queryset import QUERIES

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    events_dir = str(tmp_path / "hop_in")
    ev.withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(events_dir)
    schema = spark.read.parquet(events_dir).schema
    q = stream_windowed_counts(
        spark,
        events_dir,
        schema,
        checkpoint_dir=str(tmp_path / "hop_ckpt"),
        out_dir=str(tmp_path / "hop_out"),
        slide="30 minutes",
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "hop_out"))
    # every emitted (finalized) window agrees exactly with the batch
    # hopping query on the same data
    batch = QUERIES["hopping_window_events"].fn(spark, "/root/testdata/sf0.001")
    batch_rows = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in batch.collect()
    }
    emitted = got.collect()
    assert len(emitted) > 0
    for r in emitted:
        key = (r.window_start.replace(tzinfo=None), r.event_type)
        assert key in batch_rows
        assert (r.n_events, r.total_value) == batch_rows[key]
    # hopping windows: each finalized timestamp appears in ~2 windows →
    # strictly more emitted windows than the tumbling drain produces
    assert got.select("window_start").distinct().count() > got.select(
        F.date_trunc("hour", "window_start")
    ).distinct().count()


def test_config_quality_suite_runs_as_one_relation(spark, tmp_path, sf_dir):
    """The dbt-schema-shaped declarative suite: YAML/dict config parses
    to checks, the report is ONE union-of-aggregates relation, and a
    planted violation is reported with its count."""
    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.quality.suite import (
        load_suite,
        parse_suite,
        run_config_suite,
    )

    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    # plant one duplicate + one orphan FK row
    bad = cust.limit(1).unionByName(cust.limit(1)).withColumn(
        "c_nationkey", F.lit(9999)
    )
    tables = {"customer": cust.unionByName(bad.limit(1)), "nation": nation}

    config = {
        "models": [
            {
                "name": "customer",
                "columns": [
                    {"name": "c_custkey", "tests": ["unique", "not_null"]},
                    {
                        "name": "c_mktsegment",
                        "tests": [
                            {"accepted_values": {"values": [
                                "AUTOMOBILE", "BUILDING", "FURNITURE",
                                "HOUSEHOLD", "MACHINERY",
                            ]}}
                        ],
                    },
                    {
                        "name": "c_nationkey",
                        "tests": [
                            {"relationships": {"to": "nation", "field": "n_nationkey"}}
                        ],
                    },
                ],
                "tests": [
                    {"unique_combination_of_columns": {
                        "combination": ["c_custkey", "c_name"]}}
                ],
            }
        ]
    }
    report = run_config_suite(tables, config)
    got = {(r.model, r.column, r.test): (r.n_violations, r.passed) for r in report.collect()}
    assert got[("customer", "c_custkey", "unique")] == (1, False)  # the dup key
    assert got[("customer", "c_custkey", "not_null")] == (0, True)
    assert got[("customer", "c_mktsegment", "accepted_values")][1] is True
    assert got[("customer", "c_nationkey", "relationships")] == (1, False)  # orphan
    assert got[("customer", "", "unique_combination_of_columns")] == (1, False)
    assert len(got) == 5

    # YAML file round-trip parses to the identical suite
    import yaml

    p = tmp_path / "schema.yml"
    p.write_text(yaml.safe_dump(config))
    assert load_suite(p) == parse_suite(config)

    # unknown tests are rejected loudly
    with pytest.raises(ValueError, match="unknown test"):
        parse_suite({"models": [{"name": "m", "columns": [
            {"name": "c", "tests": ["uniq"]}]}]})


def test_parquet_merge_schema_across_daily_drift(spark, tmp_path):
    """Landing-layout schema drift: day 2 adds a column; a mergeSchema
    read unions the layouts (old days null-filled), and an explicit
    widened schema gives the same result without the footer-merge cost
    — the read-side contract the widening ratchet (schema/inference)
    feeds at scale."""
    root = tmp_path / "daily"
    spark.createDataFrame(
        [(1, "a")], "id bigint, name string"
    ).write.parquet(str(root / "date=20240101"))
    spark.createDataFrame(
        [(2, "b", 9.5)], "id bigint, name string, score double"
    ).write.parquet(str(root / "date=20240102"))

    merged = spark.read.option("mergeSchema", "true").parquet(str(root))
    assert set(merged.columns) == {"id", "name", "score", "date"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].score is None and rows[2].score == 9.5

    # explicit widened schema: same rows, no mergeSchema footer pass
    widened = spark.read.schema(
        "id bigint, name string, score double, date int"
    ).parquet(str(root))
    assert {(r.id, r.score) for r in widened.collect()} == {
        (1, None), (2, 9.5)
    }


def test_batch_store_retention_and_flatten(spark, tmp_path):
    """Streaming-store maintenance (the batch_id twin of the date-keyed
    sweep): build a store through the real prep processor over three
    batches, keep the newest two, then flatten the survivors into the
    plain relation the corpus-global stages read."""
    from blockchair_etl_spark.io.sinks import (
        batch_store_retention,
        flatten_batch_store,
    )
    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.llmdata.classify import hashed_weights
    from blockchair_etl_spark.streaming.prep_stream import (
        make_prep_batch_processor,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    store = str(tmp_path / "prep_store")
    proc = make_prep_batch_processor(hashed_weights(spark, n_features=64), store)
    for i in range(3):
        proc(docs.filter(F.col("doc_id") % 3 == i), i)

    full = spark.read.parquet(store)
    keep_ids = {
        r.doc_id for r in full.filter(F.col("batch_id") >= 1).collect()
    }
    assert batch_store_retention(store, keep_last=2) == ["batch_id=0"]
    assert batch_store_retention(store, keep_last=2) == []  # idempotent

    after = spark.read.parquet(store)
    assert {r.doc_id for r in after.collect()} == keep_ids
    assert set(after.select("batch_id").distinct().toPandas()["batch_id"]) == {1, 2}

    out = str(tmp_path / "prep_flat")
    n = flatten_batch_store(spark, store, out, n_files=2)
    flat = spark.read.parquet(out)
    assert n == len(keep_ids) and "batch_id" not in flat.columns
    assert {r.doc_id for r in flat.collect()} == keep_ids
    # re-flatten after more stream progress overwrites atomically
    proc(docs.filter(F.col("doc_id") % 3 == 0), 3)
    n2 = flatten_batch_store(spark, store, out, n_files=2)
    assert n2 == spark.read.parquet(store).count()

    # crash recovery: a failure between the two swap renames leaves
    # out_dir absent and .old__flatten holding the only output — the
    # next flatten must RESTORE it (not delete it) before rewriting,
    # so a second crash during the rewrite still leaves output behind
    import os

    os.rename(out, out + ".old__flatten")
    n3 = flatten_batch_store(spark, store, out, n_files=2)
    assert n3 == n2
    assert not os.path.exists(out + ".old__flatten")
    assert not os.path.exists(out + ".tmp__flatten")
    assert spark.read.parquet(out).count() == n2


def test_media_store_flatten_retention_roundtrip(spark, tmp_path):
    """Store maintenance over the MEDIA fingerprint store (r10 verdict
    #5): a batch_id-partitioned store built by the real media stream
    processor survives flatten + retention, and the flattened relation
    is probe-equivalent — simhash_cross_pairs against the flattened
    store finds exactly the pairs the partitioned store finds."""
    from blockchair_etl_spark.io.sinks import (
        batch_store_retention,
        flatten_batch_store,
    )
    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.llmdata.dedup import (
        media_byte_fingerprints,
        simhash_cross_pairs,
    )
    from blockchair_etl_spark.streaming.dedup_stream import (
        make_media_batch_processor,
    )
    from pyspark.sql import functions as F

    media = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("content"),
    )
    store = str(tmp_path / "media_store")
    pairs_dir = str(tmp_path / "media_pairs")
    proc = make_media_batch_processor(store, pairs_dir, exactly_once=True)
    for i in range(3):
        proc(media.filter(F.col("media_id") % 3 == i), i)

    # layout: same batch_id partitioning as the prep store
    full = spark.read.parquet(store)
    assert set(full.columns) == {"doc", "simhash", "batch_id"}

    # flatten, then probe the flattened store: cross pairs of a fresh
    # batch must equal the probe against the partitioned store
    flat_dir = str(tmp_path / "media_flat")
    n = flatten_batch_store(spark, store, flat_dir, n_files=2)
    flat = spark.read.parquet(flat_dir)
    assert n == full.count() and "batch_id" not in flat.columns
    probe = media.filter(F.col("media_id") % 7 == 0)
    probe_fp = media_byte_fingerprints(probe)
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_cross_pairs(probe_fp, flat).collect()
    }
    want = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_cross_pairs(probe_fp, full.drop("batch_id")).collect()
    }
    assert got == want and got

    # retention drops the oldest batch; the flattened copy (taken
    # before the sweep) still holds the full index — the documented
    # "flatten first if the full index must survive" contract
    keep_ids = {
        r.doc for r in full.filter(F.col("batch_id") >= 1).collect()
    }
    assert batch_store_retention(store, keep_last=2) == ["batch_id=0"]
    assert {r.doc for r in spark.read.parquet(store).collect()} == keep_ids
    assert spark.read.parquet(flat_dir).count() == n


def test_embedding_store_flatten_retention_roundtrip(spark, tmp_path):
    """Store maintenance over the EMBEDDING LSH-bucket store (r10
    verdict #5): the store carries bucket + norm columns beyond the
    (id, payload) shape — flatten must preserve them all, and the
    incremental probe against the flattened store must return
    bit-identical pairs (bucket ids and exact-decimal norms survive the
    parquet round-trip + compaction)."""
    from blockchair_etl_spark.io.sinks import (
        batch_store_retention,
        flatten_batch_store,
    )
    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.llmdata.dedup import (
        build_embedding_store,
        incremental_embedding_dedup,
    )
    from blockchair_etl_spark.streaming.dedup_stream import (
        _overwrite_batch_partition,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    store_dir = str(tmp_path / "emb_store")
    # day-partitioned writes of the bucketed index (the batch-side
    # store maintenance a daily incremental loop performs)
    for i in range(3):
        _overwrite_batch_partition(
            build_embedding_store(
                emb.filter(F.col("vec_id") % 3 == i), dim=64, n_planes=4
            ),
            i,
            store_dir,
        )
    full = spark.read.parquet(store_dir)
    assert set(full.columns) == {"id", "v", "blk", "norm", "norm_d", "batch_id"}

    flat_dir = str(tmp_path / "emb_flat")
    n = flatten_batch_store(spark, store_dir, flat_dir, n_files=2)
    flat = spark.read.parquet(flat_dir)
    assert n == emb.count()
    assert set(flat.columns) == {"id", "v", "blk", "norm", "norm_d"}

    # probe parity after compaction: bit-identical pairs (cosine is the
    # exact-decimal rescore, so == comparison is legitimate)
    probe = emb.filter(F.col("vec_id") % 11 == 0)
    got_pairs, _ = incremental_embedding_dedup(
        probe, flat, dim=64, threshold=0.3, n_planes=4
    )
    want_pairs, _ = incremental_embedding_dedup(
        probe, full.drop("batch_id"), dim=64, threshold=0.3, n_planes=4
    )
    got = {(r.new_id, r.existing_id): r.cosine for r in got_pairs.collect()}
    want = {(r.new_id, r.existing_id): r.cosine for r in want_pairs.collect()}
    assert got == want and got

    # retention: oldest batch partition dropped, newer two intact
    keep_ids = {r.id for r in full.filter(F.col("batch_id") >= 1).collect()}
    assert batch_store_retention(store_dir, keep_last=2) == ["batch_id=0"]
    assert {r.id for r in spark.read.parquet(store_dir).collect()} == keep_ids


def test_ann_index_store_flatten_retention_roundtrip(spark, tmp_path):
    """Store maintenance over the exactly-once IVF-PQ index store
    (r13): a batch_id-partitioned index built by the real streaming
    processor survives flatten + retention, and the flattened relation
    is PROBE-equivalent — ivfpq_adc_topk_from_index over the flattened
    copy returns bit-identical top-k to the partitioned store."""
    from pyspark.sql import functions as F

    from blockchair_etl_spark.io.sinks import (
        batch_store_retention,
        flatten_batch_store,
    )
    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.llmdata.ivf import seed_centroids
    from blockchair_etl_spark.llmdata.pq import (
        ivfpq_adc_topk_from_index,
        residual_frame,
        seed_pq_codebooks,
    )
    from blockchair_etl_spark.streaming.ann_stream import (
        make_ivfpq_batch_processor,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = seed_centroids(emb, n_centroids=4)
    res = residual_frame(emb, cents)
    books = seed_pq_codebooks(res, dim=64, m=4, ksub=8, vec_col="residual")

    store = str(tmp_path / "ann_store")
    proc = make_ivfpq_batch_processor(store, cents, books, exactly_once=True)
    for i in range(3):
        proc(emb.filter(F.col("vec_id") % 3 == i), i)

    full = spark.read.parquet(store)
    assert set(full.columns) == {"vec_id", "ivf_cluster", "codes", "batch_id"}

    flat_dir = str(tmp_path / "ann_flat")
    n = flatten_batch_store(spark, store, flat_dir, n_files=2)
    flat = spark.read.parquet(flat_dir)
    assert n == full.count() and "batch_id" not in flat.columns

    qv = [float(v) for v in cents[0]]
    got = [
        (r.vec_id, r.adc)
        for r in ivfpq_adc_topk_from_index(flat, cents, books, qv, k=10).collect()
    ]
    want = [
        (r.vec_id, r.adc)
        for r in ivfpq_adc_topk_from_index(
            full.drop("batch_id"), cents, books, qv, k=10
        ).collect()
    ]
    assert got == want and len(got) == 10

    # retention drops the oldest batch; the flattened copy still holds
    # the full index (the "flatten first" contract)
    keep_ids = {r.vec_id for r in full.filter(F.col("batch_id") >= 1).collect()}
    assert batch_store_retention(store, keep_last=2) == ["batch_id=0"]
    assert {r.vec_id for r in spark.read.parquet(store).collect()} == keep_ids
    assert spark.read.parquet(flat_dir).count() == n


def test_winnowing_store_flatten_retention_roundtrip(spark, tmp_path):
    """Store maintenance over the WINNOWING fingerprint store (r16
    verdict #3): a batch_id-partitioned store built by the real
    winnowing stream processor survives flatten + retention. The
    store's load-bearing denormalization — n_fp on every fingerprint
    row, which is what lets the cross probe compute Jaccard
    denominators without a store-wide per-doc aggregation — must
    survive compaction bit-exactly, and a post-flatten cross probe
    must return identical pairs to the partitioned store."""
    from pyspark.sql import functions as F

    from blockchair_etl_spark.io.sinks import (
        batch_store_retention,
        flatten_batch_store,
    )
    from blockchair_etl_spark.io.sources import load_table
    from blockchair_etl_spark.llmdata.text import (
        winnowing_cross_pairs,
        winnowing_fingerprint_store,
    )
    from blockchair_etl_spark.streaming.dedup_stream import (
        make_winnowing_batch_processor,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    store = str(tmp_path / "win_store")
    pairs_dir = str(tmp_path / "win_pairs")
    proc = make_winnowing_batch_processor(store, pairs_dir, exactly_once=True)
    for i in range(3):
        proc(docs.filter(F.col("doc_id") % 3 == i), i)

    # layout: same batch_id partitioning as the sibling stores, with
    # the winnowing-specific denormalized n_fp column
    full = spark.read.parquet(store)
    assert set(full.columns) == {"doc", "fp", "n_fp", "batch_id"}

    flat_dir = str(tmp_path / "win_flat")
    n = flatten_batch_store(spark, store, flat_dir, n_files=2)
    flat = spark.read.parquet(flat_dir)
    assert n == full.count()
    assert set(flat.columns) == {"doc", "fp", "n_fp"}

    # the denormalized n_fp survives compaction bit-exactly: on every
    # flattened row it equals a recount of that doc's fingerprint rows
    recount = flat.groupBy("doc").agg(
        F.count(F.lit(1)).alias("__n"),
        F.min("n_fp").alias("__lo"),
        F.max("n_fp").alias("__hi"),
    )
    assert (
        recount.filter(
            (F.col("__n") != F.col("__lo")) | (F.col("__lo") != F.col("__hi"))
        ).count()
        == 0
    )

    # probe parity after compaction: winnowing_cross_pairs against the
    # flattened store returns exactly the pairs the partitioned store
    # returns (jaccard is a deterministic bigint/bigint division, so
    # exact comparison is legitimate)
    probe = winnowing_fingerprint_store(docs.filter(F.col("doc_id") % 7 == 0))
    got = {
        (r.id_a, r.id_b, r.n_shared, r.jaccard)
        for r in winnowing_cross_pairs(probe, flat).collect()
    }
    want = {
        (r.id_a, r.id_b, r.n_shared, r.jaccard)
        for r in winnowing_cross_pairs(probe, full.drop("batch_id")).collect()
    }
    assert got == want and got

    # retention drops the oldest batch; the flattened copy (taken
    # before the sweep) still holds the full index
    keep = {(r.doc, r.fp) for r in full.filter(F.col("batch_id") >= 1).collect()}
    assert batch_store_retention(store, keep_last=2) == ["batch_id=0"]
    assert {(r.doc, r.fp) for r in spark.read.parquet(store).collect()} == keep
    assert spark.read.parquet(flat_dir).count() == n
