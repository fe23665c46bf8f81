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
    incremental_batch_load,
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
    loaded, skipped = incremental_batch_load(
        spark, tsv_files[:3], RAW_SCHEMAS, base, retention_days_cutoff="20250811"
    )
    assert loaded == {"blocks": ["20250810", "20250811", "20250812"]}
    assert skipped == []
    df = read_partitioned(spark, base, "blocks")
    assert sorted(r["date"] for r in df.select("date").distinct().collect()) == [
        20250811,
        20250812,
    ]


def test_incremental_batch_load_skips_malformed_file(spark, tsv_files, tmp_path):
    """The malformed 20250813 dump is skipped whole, as the pattern-routed
    load skips it, instead of landing as a partition of NULL-id rows."""
    base = tmp_path / "lake3"
    loaded, skipped = incremental_batch_load(spark, tsv_files, RAW_SCHEMAS, str(base))
    assert loaded == {"blocks": ["20250810", "20250811", "20250812"]}
    assert [f for f, _ in skipped] == [tsv_files[3]]
    assert sorted(p.name for p in (base / "blocks").iterdir() if p.is_dir()) == [
        "date=20250810",
        "date=20250811",
        "date=20250812",
    ]
    df = read_partitioned(spark, str(base), "blocks")
    assert df.filter(F.col("id").isNull()).count() == 0


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
