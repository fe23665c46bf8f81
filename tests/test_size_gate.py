"""The size gate (``io.sources.one_partition_if_small``) on both sides of
``spark.sql.autoBroadcastJoinThreshold``: a day-size relation plans as
one partition, so its aggregates need no exchange and run as one job; a
relation of unknown or unreadable size, or any relation with the
threshold off, keeps its partitioned plan."""

import pytest
from py4j.protocol import Py4JError
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from blockchair_etl_spark.caching import jvm_plan
from blockchair_etl_spark.io import sinks, sources
from blockchair_etl_spark.io.sinks import REFERENCE_MATERIALIZATIONS, materialize
from blockchair_etl_spark.quality.checks import REFERENCE_SUITE, run_checks
from blockchair_etl_spark.query.analytics import distinct_transaction_count
from blockchair_etl_spark.transform import intermediate, staging

from blockchain_fixtures import generate, write_parquet

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _jobs(spark, group: str, fn):
    """→ (fn's result, ids of the jobs it ran), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _executed(df) -> str:
    return jvm_plan(df, "executedPlan").toString()


def _mart(spark, path: str):
    """A day-size fct_transaction_traces stand-in, written and read back
    through ``materialize`` with the reference's clustering."""
    df = spark.range(0, 400, 1, 4).select(
        F.format_string("tx%03d", F.col("id") % 150).alias("transaction_hash"),
        F.format_string("a%02d", F.col("id") % 17).alias("source_address"),
        F.format_string("a%02d", F.col("id") % 13).alias("destination_address"),
        F.timestamp_seconds(F.lit(1_709_251_200) + F.col("id") * 60).alias("tx_time"),
        (F.col("id") % 5 / 1000).alias("fee_btc"),
    )
    return materialize(
        df, "fct_transaction_traces", REFERENCE_MATERIALIZATIONS["fct_transaction_traces"], path
    )


def test_materialized_mart_panel_runs_one_job(spark, tmp_path):
    window = ("2024-02-29 00:00:00", "2024-03-02 00:00:00")  # every row, in any zone
    mart = _mart(spark, str(tmp_path / "on"))
    panel = distinct_transaction_count(mart, *window)
    assert "Exchange" not in _executed(panel)
    rows, jobs = _jobs(spark, "gate-on", panel.collect)
    assert len(jobs) == 1, jobs
    assert rows[0]["total_transactions"] == 150

    before = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, "-1")
    try:
        mart = _mart(spark, str(tmp_path / "off"))
        panel = distinct_transaction_count(mart, *window)
        assert "Exchange" in _executed(panel)
        rows, jobs = _jobs(spark, "gate-off", panel.collect)
    finally:
        spark.conf.set(THRESHOLD, before)
    assert len(jobs) > 1, jobs
    assert rows[0]["total_transactions"] == 150


def test_frame_without_statistics_keeps_its_partitions(spark):
    df = spark.createDataFrame([(i, i % 3) for i in range(64)], "id long, k long")
    assert int(str(jvm_plan(df, "optimizedPlan").stats().sizeInBytes())) == (1 << 63) - 1
    before = spark.conf.get(THRESHOLD)
    # even at the largest threshold, "no statistics" does not read as small
    spark.conf.set(THRESHOLD, str((1 << 63) - 1))
    try:
        assert sources.one_partition_if_small(df, "local rows") is df
    finally:
        spark.conf.set(THRESHOLD, before)
    assert df.rdd.getNumPartitions() > 1


def test_failed_size_estimate_warns_and_keeps_the_plan(spark, monkeypatch):
    def broken(df, stage="analyzed"):
        raise Py4JError("forced")

    monkeypatch.setattr(sources, "jvm_plan", broken)
    df = spark.range(0, 100, 1, 4)
    with pytest.warns(RuntimeWarning, match="size estimate of the probe relation failed"):
        out = sources.one_partition_if_small(df, "the probe relation")
    assert out is df
    assert out.rdd.getNumPartitions() == 4


def test_reference_suite_runs_one_job_on_day_size_inputs(spark, tmp_path):
    paths = write_parquet(generate(), str(tmp_path))
    raw = {n: sources.one_partition_if_small(spark.read.parquet(p), n) for n, p in paths.items()}
    stg = {
        f"stg_{n}": getattr(staging, f"stg_{n}")(raw[n])
        for n in ("blocks", "transactions", "inputs", "outputs", "addresses")
    }
    checks, jobs = _jobs(spark, "suite", lambda: run_checks(stg))
    assert len(jobs) == 1, jobs
    assert [c.name for c in checks] == [f"{t}.{k}.{c}" for t, k, c in REFERENCE_SUITE]
    assert all(c.passed for c in checks), [c.name for c in checks if not c.passed]


def test_single_partition_join_writes_without_a_shuffle(spark, tmp_path, monkeypatch):
    """Without CBO a join's size estimate is the product of its inputs',
    so the gate declines int_transaction_flows at day size; its plan
    over gated inputs is already one partition, and the write sorts it
    in place instead of hash-partitioning it first."""
    paths = write_parquet(generate(), str(tmp_path))
    raw = {n: sources.one_partition_if_small(spark.read.parquet(p), n) for n, p in paths.items()}
    flows = intermediate.int_transaction_flows(
        *(getattr(staging, f"stg_{n}")(raw[n]) for n in ("blocks", "transactions", "inputs", "outputs"))
    )
    assert sources.one_partition_if_small(flows, "flows") is flows
    written = []
    parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        written.append(_executed(self._df))
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    name = "int_transaction_flows"
    out = materialize(flows, name, REFERENCE_MATERIALIZATIONS[name], str(tmp_path / "lake"))
    assert "REPARTITION_BY_COL" not in written[0]
    assert len(list((tmp_path / "lake" / name).glob("*.parquet"))) == 1
    assert out.count() == flows.count()


def test_partitioned_or_unreadable_plan_is_not_one_partition(spark, monkeypatch):
    df = spark.range(0, 100, 1, 4)
    assert not sinks._plans_one_partition(df, "four slices")
    assert sinks._plans_one_partition(df.coalesce(1), "one slice")

    def broken(df, stage="analyzed"):
        raise Py4JError("forced")

    monkeypatch.setattr(sinks, "jvm_plan", broken)
    with pytest.warns(RuntimeWarning, match="physical partitioning of the probe relation failed"):
        assert not sinks._plans_one_partition(df.coalesce(1), "the probe relation")
