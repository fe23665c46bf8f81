"""run_transform_dag runs its independent branches on worker threads:
the result must be the serial order's, a failing branch must surface
once after every branch has returned, the caller's job group must reach
the workers' jobs, and table models must read back with the schema of
their files."""

import threading

import pytest

from blockchair_etl_spark import pipeline
from blockchair_etl_spark.quality.checks import REFERENCE_SUITE

from blockchain_fixtures import generate, write_parquet

SERIAL_ORDER = [
    "stg_blocks",
    "stg_transactions",
    "stg_inputs",
    "stg_outputs",
    "stg_addresses",
    "int_transaction_flows",
    "int_address_balances_with_history",
    "fct_transaction_traces",
    "dim_addresses",
    "dim_blocks",
]
TABLE_MODELS = SERIAL_ORDER[5:]


@pytest.fixture(scope="module")
def raw(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("dag_runner_fixture")
    write_parquet(generate(), str(d))
    return {
        n: spark.read.parquet(f"{d}/{n}.parquet")
        for n in ["blocks", "transactions", "inputs", "outputs", "addresses"]
    }


def _marker_job(sc, group: str) -> int:
    """Run one trivial job in ``group``; → its job id."""
    sc.setJobGroup(group, group)
    sc.parallelize([0], 1).count()
    return max(sc.statusTracker().getJobIdsForGroup(group))


def _dag_threads() -> list[str]:
    return [t.name for t in threading.enumerate() if t.name.startswith("run_transform_dag")]


@pytest.fixture(scope="module")
def built(spark, raw, tmp_path_factory):
    """One DAG build under a caller-set job group, bracketed by marker
    jobs: → (tables, checks, lake path, job ids between the markers,
    job ids of the caller's group)."""
    sc = spark.sparkContext
    lake = str(tmp_path_factory.mktemp("dag_runner_lake"))
    try:
        before = _marker_job(sc, "dag-before")
        sc.setJobGroup("dag-caller", "run_transform_dag under a caller's job group")
        tables, checks = pipeline.run_transform_dag(raw, base_path=lake)
        after = _marker_job(sc, "dag-after")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    window = list(range(before + 1, after))
    return tables, checks, lake, window, sorted(sc.statusTracker().getJobIdsForGroup("dag-caller"))


def test_tables_and_checks_keep_the_serial_order(built):
    tables, checks, *_ = built
    assert list(tables) == SERIAL_ORDER
    assert [c.name for c in checks] == [f"{t}.{k}.{c}" for t, k, c in REFERENCE_SUITE]
    assert checks[2].name == "stg_addresses.combo.['address']"
    assert all(c.passed for c in checks), [c.name for c in checks if not c.passed]
    assert not _dag_threads()


def test_caller_job_group_covers_worker_jobs(built):
    # Every job launched between the two marker jobs, the worker
    # threads' writes and the suite included, carries the caller's group.
    *_, window, grouped = built
    assert len(window) >= len(TABLE_MODELS) + 1
    assert grouped == window


def test_table_models_read_back_with_their_file_schema(spark, built):
    tables, _, lake, *_ = built
    for model in TABLE_MODELS:
        assert tables[model].schema == spark.read.parquet(f"{lake}/{model}").schema, model
        assert tables[model].count() == spark.read.parquet(f"{lake}/{model}").count(), model


def test_failing_branch_raises_once_after_every_branch_returns(raw, tmp_path, monkeypatch):
    class Boom(RuntimeError):
        pass

    materialize, run_checks = pipeline.materialize, pipeline.run_checks
    finished: list[str] = []

    def flaky_materialize(df, name, cfg, base_path=None):
        if name == "dim_blocks":  # the shortest branch fails first
            raise Boom(name)
        out = materialize(df, name, cfg, base_path=base_path)
        finished.append(name)
        return out

    def recorded_checks(tables):
        out = run_checks(tables)
        finished.append("checks")
        return out

    monkeypatch.setattr(pipeline, "materialize", flaky_materialize)
    monkeypatch.setattr(pipeline, "run_checks", recorded_checks)
    with pytest.raises(Boom) as raised:
        pipeline.run_transform_dag(raw, base_path=str(tmp_path))
    assert str(raised.value) == "dim_blocks"
    # the other branches ran to their ends before the error came back
    assert {"fct_transaction_traces", "dim_addresses", "checks"} <= set(finished)
    assert not _dag_threads()
