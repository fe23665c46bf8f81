"""The generated-class cache: a ``get_session`` session holds the
engine's whole plan set, so a warm daily run compiles no code, and a
session built elsewhere with a smaller cache is named once."""

import warnings

from blockchair_etl_spark import pipeline, session
from blockchair_etl_spark.io.sources import one_partition_if_small

from blockchain_fixtures import generate, write_parquet


def _compiles(spark) -> int:
    """Janino compiles this JVM has run (a cache hit compiles nothing)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_get_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get(session.CODEGEN_CACHE_CONF) == str(session.CODEGEN_CACHE_ENTRIES)


def test_second_dag_run_compiles_nothing(spark, tmp_path):
    """The unit-fixture DAG with its checks compiles ~130 classes, more
    than Spark's default cache of 100, so at that size the second run
    recompiled more than 100 of them. The inputs are size-gated as the routed
    load gates them: with shuffles in the plan, AQE numbers the codegen
    stages of the re-planned suite in the order stages finish, which
    changes the generated source from run to run."""
    paths = write_parquet(generate(), str(tmp_path))

    def run() -> int:
        raw = {n: one_partition_if_small(spark.read.parquet(p), n) for n, p in paths.items()}
        before = _compiles(spark)
        pipeline.run_transform_dag(raw, base_path=str(tmp_path / "lake"))
        return _compiles(spark) - before

    run()
    assert run() == 0


def test_small_codegen_cache_warns_once_per_session(spark, monkeypatch):
    """A session the package did not build cannot grow its static cache:
    prepare_session names the conf once per session and still applies
    the runtime confs."""
    monkeypatch.setattr(session, "_codegen_cache_entries", lambda s: 100)
    other = spark.newSession()
    other.conf.set("spark.sql.session.timeZone", "America/New_York")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        session.prepare_session(other)
        session.prepare_session(other)
        session.prepare_session(spark)  # checked when get_session built it
    msgs = [str(w.message) for w in caught if issubclass(w.category, RuntimeWarning)]
    assert len(msgs) == 1, msgs
    assert session.CODEGEN_CACHE_CONF in msgs[0]
    assert str(session.CODEGEN_CACHE_ENTRIES) in msgs[0]
    assert other.conf.get("spark.sql.session.timeZone") == "UTC"
