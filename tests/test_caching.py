"""Deferred-release cache registry: no persisted blocks may outlive a
parity-harness query (the round-5 advice: registry pipelines persisted
but never unpersisted, accumulating MEMORY_AND_DISK blocks across
invocations in a long-lived session)."""

import pytest
from py4j.protocol import Py4JError

from blockchair_etl_spark import caching
from blockchair_etl_spark.caching import release_tracked, tracked_count, tracked_persist
from blockchair_etl_spark.testing import check_query


def _n_cached_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_tracked_persist_released_on_release(spark):
    release_tracked()
    base = _n_cached_rdds(spark)
    df = tracked_persist(spark.range(100).selectExpr("id", "id * 2 AS y"))
    assert df.count() == 100
    assert tracked_count() == 1
    assert _n_cached_rdds(spark) == base + 1
    assert release_tracked(blocking=True) == 1
    assert tracked_count() == 0
    assert _n_cached_rdds(spark) == base


def test_parity_run_leaves_no_cached_blocks(spark, sf_dir):
    """Every persisting registry entry, run through the parity path,
    must leave the session's cache empty afterwards."""
    release_tracked(blocking=True)
    # delta-based: other test files may hold their own (untracked,
    # properly scoped) caches when the suite runs in one session
    base = _n_cached_rdds(spark)
    for name in (
        "corpus_prep_v2_pipeline",
        "dedup_incremental_minhash",
        "dedup_incremental_embedding",
        "dedup_minhash_lsh",
        "graph_pagerank",
    ):
        res = check_query(spark, sf_dir, name)
        assert res.ok, (name, res.mismatches)
        assert tracked_count() == 0, name
    # one-sided: the async ContextCleaner may concurrently collect
    # OTHER suites' out-of-scope cached RDDs (count can only go down
    # from that); what must not happen is our queries ADDING blocks
    assert _n_cached_rdds(spark) <= base


def test_release_local_checkpoint_rdd_backed_frame_falls_back(spark):
    """Advisor r12: an RDD-backed frame (createDataFrame over an RDD)
    also roots at LogicalRDD, but its cache lives in the CacheManager,
    not the plan RDD — release_local_checkpoint must fall back to
    df.unpersist() (returning False) instead of unpersisting the
    blockless plan RDD and reporting a checkpoint release."""
    from pyspark.storagelevel import StorageLevel

    from blockchair_etl_spark.caching import release_local_checkpoint

    release_tracked(blocking=True)
    base = _n_cached_rdds(spark)
    rdd = spark.sparkContext.parallelize([(i,) for i in range(10)])
    df = spark.createDataFrame(rdd, "id bigint").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    assert df.count() == 10
    assert _n_cached_rdds(spark) == base + 1
    assert release_local_checkpoint(df, blocking=True) is False
    assert _n_cached_rdds(spark) == base  # the CacheManager cache freed
    # and a real checkpoint still takes the True path + frees its blocks
    ckpt = spark.range(50).localCheckpoint()
    assert _n_cached_rdds(spark) == base + 1
    assert release_local_checkpoint(ckpt, blocking=True) is True
    assert _n_cached_rdds(spark) == base


def test_release_tracked_reports_destructive_entries(spark):
    """Advisor r12: the registry mixes recomputable cache releases with
    checkpoint releases that poison their frame — release_tracked must
    name the destructive ones so a caller that wants to act twice on a
    built frame knows to rebuild instead of re-collect."""
    from blockchair_etl_spark import caching

    release_tracked(blocking=True)
    tracked_persist(spark.range(10)).count()
    assert release_tracked(blocking=True) == 1
    assert caching.last_destructive_release == []

    ckpt = spark.range(10).localCheckpoint()
    caching.tracked_checkpoint_release(ckpt, label="test-ckpt")
    tracked_persist(spark.range(10)).count()
    assert release_tracked(blocking=True) == 2
    assert caching.last_destructive_release == ["test-ckpt"]
    # the report is per-call: a later all-recomputable release clears it
    tracked_persist(spark.range(10)).count()
    release_tracked(blocking=True)
    assert caching.last_destructive_release == []


def test_registry_invocation_releases_previous_caches(spark, sf_dir):
    """The register() wrapper is the backstop for harnesses that never
    call release_tracked (the verification driver): building the NEXT
    query must free the previous one's tracked caches."""
    from blockchair_etl_spark.queryset import QUERIES

    release_tracked(blocking=True)
    df = QUERIES["dedup_minhash_lsh"].fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    assert tracked_count() >= 1  # signature relation still cached
    QUERIES["dedup_exact"].fn(spark, sf_dir)  # plan build alone releases
    assert tracked_count() == 0


class _FailingUnpersist:
    """A tracked entry whose release raises ``error``."""

    def __init__(self, error: BaseException):
        self.error = error

    def persist(self, level):
        return self

    def unpersist(self, blocking=False):
        raise self.error


def test_release_tracked_warns_on_failed_jvm_call():
    release_tracked()
    tracked_persist(_FailingUnpersist(Py4JError("forced")))
    with pytest.warns(RuntimeWarning, match="release_tracked: unpersist failed"):
        assert release_tracked() == 0
    assert tracked_count() == 0


def test_release_local_checkpoint_warns_on_failed_jvm_call(spark, monkeypatch):
    def broken(df, stage="analyzed"):
        raise Py4JError("forced")

    monkeypatch.setattr(caching, "jvm_plan", broken)
    with pytest.warns(RuntimeWarning, match="release_local_checkpoint failed"):
        assert caching.release_local_checkpoint(spark.range(3)) is False


def test_release_paths_propagate_non_py4j_errors(spark, monkeypatch):
    release_tracked()
    tracked_persist(_FailingUnpersist(ValueError("not a JVM failure")))
    with pytest.raises(ValueError, match="not a JVM failure"):
        release_tracked()

    def broken(df, stage="analyzed"):
        raise RuntimeError("not a JVM failure either")

    monkeypatch.setattr(caching, "jvm_plan", broken)
    with pytest.raises(RuntimeError, match="not a JVM failure either"):
        caching.release_local_checkpoint(spark.range(3))
