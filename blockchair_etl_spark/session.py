"""SparkSession construction and runtime tuning.

The reference delegates all execution to a Snowflake warehouse
(warehouse sizing in `scripts/snowflake/create_snowflake_objects.sh:326`,
4-thread dbt concurrency in `config/profiles.yml:13`). Here the session
IS the engine, so scale knobs live in one place.

Two entry points:

- :func:`get_session` — build a session for standalone runs (tests,
  bench, pipelines).
- :func:`prepare_session` — apply the runtime-settable subset of the
  same tuning to an externally-provided session (e.g. the verification
  driver's). Idempotent and cheap; every public query function calls it.

One static conf is set only at build time: the size of Spark's
generated-class cache, ``spark.sql.codegen.cache.maxEntries``. The
cache is LRU and defaults to 100 classes, fewer than one day's DAG
compiles, so at that size every class is evicted before the next day
asks for it and each warm day recompiles all of its generated code.
:data:`CODEGEN_CACHE_ENTRIES` holds the whole plan set. A live session
cannot change a static conf, so :func:`prepare_session` only warns,
once per session, when it finds a smaller cache.
"""

from __future__ import annotations

import os
import threading
import warnings
import weakref
from collections.abc import Callable
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

# Runtime-settable SQL confs (safe to apply to a live session).
RUNTIME_CONFS: dict[str, str] = {
    # AQE: runtime re-plan (coalesce post-shuffle partitions, skew-join
    # splitting, dynamic broadcast). Core of the 100 TB story: plans
    # adapt to real partition sizes instead of static guesses.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic wall-clock time semantics for oracle parity.
    "spark.sql.session.timeZone": "UTC",
    # The driver testdata's events.parquet carries TIMESTAMP(NANOS),
    # which Spark's parquet reader rejects; read the physical INT64 as
    # a long and convert to timestamp explicitly (io/sources.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow transfer for toPandas / pandas UDFs (vectorized boundary).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: reference SQL (Snowflake) tolerates overflow-free math;
    # keep Spark's permissive defaults so /0 → null matches oracle SQL.
    "spark.sql.ansi.enabled": "false",
}


# Size of Spark's generated-class cache (static conf, LRU, default 100).
# Counted with CodegenMetrics on the daily_build workload (4-core VM):
# one day of inference, load, DAG and checks compiles ~160 distinct
# classes, a five-day session with its day generation 330, and each
# fresh dashboard window 2 more. At 100 entries warm days recompiled
# 159-163 classes each; at 1000 they compile none.
CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
CODEGEN_CACHE_ENTRIES = 1000

# sessions whose codegen cache size prepare_session has already checked
_cache_checked: weakref.WeakSet[SparkSession] = weakref.WeakSet()
_cache_checked_lock = threading.Lock()


def default_shuffle_partitions() -> int:
    """Match shuffle parallelism to available cores for local runs.

    On a real cluster this would be sized to ~2-3× total executor cores
    (or left to AQE coalesce from a high initial value); locally a
    low count avoids task-scheduling overhead dominating sub-second
    stages.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return max(int(cpus), 4)
    return max(os.cpu_count() or 8, 4)


def prepare_session(spark: SparkSession) -> SparkSession:
    """Apply runtime tuning to an existing session (idempotent). A conf
    this deployment does not let a live session set (a static conf,
    ``CANNOT_MODIFY_STATIC_CONFIG``) is skipped with a warning naming it:
    every conf here is an optimization or compat shim, not a correctness
    requirement (except nanosAsLong, which will surface loudly at read
    time if missing). A codegen cache smaller than
    :data:`CODEGEN_CACHE_ENTRIES` warns too, once per session."""
    _check_codegen_cache(spark)
    confs = {**RUNTIME_CONFS, "spark.sql.shuffle.partitions": str(default_shuffle_partitions())}
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException as e:
            warnings.warn(f"prepare_session: cannot set {k}: {e}", RuntimeWarning, stacklevel=2)
    return spark


def _codegen_cache_entries(spark: SparkSession) -> int:
    return int(spark.conf.get(CODEGEN_CACHE_CONF))


def _check_codegen_cache(spark: SparkSession) -> None:
    with _cache_checked_lock:
        if spark in _cache_checked:
            return
        _cache_checked.add(spark)
    entries = _codegen_cache_entries(spark)
    if entries < CODEGEN_CACHE_ENTRIES:
        warnings.warn(
            f"prepare_session: {CODEGEN_CACHE_CONF} is {entries} in this session, "
            f"below the engine's {CODEGEN_CACHE_ENTRIES}; it is a static conf, so "
            "warm plans recompile their generated code unless the session is "
            "built with it",
            RuntimeWarning,
            stacklevel=3,
        )


def get_session(
    app_name: str = "blockchair-etl-spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned SparkSession."""
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
    builder = builder.config("spark.ui.enabled", "false")
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    builder = builder.config(CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    if extra_confs:
        for k, v in extra_confs.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return prepare_session(spark)


def inheriting(spark: SparkSession, target: Callable[..., Any]) -> Callable[..., Any]:
    """``target`` wrapped to run on a worker thread with the calling
    thread's local properties (job group, job tags, scheduler pool), so
    the jobs it launches are counted, cancelled and scheduled with the
    caller's. Each call copies the properties once; give each thread its
    own wrapper if the threads may set properties of their own. With
    pinned threads off (PYSPARK_PIN_THREAD=false) there is nothing to
    copy and ``target`` comes back as is."""
    wrap = inheritable_thread_target(spark)
    return target if wrap is spark else wrap(target)
