"""Deferred-release registry for plan-level persists.

Several operators persist an intermediate relation that feeds multiple
branches of the SAME returned plan (e.g. the minhash signature relation
feeding both sides of the band join, or corpus-prep stages feeding
dedup + join-back + resample). The cache must stay alive until the
CALLER runs its terminal action — the operator cannot unpersist before
returning (the cache would never materialize) and must not unpersist
never (a long-lived session accumulates MEMORY_AND_DISK blocks per
invocation; the round-5 advice flagged exactly this in the registered
pipelines and incremental dedup stores).

The contract:

- operators call :func:`tracked_persist` instead of ``df.persist()``;
- harnesses call :func:`release_tracked` after collecting a result
  (``testing.check_query`` and ``bench.py`` do);
- as a backstop, every registry entry (`queryset.register`) releases
  leftovers from the PREVIOUS invocation before building its plan, so
  even a harness that never releases (the verification driver running
  144 queries in one session) holds at most one query's caches at a
  time.

Not thread-safe by design: the registry mirrors the driver/bench/pytest
execution model (one query materialized at a time per session). A
concurrent-query service should scope caches per job instead.
"""

from __future__ import annotations

import warnings

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_TRACKED: list[DataFrame] = []

#: Labels of the DESTRUCTIVE entries freed by the most recent
#: :func:`release_tracked` call (advisor r12: the registry mixes
#: recomputable cache releases with checkpoint releases that poison
#: their frame — CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on any later
#: action). A harness that acts twice on one built frame (correctness
#: replay then timing) can check this after the first release: empty
#: means every released frame recomputes safely; any label here names
#: a frame that must be REBUILT, not re-collected.
last_destructive_release: list[str] = []


def tracked_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """Persist ``df`` and register it for a later :func:`release_tracked`."""
    out = df.persist(level)
    _TRACKED.append(out)
    return out


def release_tracked(blocking: bool = False) -> int:
    """Unpersist every tracked frame; returns how many were released.

    Side channel: :data:`last_destructive_release` is rewritten with
    the labels of any checkpoint-backed entries freed by THIS call —
    those frames (and plans built over them) cannot be acted on again;
    everything else recomputes safely.

    A failed JVM call (a stopped session) warns and moves on to the next
    entry; any other error propagates."""
    n = 0
    destructive: list[str] = []
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist(blocking)
            n += 1
            if isinstance(df, _CheckpointHandle):
                destructive.append(df.label)
        except Py4JError as exc:
            warnings.warn(
                f"release_tracked: unpersist failed ({type(exc).__name__}: {exc}); "
                "its blocks may leak unless the session is already stopped",
                RuntimeWarning,
                stacklevel=2,
            )
    last_destructive_release[:] = destructive
    return n


def tracked_count() -> int:
    return len(_TRACKED)


def jvm_plan(df: DataFrame, stage: str = "analyzed"):
    """The JVM plan behind ``df`` at ``stage`` (``"analyzed"``,
    ``"optimizedPlan"`` or the physical ``"executedPlan"``): the one
    call into Spark's private ``QueryExecution`` API. A failing JVM call
    raises ``Py4JError``; callers that fall back on it say so with a
    warning."""
    return getattr(df._jdf.queryExecution(), stage)()


def release_local_checkpoint(df: DataFrame, blocking: bool = False) -> bool:
    """Free the block-manager blocks behind a ``localCheckpoint``-ed
    frame. ``DataFrame.unpersist()`` only clears CacheManager entries —
    it does NOT touch the checkpointed RDD's blocks (measured r12: a
    checkpoint-per-round driver loop that "unpersisted" each superseded
    table still held every round's blocks), and relying on the JVM
    ContextCleaner means waiting on two garbage collectors (the py4j
    handle, then the JVM RDD). This reaches the ``LogicalRDD`` at the
    analyzed-plan root and unpersists its RDD directly — deterministic
    release for iterate-checkpoint-swap loops.

    Returns True when a checkpoint RDD was released. ONLY call on a
    frame nothing will read again: a locally-checkpointed frame has no
    lineage to recompute from, so any later action on it (or a plan
    built over it) fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
    Falls back to ``df.unpersist()`` (False) when the root is not a
    LogicalRDD — e.g. a frame that was never checkpointed — OR when the
    root IS a LogicalRDD but its RDD holds no blocks (advisor r12: any
    RDD-backed frame, e.g. createDataFrame over an RDD, also roots at
    LogicalRDD; a *persisted* such frame caches through the
    CacheManager, not the plan RDD, so unpersisting the plan RDD would
    leak the cache while reporting success — probed by storage level:
    a materialized localCheckpoint's RDD reads memory+disk, a plain
    RDD-backed plan reads NONE).

    A failed JVM call is WARNED, not swallowed silently: the only
    legitimate failure here is a stopped session (teardown), and a leak
    with no signal is exactly the bug this helper exists to fix. Any
    other error propagates."""
    try:
        plan = jvm_plan(df)
        if plan.getClass().getSimpleName() == "LogicalRDD":
            lvl = plan.rdd().getStorageLevel()
            if lvl.useMemory() or lvl.useDisk() or lvl.useOffHeap():
                plan.rdd().unpersist(blocking)
                return True
        df.unpersist(blocking)
    except Py4JError as exc:
        warnings.warn(
            "release_local_checkpoint failed "
            f"({type(exc).__name__}: {exc}); checkpoint blocks may leak "
            "unless the session is already stopped",
            RuntimeWarning,
            stacklevel=2,
        )
    return False


class _CheckpointHandle:
    """Duck-typed stand-in in the _TRACKED registry for a frame whose
    blocks are CHECKPOINT blocks: release_tracked calls .unpersist on
    every entry, and for a checkpointed frame that must route through
    release_local_checkpoint (a plain DataFrame.unpersist never frees
    checkpoint blocks — see above)."""

    def __init__(self, df: DataFrame, label: str = "<checkpoint>"):
        self._df = df
        self.label = label

    def unpersist(self, blocking: bool = False) -> None:
        release_local_checkpoint(self._df, blocking)


def tracked_checkpoint_release(df: DataFrame, label: str = "<checkpoint>") -> DataFrame:
    """Register an already-localCheckpoint'ed frame so the NEXT
    release_tracked() frees its checkpoint blocks (the deferred-release
    contract tracked_persist gives cached frames, extended to
    checkpoint blocks). One sharp edge the caller inherits: unlike a
    persist, a released checkpoint CANNOT recompute — re-collecting the
    frame (or a plan over it) after release fails loudly with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND instead of silently re-running.
    That matches the registry contract (caches live until the caller's
    terminal action, one query at a time), but rules out re-collection
    patterns that a persisted frame would tolerate. ``label`` names the
    entry in :data:`last_destructive_release` so a caller that released
    can tell a recomputable release from a poisoning one (advisor
    r12)."""
    _TRACKED.append(_CheckpointHandle(df, label))  # type: ignore[arg-type]
    return df
