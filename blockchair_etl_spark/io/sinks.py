"""Sinks: materialization modes, clustered writes, partitioned lake
layout, retention sweeps.

Maps the reference's storage-side operators to a parquet lake:

- dbt materialization (`dbt_project.yml:19-30` — staged views vs
  intermediate/mart tables) → lazy DataFrame vs `.write` (S7).
- `cluster_by` hints on every model (e.g. `stg_blocks.sql:4`,
  `fct_transaction_traces.sql:4`) → repartition + sortWithinPartitions
  before write (one sorted partition for a day-size model), giving
  parquet min/max row-group pruning the same benefit Snowflake
  micro-partition clustering gives (S8).
- Daily dump feed → `date=YYYYMMDD` partitioned layout (S2) with
  overwrite-by-partition idempotent re-loads.
- Retention (`download_blockchair_data.py:218-246`, 3-day default) →
  partition drops by cutoff (S5).
"""

from __future__ import annotations

import os
import re
import shutil
import warnings
from dataclasses import dataclass
from pathlib import Path

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

from .sources import one_partition_if_small


@dataclass(frozen=True)
class Materialization:
    """Per-model storage policy (the dbt config block equivalent).

    cluster_algo: 'linear' repartitions+sorts lexicographically on
    cluster_by (serves the first key); 'zorder' lays rows on a Morton
    curve over cluster_by (operators/zorder.py) so file min/max pruning
    serves EVERY clustered key."""

    mode: str = "view"  # view | table
    cluster_by: tuple[str, ...] = ()
    cluster_algo: str = "linear"  # linear | zorder


def materialize(
    df: DataFrame,
    name: str,
    config: Materialization,
    base_path: str | None = None,
) -> DataFrame:
    """Apply a materialization policy and return the readable relation.

    view  → register a temp view (lazy; Catalyst sees through it, so
            downstream predicates still push into the source scan).
    table → clustered parquet write to ``{base_path}/{name}``, then read
            back (cuts lineage and freezes the layout, like a dbt table
            model); ``base_path`` is required.

    Both ends of a table model go through
    :func:`~blockchair_etl_spark.io.sources.one_partition_if_small`.
    A linear-clustered model whose size estimate passes is written as
    ``coalesce(1).sortWithinPartitions(*cluster_by)``, one sorted file
    with no shuffle, instead of ``repartition(cluster_by)``; the zorder
    layout is unchanged. The read-back is gated on the parquet bytes
    just written, so queries over a day-size mart plan with no exchange.
    The cost is that a join of gated relations runs in one task, for
    inputs up to ``spark.sql.autoBroadcastJoinThreshold``; Spark's
    broadcast join makes the same bet. Above the threshold both plans
    are the partitioned ones.
    """
    spark = df.sparkSession
    if config.mode == "view":
        df.createOrReplaceTempView(name)
        return df
    if not base_path:
        raise ValueError(f"{name}: a table model needs base_path to write to")

    writer_df = df
    if config.cluster_by and config.cluster_algo == "zorder":
        from ..operators.zorder import zorder_layout

        writer_df = zorder_layout(df, list(config.cluster_by))
    elif config.cluster_by:
        one = one_partition_if_small(df, name)
        if one is df:  # not small: hash-partition on the keys
            one = df.repartition(*[df[c] for c in config.cluster_by])
        writer_df = one.sortWithinPartitions(*config.cluster_by)
    path = f"{base_path}/{name}"
    writer_df.write.mode("overwrite").parquet(path)
    # Parquet stores every column as nullable and a file source reads
    # a given schema as nullable, so this is the footer schema without
    # the schema-inference job a bare read runs.
    return one_partition_if_small(spark.read.schema(writer_df.schema).parquet(path), name)


# The reference's per-model clustering configuration (§2 S8).
REFERENCE_MATERIALIZATIONS: dict[str, Materialization] = {
    "stg_blocks": Materialization("view", cluster_by=("block_time",)),
    "stg_transactions": Materialization("view", cluster_by=("tx_time",)),
    "stg_inputs": Materialization("view", cluster_by=("time",)),
    "stg_outputs": Materialization("view", cluster_by=("time",)),
    "stg_addresses": Materialization("view", cluster_by=("address",)),
    "int_transaction_flows": Materialization(
        "table", cluster_by=("transaction_hash", "tx_time")
    ),
    "int_address_balances_with_history": Materialization(
        "table", cluster_by=("address", "time")
    ),
    "fct_transaction_traces": Materialization(
        "table", cluster_by=("source_address", "destination_address", "tx_time")
    ),
    "dim_addresses": Materialization("table", cluster_by=("address",)),
    "dim_blocks": Materialization("table", cluster_by=("block_id",)),
}


def write_daily_partition(
    df: DataFrame, base_path: str, table: str, yyyymmdd: str
) -> str:
    """Idempotent overwrite of one date partition (the daily-load
    contract: re-running a day replaces that day, touching nothing else)."""
    path = f"{base_path}/{table}/date={yyyymmdd}"
    df.write.mode("overwrite").parquet(path)
    return path


def retention_sweep(base_path: str, table: str, keep_after: str) -> list[str]:
    """Drop date partitions older than the cutoff
    (clean_old_files, `download_blockchair_data.py:218-246`; stage
    REMOVE by date pattern, `load_data_to_snowflake.sh:136-144`).
    Returns the dropped partition names."""
    dropped = []
    table_dir = Path(base_path) / table
    if not table_dir.exists():
        return dropped
    for part in sorted(table_dir.glob("date=*")):
        m = re.match(r"date=(\d{8})$", part.name)
        if m and m.group(1) < keep_after:
            shutil.rmtree(part)
            dropped.append(part.name)
    return dropped


def batch_store_retention(store_dir: str, keep_last: int) -> list[str]:
    """Retention for batch_id-partitioned STREAMING stores (the layout
    streaming/dedup_stream.py's exactly_once mode and
    streaming/prep_stream.py write): keep the newest ``keep_last``
    batch partitions, drop the rest. Returns the dropped partition
    names (numeric batch order, oldest first).

    The date-keyed twin is retention_sweep above; a daily
    availableNow loop makes the two equivalent (one batch per day).
    SEMANTICS CAVEAT for dedup signature stores: dropping a batch's
    signatures shrinks the cross-probe index — documents from dropped
    batches can no longer pair against new arrivals. That IS the
    retention contract (a bounded dedup horizon); size ``keep_last``
    to the horizon the pipeline promises, and flatten first
    (flatten_batch_store) if the full index must survive the sweep."""
    store = Path(store_dir)
    if not store.exists():
        return []
    parts = []
    for part in store.glob("batch_id=*"):
        m = re.match(r"batch_id=(\d+)$", part.name)
        if m:
            parts.append((int(m.group(1)), part))
    parts.sort()
    dropped = []
    for _, part in parts[: max(0, len(parts) - keep_last)]:
        shutil.rmtree(part)
        dropped.append(part.name)
    return dropped


def flatten_batch_store(
    spark: SparkSession, store_dir: str, out_dir: str, n_files: int = 8
) -> int:
    """The daily-close handoff: rewrite a batch_id-partitioned
    streaming store into a plain compacted parquet relation at
    ``out_dir`` (batch_id dropped, ``n_files`` output files) for the
    corpus-GLOBAL batch stages — exact dedup's min-id survivor and the
    token-budget selection read the flattened store, never the
    per-trigger partition tree (thousands of tiny per-batch files make
    every global pass open()-bound; see compact_small_files). Returns
    the flattened row count.

    Near-atomic swap: writes to a temp dir, renames the previous
    output ASIDE (not rmtree-in-place — deleting first would leave a
    crash window with the old output destroyed and no new one yet),
    renames the temp dir into place, and only then deletes the old
    copy. The unsafe window is the instant between the two renames
    (out_dir briefly absent); a crash anywhere leaves either the old
    output intact or the new one in place, plus an orphaned
    ``.tmp__flatten`` / ``.old__flatten`` dir the next flatten cleans.
    (True atomicity needs a symlink or catalog pointer flip — out of
    scope for a filesystem sink.) The source store is untouched — the
    stream keeps appending to it, and the next close re-flattens."""
    tmp = out_dir + ".tmp__flatten"
    old = out_dir + ".old__flatten"
    if Path(tmp).exists():  # crashed prior write — incomplete, discard
        shutil.rmtree(tmp)
    if Path(old).exists():
        if not Path(out_dir).exists():
            # a prior run crashed between its two renames: `old` holds
            # the ONLY flattened output. Restore it instead of deleting
            # it — deleting here would leave no output at all if the
            # rewrite below then fails (the crash-safety invariant is
            # "old output intact OR new output in place", always).
            os.rename(old, out_dir)
        else:
            shutil.rmtree(old)  # prior swap completed, copy is stale
    df = spark.read.parquet(store_dir).drop("batch_id")
    df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    if Path(out_dir).exists():
        os.rename(out_dir, old)
    os.rename(tmp, out_dir)
    if Path(old).exists():
        shutil.rmtree(old)
    return spark.read.parquet(out_dir).count()


def read_partitioned(spark: SparkSession, base_path: str, table: str) -> DataFrame:
    """Partition-discovering read; date filters prune directories before
    any file IO (partition pruning is the scan-level replacement for the
    reference's per-day files)."""
    return spark.read.option("basePath", f"{base_path}/{table}").parquet(
        f"{base_path}/{table}"
    )


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ceil(total_bytes / target_file_bytes) files. Returns the new file
    count (or the current one if already compact).

    Streaming/incremental sinks accumulate per-trigger files; thousands
    of KB-sized files make every downstream scan driver- and
    open()-bound. Compaction trades one rewrite for every future scan.
    The rewrite goes through a temp dir + atomic-ish swap so a crash
    mid-compaction never leaves the table truncated (the temp dir is
    simply orphaned). At warehouse scale this runs per partition, not
    per table, so the rewrite unit stays bounded."""
    import math

    files = [
        f
        for f in Path(path).glob("*.parquet")
        if f.is_file() and not f.name.startswith(("_", "."))
    ]
    if len(files) < min_files:
        return len(files)
    total = sum(f.stat().st_size for f in files)
    n_out = max(1, math.ceil(total / target_file_bytes))
    if n_out >= len(files):
        return len(files)
    tmp = str(Path(path).with_name(Path(path).name + "__compacting"))
    spark.read.parquet(path).coalesce(n_out).write.mode("overwrite").parquet(tmp)
    bak = str(Path(path).with_name(Path(path).name + "__precompact"))
    shutil.move(path, bak)
    shutil.move(tmp, path)
    shutil.rmtree(bak)
    return len([f for f in Path(path).glob("*.parquet") if f.is_file()])


def export_tsv(
    df: DataFrame,
    path: str,
    compression: str | None = "gzip",
    single_file: bool = False,
) -> None:
    """TSV export — the reference's dump interchange format, written
    back out (header row, tab sep, optional gzip). ``single_file``
    coalesces to one task for dump-shaped consumers; leave it False at
    scale so every partition writes in parallel."""
    out = df.coalesce(1) if single_file else df
    writer = out.write.mode("overwrite").option("sep", "\t").option("header", "true")
    if compression:
        writer = writer.option("compression", compression)
    writer.csv(path)


def write_columnar(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    compression: str = "zstd",
) -> None:
    """Columnar write with an explicit codec (parquet or ORC — both
    ship in Spark with no extra packages). zstd is the modern default:
    ~gzip ratios at snappy-ish speeds; at 100 TB the codec choice is
    a double-digit-percent storage/scan-cost knob."""
    if fmt not in ("parquet", "orc"):
        raise ValueError(f"unsupported columnar format: {fmt!r}")
    df.write.mode("overwrite").option("compression", compression).format(fmt).save(path)


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    num_files: int = 8,
) -> None:
    """Globally sorted output the scale-safe way: repartitionByRange
    samples the sort-key distribution and assigns disjoint key ranges to
    tasks, then each task sorts locally — a full global sort with
    num_files-way parallelism. A naive .orderBy().write collapses the
    final stage into ONE task at 100 TB; this shape never does. Files
    are range-disjoint, so downstream range predicates prune whole
    files via parquet min/max."""
    (
        df.repartitionByRange(num_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def recover_swapped_store(store_dir: str) -> bool:
    """Crash recovery for :func:`atomic_swap_store`: if the store is
    missing but its ``.old`` copy exists, the process died between the
    two renames — restore the previous generation. Returns True if a
    recovery happened. Callers run this BEFORE reading the store, so a
    replayed micro-batch folds into the restored relation instead of
    silently re-bootstrapping from the batch alone.

    WRITER-ONLY. A live writer inside :func:`atomic_swap_store` also
    has the store transiently missing (between its two renames) with
    ``.old`` present — a concurrent reader that "recovered" then would
    race the writer's rename of ``.tmp`` into an existing directory.
    The foreachBatch updaters may call this because Structured
    Streaming serializes micro-batches per query, so no writer is ever
    concurrently mid-swap. External readers use
    :func:`read_live_store` (tolerate/retry) instead."""
    old_dir = store_dir + ".old"
    if not os.path.exists(store_dir) and os.path.exists(old_dir):
        os.rename(old_dir, store_dir)
        return True
    return False


def atomic_swap_store(df: DataFrame, store_dir: str, partitions: int = 8) -> None:
    """Full-rewrite store maintenance with NO unrecoverable window:
    write the new generation to ``.tmp``, move the current store aside
    to ``.old``, rename ``.tmp`` in, then delete ``.old``. A crash at
    any point leaves either the new store, or the old store (possibly
    under ``.old`` — :func:`recover_swapped_store` restores it). The
    previous rmtree-then-rename order had a window where NEITHER
    existed and a replayed batch would re-bootstrap from itself,
    silently discarding the relation's history (r13 review).

    ``partitions``: coalesce width for the rewrite — full-rewrite
    stores are read back whole next cycle, so a handful of files beats
    the shuffle default's ~200 tiny ones; raise it when the relation
    outgrows a few GB per file.

    Reader contract (r13 review): between the two renames the store
    path itself transiently does not exist. The WRITER (the next
    micro-batch) self-heals via :func:`recover_swapped_store`; an
    EXTERNAL concurrent reader must NOT run recovery (it would race
    the writer's in-flight rename) — it tolerates the window by
    retrying, via :func:`read_live_store`."""
    old_dir = store_dir + ".old"
    tmp = store_dir + ".tmp"
    df.coalesce(max(1, int(partitions))).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(old_dir, ignore_errors=True)  # stale from a prior crash
    if os.path.exists(store_dir):
        os.rename(store_dir, old_dir)
    os.rename(tmp, store_dir)
    shutil.rmtree(old_dir, ignore_errors=True)


def _is_swap_window_error(exc: BaseException) -> bool:
    """True iff ``exc`` is the store-path-vanished shape a concurrent
    atomic_swap_store rename produces — the ONLY failure read_live_store
    may retry. The listing race surfaces as AnalysisException with
    error condition PATH_NOT_FOUND at plan time, but as a JVM
    SparkException wrapping java.io.FileNotFoundException at collect
    time. Matching is TYPED FIRST (r15 advice — the r14 text markers
    'does not exist' / 'No such file' also appear in unrelated catalog
    and path errors, which then burned the retry budget before
    surfacing): the AnalysisException error condition and the
    Py4J-wrapped Java cause chain are inspected directly; only when
    neither typed channel is available does a NARROW class-qualified
    text scan run. Anything else (schema mismatch, corrupt footer,
    permission) is a real error and must surface immediately, not
    after the retry budget (r14 review)."""
    if isinstance(exc, FileNotFoundError):
        return True
    try:
        from pyspark.errors import AnalysisException
    except ImportError:  # pragma: no cover - pyspark < 3.4 layout
        from pyspark.sql.utils import AnalysisException  # type: ignore
    is_analysis = isinstance(exc, AnalysisException)
    if is_analysis:
        cond = exc.getCondition() if hasattr(exc, "getCondition") else None
        if cond:
            return "PATH_NOT_FOUND" in str(cond)
        # conditionless analysis error: fall through to the text scan
    # Py4J-captured JVM exception: walk the Java cause chain for the
    # collect-time FileNotFoundException instead of string-scanning
    java_exc = getattr(exc, "java_exception", None)
    if java_exc is not None:
        try:
            seen = 0
            cause = java_exc
            while cause is not None and seen < 20:
                if cause.getClass().getName() == "java.io.FileNotFoundException":
                    return True
                cause = cause.getCause()
                seen += 1
        except Py4JError as err:
            warnings.warn(
                f"Java cause-chain walk failed ({type(err).__name__}: {err}); "
                "classifying by message text",
                RuntimeWarning,
                stacklevel=2,
            )
    # fallback ONLY: class-qualified markers, never bare
    # 'does not exist' / 'No such file'. The third marker covers the
    # pyspark<3.4 layout the import fallback above claims to support
    # (r16 advice): those versions raise plan-time missing-path errors
    # with NO error condition and the message 'Path does not exist:
    # ...', which matches neither modern marker — it is qualified by
    # the AnalysisException isinstance, never scanned on bare text.
    text = str(exc)
    return (
        "PATH_NOT_FOUND" in text
        or "java.io.FileNotFoundException" in text
        or (is_analysis and "Path does not exist" in text)
    )


def read_live_store(
    spark,
    store_dir: str,
    retries: int = 20,
    delay: float = 0.05,
    max_rows: int = 1_000_000,
) -> DataFrame:
    """Reader-safe load of an :func:`atomic_swap_store`-maintained
    relation for EXTERNAL concurrent readers (dashboards serving
    quantiles off the live histogram store, etc.). The swap has a
    sub-millisecond window where the store path does not exist; this
    tolerates it by retrying — it never renames anything, so it cannot
    race the writer the way a reader-side recover_swapped_store would
    (r13 review). Raises FileNotFoundError only if the store stays
    missing past the retry budget (a real crash window — let the
    WRITER recover it).

    The returned frame is MATERIALIZED inside the retry loop (the
    store's rows are collected and rebuilt as a local relation) — a
    lazy spark.read would still list the pre-swap part files and crash
    at ACTION time when the next swap deletes them (r14 review). Swap
    stores are O(k)/O(cells) by contract (the sketch maintainers), so
    the driver copy is bounded; this function is NOT for data-scale
    relations — ``max_rows`` enforces that contract (the collect is
    capped at max_rows+1 rows, so pointing it at a data-scale relation
    raises a pointed ValueError instead of collecting the corpus)."""
    import time

    n = max(1, int(retries))
    for attempt in range(n):
        if os.path.exists(store_dir):
            try:
                df = spark.read.parquet(store_dir)
                # action INSIDE the retry: a swap between listing and
                # collect surfaces here and retries instead of crashing
                # the serving query later. limit(max_rows+1) bounds the
                # driver copy BEFORE collecting — one extra row is
                # enough to prove the contract violation.
                rows = df.limit(int(max_rows) + 1).collect()
                if len(rows) > int(max_rows):
                    raise ValueError(
                        f"store at {store_dir} exceeds max_rows="
                        f"{max_rows}: read_live_store is for O(k) "
                        "sketch stores, not data-scale relations — "
                        "read the path with spark.read.parquet directly"
                    )
                return spark.createDataFrame(rows, df.schema)
            except ValueError:
                raise
            except Exception as exc:
                # retry ONLY the swapped-away-between-probe-and-read
                # shape (r14 review); corrupt stores / schema errors
                # surface immediately instead of after ~1s of sleeps
                if not _is_swap_window_error(exc):
                    raise
                if attempt == n - 1:
                    raise
        time.sleep(delay)
    raise FileNotFoundError(
        f"store at {store_dir} missing after {n} retries: if "
        f"{store_dir}.old exists the maintaining stream crashed "
        "mid-swap — its next batch (or writer-side "
        "recover_swapped_store) restores it"
    )
