"""Sinks: materialization modes, clustered writes, partitioned lake
layout, the daily incremental load and its retention sweep.

Maps the reference's storage-side operators to a parquet lake:

- dbt materialization (`dbt_project.yml:19-30` — staged views vs
  intermediate/mart tables) → lazy DataFrame vs `.write` (S7).
- `cluster_by` hints on every model (e.g. `stg_blocks.sql:4`,
  `fct_transaction_traces.sql:4`) → repartition + sortWithinPartitions
  before write (one sorted partition for a day-size model), giving
  parquet min/max row-group pruning the same benefit Snowflake
  micro-partition clustering gives (S8).
- Daily dump feed → `date=YYYYMMDD` partitioned layout (S2) with
  overwrite-by-partition idempotent re-loads; `incremental_batch_load`
  routes one day's dump files into it (SURVEY.md §2.10: one file per
  (coin, type, day), `--skip-existing` re-runs).
- Retention (`download_blockchair_data.py:218-246`, 3-day default) →
  partition drops by cutoff (S5)."""

from __future__ import annotations

import re
import shutil
import warnings
from dataclasses import dataclass
from pathlib import Path

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..caching import jvm_plan
from .sources import (
    _find_bad_files,
    one_partition_if_small,
    parse_dump_filename,
    read_tsv,
)


@dataclass(frozen=True)
class Materialization:
    """Per-model storage policy (the dbt config block equivalent):
    a table model repartitions and sorts lexicographically on
    cluster_by."""

    mode: str = "view"  # view | table
    cluster_by: tuple[str, ...] = ()


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
    A clustered model whose size estimate passes is written as
    ``coalesce(1).sortWithinPartitions(*cluster_by)``, one sorted file
    with no shuffle, instead of ``repartition(cluster_by)``. So is a
    model whose physical plan already outputs one partition, such as a
    join of gated relations: without CBO the optimizer estimates a
    join's size as the product of its inputs', so the gate alone would
    shuffle it. The read-back is gated on the parquet bytes just
    written, so queries over a day-size mart plan with no exchange.
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
    if config.cluster_by:
        one = one_partition_if_small(df, name)
        if one is df and not _plans_one_partition(df, name):
            one = df.repartition(*[df[c] for c in config.cluster_by])
        writer_df = one.sortWithinPartitions(*config.cluster_by)
    path = f"{base_path}/{name}"
    writer_df.write.mode("overwrite").parquet(path)
    # Parquet stores every column as nullable and a file source reads
    # a given schema as nullable, so this is the footer schema without
    # the schema-inference job a bare read runs.
    return one_partition_if_small(spark.read.schema(writer_df.schema).parquet(path), name)


def _plans_one_partition(df: DataFrame, name: str) -> bool:
    """Whether the physical plan of ``df`` outputs exactly one partition.
    Read from the plan AQE starts from (its own node reports no
    partitioning), so no job runs. A failed JVM call counts as no and
    warns, naming ``name``."""
    try:
        plan = jvm_plan(df, "executedPlan")
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.inputPlan()
        return plan.outputPartitioning().numPartitions() == 1
    except Py4JError as exc:
        warnings.warn(
            f"physical partitioning of {name} failed ({type(exc).__name__}: {exc}); "
            "it is hash-partitioned on its cluster keys",
            RuntimeWarning,
            stacklevel=2,
        )
        return False


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


def incremental_batch_load(
    spark: SparkSession,
    files: list[str],
    schemas: dict[str, StructType],
    base_path: str,
    retention_days_cutoff: str | None = None,
) -> tuple[dict[str, list[str]], list[tuple[str, str]]]:
    """Route daily dump files into date partitions (one overwrite per
    (table, day) — idempotent), then sweep expired partitions.

    → ({table: loaded days}, [(file, reason)] skipped). A file with any
    unparseable row is skipped whole, as
    :func:`~blockchair_etl_spark.io.sources.load_with_pattern_routing`
    does, so it never lands as a partition of NULL rows."""
    routed: dict[str, list[tuple[str, str]]] = {}
    for f in files:
        parsed = parse_dump_filename(f)
        if parsed and parsed[1] in schemas:
            routed.setdefault(parsed[1], []).append((f, parsed[2]))
    bad = _find_bad_files(
        spark, {t: [f for f, _ in days] for t, days in routed.items()}, schemas
    )
    loaded: dict[str, list[str]] = {}
    skipped: list[tuple[str, str]] = []
    for data_type, days in routed.items():
        for f, yyyymmdd in days:
            if f in bad:
                skipped.append((f, bad[f]))
                continue
            df = read_tsv(spark, f, schema=schemas[data_type])
            write_daily_partition(df, base_path, data_type, yyyymmdd)
            loaded.setdefault(data_type, []).append(yyyymmdd)
    if retention_days_cutoff:
        for table in loaded:
            retention_sweep(base_path, table, retention_days_cutoff)
    return loaded, skipped


def read_partitioned(spark: SparkSession, base_path: str, table: str) -> DataFrame:
    """Partition-discovering read; date filters prune directories before
    any file IO (partition pruning is the scan-level replacement for the
    reference's per-day files)."""
    return spark.read.option("basePath", f"{base_path}/{table}").parquet(
        f"{base_path}/{table}"
    )
