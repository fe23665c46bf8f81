"""Data-quality assertions — the reference's dbt schema tests as
executable zero-row checks.

Reference: `transaction_tracing/models/staged/schema.yml:1-78` (`unique`,
`not_null`, `dbt_utils.unique_combination_of_columns`) run by `dbt build`
as SELECTs expecting zero rows. Same contract here: each check returns a
violations DataFrame; `run_checks` evaluates a suite and reports, through
the one-action runner of quality/suite.py.

`unique` and the combination check are grouped counts: above the size
gate (``io.sources.one_partition_if_small``) each shuffles once on its
key; on a day-size input the gate has made one partition, so each runs
in the scan's task with no shuffle. `not_null` is a scan-only filter
with the predicate pushed to parquet on either side.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F


def unique_violations(df: DataFrame, column: str) -> DataFrame:
    """dbt `unique` (schema.yml:9-11 etc.): keys appearing more than once."""
    return (
        df.filter(F.col(column).isNotNull())
        .groupBy(column)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


def not_null_violations(df: DataFrame, column: str) -> DataFrame:
    """dbt `not_null` (schema.yml:9-11 etc.): rows with a null key."""
    return df.filter(F.col(column).isNull())


def unique_combination_violations(df: DataFrame, columns: list[str]) -> DataFrame:
    """dbt_utils.unique_combination_of_columns (schema.yml:16-18,33-35,
    76-78): duplicate composite keys."""
    return (
        df.groupBy(*columns)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


@dataclass
class CheckResult:
    name: str
    violations: int

    @property
    def passed(self) -> bool:
        return self.violations == 0


# The reference's declared test suite, staged layer (schema.yml):
#   stg_addresses.address: unique + not_null; combo [address]
#   stg_blocks.block_id: unique + not_null; combo [block_id, block_hash]
#   stg_inputs/stg_outputs.transaction_hash: not_null
#   stg_transactions.transaction_hash: unique + not_null;
#     combo [transaction_hash, block_id]
REFERENCE_SUITE = [
    ("stg_addresses", "unique", "address"),
    ("stg_addresses", "not_null", "address"),
    ("stg_addresses", "combo", ["address"]),
    ("stg_blocks", "unique", "block_id"),
    ("stg_blocks", "not_null", "block_id"),
    ("stg_blocks", "combo", ["block_id", "block_hash"]),
    ("stg_inputs", "not_null", "transaction_hash"),
    ("stg_outputs", "not_null", "transaction_hash"),
    ("stg_transactions", "unique", "transaction_hash"),
    ("stg_transactions", "not_null", "transaction_hash"),
    ("stg_transactions", "combo", ["transaction_hash", "block_id"]),
]


def run_checks(
    tables: dict[str, DataFrame],
    suite: list[tuple] = REFERENCE_SUITE,
) -> list[CheckResult]:
    """Evaluate a test suite as one Spark action; checks on tables not
    in ``tables`` are skipped. Results keep the suite's order."""
    from .suite import CheckSpec, run_config_suite  # suite.py imports this module

    names, specs = [], []
    for table, kind, cols in suite:
        if table not in tables:
            continue
        names.append(f"{table}.{kind}.{cols}")
        if kind in ("unique", "not_null"):
            specs.append(CheckSpec(table, cols, kind, ()))
        else:
            combo = tuple(cols) if isinstance(cols, (list, tuple)) else (cols,)
            specs.append(CheckSpec(table, "", "unique_combination_of_columns", combo))
    if not specs:
        return []
    rows = run_config_suite(tables, specs).collect()
    return [CheckResult(name=n, violations=r["n_violations"]) for n, r in zip(names, rows)]


def accepted_values_violations(df: DataFrame, column: str, values: list) -> DataFrame:
    """dbt `accepted_values`: non-null rows whose value is outside the
    allowed set. Scan-only — the isin predicate pushes down to parquet."""
    return df.filter(F.col(column).isNotNull() & ~F.col(column).isin(values))


def relationship_violations(
    child: DataFrame, child_key: str, parent: DataFrame, parent_key: str
) -> DataFrame:
    """dbt `relationships` (referential integrity): child keys with no
    matching parent row. The parent side is reduced to its distinct keys
    first, so when the parent is dim-sized the anti join broadcasts; at
    fact-fact scale it degrades to one shuffle on the key."""
    parents = parent.select(F.col(parent_key).alias("__parent_key")).distinct()
    return child.filter(F.col(child_key).isNotNull()).join(
        parents, child[child_key] == parents["__parent_key"], "left_anti"
    )
