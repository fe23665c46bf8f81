"""Pipeline orchestration: the transform DAG runner and the serving
layer's cache/retry contract.

§3.2: dbt's Jinja-rendered DAG becomes plain function composition —
Catalyst sees the whole lineage, so cross-"model" optimization
(predicate pushdown through staged views into raw scans) is automatic.
`run_transform_dag` materializes per the reference's per-layer policy
and runs the declared quality suite, like `dbt build`.

Concurrency: the reference runs its dbt DAG with `threads: 4`
(`config/profiles.yml:13`), so models whose parents are built run at
the same time. Here the five stg views are registered on the calling
thread, then the four branches that share nothing but stg run on one
thread each: int_transaction_flows → fct_transaction_traces,
int_address_balances_with_history → dim_addresses, dim_blocks, and the
quality suite, which reads only stg. At daily size most of a branch's
jobs have one task, so the serial order leaves most cores idle while
each job pays the per-action floor; run together, their jobs share the
cores. The files written, the returned dict's key order and the check
order are those of the serial order.

§3.3/§4: the dashboard's `run_query` wraps every query in a TTL result
cache (st.cache_data ttl=600, app.py:181) and tenacity retry ×3 with
exponential backoff (app.py:180). Spark has no cross-query result
cache, so `QueryCache` memoizes collected results keyed on
(name, params) with a TTL — same contract, engine-side.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame

from .io.sinks import REFERENCE_MATERIALIZATIONS, Materialization, materialize
from .quality.checks import CheckResult, run_checks
from .session import inheriting
from .transform.intermediate import (
    int_address_balances_with_history,
    int_transaction_flows,
)
from .transform.marts import dim_addresses, dim_blocks, fct_transaction_traces
from .transform.staging import (
    stg_addresses,
    stg_blocks,
    stg_inputs,
    stg_outputs,
    stg_transactions,
)


def run_transform_dag(
    raw: dict[str, DataFrame],
    base_path: str,
    with_checks: bool = True,
) -> tuple[dict[str, DataFrame], list[CheckResult]]:
    """Build the full staged → intermediate → mart DAG.

    `raw` maps {blocks, transactions, inputs, outputs, addresses} to
    their raw DataFrames. Staged models stay lazy temp views; the
    table-materialized models are written as clustered parquet under
    `base_path` and read back.
    Independent branches run concurrently (see the module docstring); a
    failing branch's error is raised once every branch has returned.
    """
    def mat(name: str, df: DataFrame) -> DataFrame:
        cfg = REFERENCE_MATERIALIZATIONS.get(name, Materialization("view"))
        return materialize(df, name, cfg, base_path=base_path)

    stg: dict[str, DataFrame] = {
        "stg_blocks": mat("stg_blocks", stg_blocks(raw["blocks"])),
        "stg_transactions": mat("stg_transactions", stg_transactions(raw["transactions"])),
        "stg_inputs": mat("stg_inputs", stg_inputs(raw["inputs"])),
        "stg_outputs": mat("stg_outputs", stg_outputs(raw["outputs"])),
        "stg_addresses": mat("stg_addresses", stg_addresses(raw["addresses"])),
    }

    def flows() -> tuple[DataFrame, DataFrame]:
        f = mat(
            "int_transaction_flows",
            int_transaction_flows(
                stg["stg_blocks"], stg["stg_transactions"], stg["stg_inputs"], stg["stg_outputs"]
            ),
        )
        return f, mat("fct_transaction_traces", fct_transaction_traces(f))

    def balances() -> tuple[DataFrame, DataFrame]:
        b = mat(
            "int_address_balances_with_history",
            int_address_balances_with_history(
                stg["stg_addresses"], stg["stg_inputs"], stg["stg_outputs"]
            ),
        )
        return b, mat("dim_addresses", dim_addresses(b))

    def blocks() -> DataFrame:
        return mat("dim_blocks", dim_blocks(stg["stg_blocks"]))

    branches = [flows, balances, blocks] + ([lambda: run_checks(stg)] if with_checks else [])
    spark = stg["stg_blocks"].sparkSession
    with ThreadPoolExecutor(len(branches), thread_name_prefix="run_transform_dag") as pool:
        # one copy of the caller's local properties per branch, so a
        # branch that sets its own job group cannot change another's
        futures = [pool.submit(inheriting(spark, b)) for b in branches]
    # every worker has returned; the first failure in branch order is raised
    (flows_df, traces), (balances_df, addrs), dim_blocks_df, *checks = [
        f.result() for f in futures
    ]
    out = {
        **stg,
        "int_transaction_flows": flows_df,
        "int_address_balances_with_history": balances_df,
        "fct_transaction_traces": traces,
        "dim_addresses": addrs,
        "dim_blocks": dim_blocks_df,
    }
    return out, checks[0] if checks else []


@dataclass
class QueryCache:
    """TTL result cache + bounded retry for serving queries
    (app.py:180-202 contract)."""

    ttl_secs: float = 600.0
    retries: int = 3
    backoff_min: float = 4.0
    backoff_max: float = 10.0
    _store: dict[tuple, tuple[float, Any]] = field(default_factory=dict)
    _clock: Callable[[], float] = time.monotonic
    _sleep: Callable[[float], None] = time.sleep

    def run(self, name: str, params: tuple, build: Callable[[], DataFrame]) -> list:
        """Collected result for (name, params), cached for ttl_secs;
        query execution retried ×3 with exponential backoff."""
        key = (name, params)
        now = self._clock()
        hit = self._store.get(key)
        if hit and now - hit[0] < self.ttl_secs:
            return hit[1]
        last: Exception | None = None
        for attempt in range(self.retries):
            try:
                rows = build().collect()
                self._store[key] = (self._clock(), rows)
                return rows
            except Exception as e:  # noqa: BLE001 — retry any execution error
                last = e
                if attempt < self.retries - 1:
                    self._sleep(min(self.backoff_min * (2**attempt), self.backoff_max))
        raise RuntimeError(f"query {name} failed after {self.retries} attempts") from last

    def invalidate(self) -> None:
        self._store.clear()
