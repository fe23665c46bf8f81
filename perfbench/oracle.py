"""DuckDB oracles for the benchmark's outputs.

- The daily build is mirrored by the SQL of the dbt models that the DAG
  parity test already trusts (``tests/test_blockchain_dag.py``), run over
  the same TSV files; each table model's parquet is compared with it.
- Dashboard requests are mirrored by SQL over the mart parquet the engine
  served them from; the multi-hop trace is a recursive CTE.

Every function returns a list of mismatch descriptions; empty means equal.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

from blockchair_etl_spark.schema.registry import RAW_SCHEMAS
from blockchair_etl_spark.testing import compare_frames

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))
from test_blockchain_dag import SQL_STAGED  # noqa: E402

FLOAT_TOL = 1e-6
TABLE_MODELS = (
    "int_transaction_flows",
    "int_address_balances_with_history",
    "fct_transaction_traces",
    "dim_addresses",
    "dim_blocks",
)
_RAW_VIEWS = {
    "blocks": "blocks_raw",
    "transactions": "transactions_raw",
    "inputs": "inputs_raw",
    "outputs": "outputs_raw",
    "addresses": "address_raw",
}
_DUCK_TYPES = {"long": "BIGINT", "double": "DOUBLE", "string": "VARCHAR", "timestamp": "TIMESTAMP"}


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def _diff(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    r = compare_frames(name, got, want, float_tol=FLOAT_TOL)
    return [] if r.ok else [f"{name}: {m}" for m in r.mismatches[:3]]


def check_day(files: dict[str, str], lake: str) -> list[str]:
    """Compare the day's five table models in ``lake`` with the DuckDB
    mirror of the DAG over the day's good dump files, and check the flow
    fan-out identity |flows of tx| = max(inputs, 1) * max(outputs, 1)."""
    con = duckdb.connect()
    try:
        for table, view in _RAW_VIEWS.items():
            cols = ", ".join(
                f"'{f.name}': '{_DUCK_TYPES[f.dataType.typeName()]}'"
                for f in RAW_SCHEMAS[table].fields
            )
            con.execute(
                f"CREATE VIEW {view} AS SELECT * FROM read_csv('{files[table]}', "
                f"delim='\t', header=true, timestampformat='%Y-%m-%d %H:%M:%S', "
                f"columns={{{cols}}})"
            )
        for stmt in SQL_STAGED.split(";"):
            if stmt.strip():
                con.execute(stmt)
        bad: list[str] = []
        for model in TABLE_MODELS:
            got = con.execute(f"SELECT * FROM {_parquet(f'{lake}/{model}')}").fetchdf()
            want = con.execute(f"SELECT * FROM {model}").fetchdf()
            if model == "fct_transaction_traces":
                # trace_sequence numbers flows within a tx in an order the
                # model leaves open; check it is exactly 1..n instead
                seq = got.groupby("transaction_hash")["trace_sequence"].agg(
                    ["min", "max", "count", "nunique"]
                )
                if not ((seq["min"] == 1) & (seq["max"] == seq["count"])
                        & (seq["nunique"] == seq["count"])).all():
                    bad.append(f"{model}: trace_sequence is not 1..n per transaction")
                got = got.drop(columns=["trace_sequence"])
            bad += _diff(model, got, want)
        fanout_bad, tx_missing = con.execute(
            f"""
            SELECT COUNT(*) FILTER (WHERE f.n IS DISTINCT FROM
                       greatest(t.input_count, 1) * greatest(t.output_count, 1)),
                   COUNT(*) FILTER (WHERE f.n IS NULL)
            FROM transactions_raw t
            LEFT JOIN (SELECT transaction_hash, COUNT(*) AS n
                       FROM {_parquet(f'{lake}/int_transaction_flows')} GROUP BY 1) f
              ON f.transaction_hash = t.hash
            """
        ).fetchone()
        if fanout_bad:
            bad.append(f"flow fan-out identity fails on {fanout_bad} transactions "
                       f"({tx_missing} without flows)")
        return bad
    finally:
        con.close()


class ServeOracle:
    """SQL mirrors of the dashboard requests over the served marts."""

    MARTS = ("fct_transaction_traces", "dim_addresses", "int_address_balances_with_history",
             "dim_blocks")

    def __init__(self, lake: str):
        self.con = duckdb.connect()
        for m in self.MARTS:
            self.con.execute(f"CREATE VIEW {m} AS SELECT * FROM {_parquet(f'{lake}/{m}')}")

    def close(self) -> None:
        self.con.close()

    def check(self, kind: str, params: tuple, rows: list) -> list[str]:
        got = pd.DataFrame([r.asDict() for r in rows])
        sql, trace_limit = self._sql(kind, params)
        want = self.con.execute(sql).fetchdf()
        if got.empty:
            got = want.iloc[0:0]
        if trace_limit is not None and len(want) > trace_limit:
            # rows past the page cut are tied on the order keys; compare
            # the keys of the page, which ties cannot change
            keys = ["hop", "tx_time", "transaction_hash", "destination_address"]
            want = self.con.execute(
                sql + " ORDER BY hop, tx_time, transaction_hash, "
                "destination_address NULLS FIRST LIMIT " + str(trace_limit)
            ).fetchdf()
            got, want = got[keys], want[keys]
        return _diff(f"{kind}{params}", got, want)

    @staticmethod
    def _sql(kind: str, params: tuple) -> tuple[str, int | None]:
        if kind == "richest":
            return (
                "SELECT address, current_balance_sats, current_balance_btc FROM dim_addresses "
                "ORDER BY current_balance_btc DESC, address ASC LIMIT 1",
                None,
            )
        if kind in ("balance_trend", "trace"):
            address, start, end = params[:3]
        else:
            start, end = params
        win = f"BETWEEN TIMESTAMP '{start}' AND TIMESTAMP '{end}'"
        if kind == "distinct_tx":
            sql = ("SELECT COUNT(DISTINCT transaction_hash) AS total_transactions "
                   f"FROM fct_transaction_traces WHERE tx_time {win}")
        elif kind == "avg_fee":
            sql = ("SELECT COALESCE(AVG(NULLIF(fee_btc, 0)), 0) AS avg_fee_btc "
                   f"FROM fct_transaction_traces WHERE tx_time {win}")
        elif kind == "most_active":
            sql = ("SELECT source_address, COUNT(*) AS flow_count FROM fct_transaction_traces "
                   f"WHERE tx_time {win} GROUP BY source_address "
                   "ORDER BY flow_count DESC, source_address ASC NULLS FIRST LIMIT 1")
        elif kind == "block_metrics":
            sql = ("SELECT block_id, block_time, transaction_count, fee_total_btc, reward_btc, "
                   f"cdd_total_days FROM dim_blocks WHERE block_time {win} "
                   "ORDER BY block_time, block_id LIMIT 1000")
        elif kind == "balance_trend":
            sql = ("SELECT time, running_balance_btc, value_change_btc, transaction_hash "
                   f"FROM int_address_balances_with_history WHERE address = '{address}' "
                   f"AND time {win} ORDER BY time, transaction_hash LIMIT 1000")
        elif kind == "trace":
            hops = params[3]
            return (
                f"""
WITH RECURSIVE tp AS (
  SELECT 1 AS hop, source_address AS src, destination_address AS dst,
         transaction_hash AS tx_hash, tx_time
  FROM fct_transaction_traces
  WHERE source_address = '{address}' AND tx_time {win}
  UNION ALL
  SELECT p.hop + 1, t.source_address, t.destination_address, t.transaction_hash, t.tx_time
  FROM fct_transaction_traces t JOIN tp p ON p.dst = t.source_address
  WHERE p.hop < {hops} AND t.tx_time {win}
),
tx_blocks AS (
  SELECT transaction_hash, MIN(block_id) AS block_id, MIN(transferred_value_btc) AS value_btc
  FROM fct_transaction_traces WHERE tx_time {win} GROUP BY transaction_hash
)
SELECT tp.hop, tp.src AS source_address, tp.dst AS destination_address,
       tp.tx_hash AS transaction_hash, tp.tx_time, tb.value_btc,
       b.block_time, b.guessed_miner
FROM tp
JOIN tx_blocks tb ON tp.tx_hash = tb.transaction_hash
JOIN dim_blocks b ON tb.block_id = b.block_id""",
                1000,
            )
        else:
            raise ValueError(f"unknown request kind {kind!r}")
        return sql, None
