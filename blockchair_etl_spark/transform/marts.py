"""Mart layer: serving fact/dim tables.

Re-expresses `models/marts/fct_transaction_traces.sql`,
`dim_addresses.sql`, `dim_blocks.sql` as the same SQL, one
``spark.sql`` statement per model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fct_transaction_traces(int_transaction_flows: DataFrame) -> DataFrame:
    """fct_transaction_traces.sql:8-25 — flow edges renamed to
    source/destination plus a ROW_NUMBER trace_sequence per transaction
    (W2). The reference orders only by tx_time (constant within a
    transaction), so sequence assignment among ties is arbitrary but the
    set of sequence numbers per tx is deterministic: 1..n.

    ``tx_time AS tx_time`` is not a no-op. A bare pass-through keeps the
    qualifier of the flows relation, while constraints inferred from
    the flows alias do not; Spark's ``localCheckpoint`` matches the two
    by qualifier and fails on a trace frontier filtered on ``tx_time``.
    The alias makes ``tx_time`` an unqualified attribute of this model.
    ``trace_funds`` re-aliases its edge columns too, which is enough for
    a mart made by ``selectExpr`` over the flows, but not for this one:
    with a bare ``tx_time`` under the ``ROW_NUMBER`` window the trace
    still fails at the checkpoint of its union of hops."""
    return int_transaction_flows.sparkSession.sql(
        """
        SELECT input_address AS source_address,
               output_address AS destination_address,
               transaction_hash, block_id, tx_time AS tx_time,
               input_value_sats AS transferred_value_sats,
               input_value_btc AS transferred_value_btc,
               input_value_usd AS transferred_value_usd,
               fee_sats, fee_btc, fee_usd, tx_type, input_cdd_days,
               block_cdd_days, block_reward_btc,
               ROW_NUMBER() OVER (PARTITION BY transaction_hash ORDER BY tx_time)
                 AS trace_sequence
        FROM {flows}
        """,
        flows=int_transaction_flows,
    )


def dim_addresses(int_address_balances_with_history: DataFrame) -> DataFrame:
    """dim_addresses.sql:8-16 — per-address lifetime rollup
    (GROUP BY 1,2,3 ordinals → the three address/balance columns)."""
    return int_address_balances_with_history.sparkSession.sql(
        """
        SELECT address, current_balance_sats, current_balance_btc,
               SUM(value_change_sats) AS lifetime_value_change_sats,
               SUM(value_change_btc) AS lifetime_value_change_btc,
               COUNT(DISTINCT transaction_hash) AS tx_count
        FROM {balances}
        GROUP BY 1, 2, 3
        """,
        balances=int_address_balances_with_history,
    )


def dim_blocks(stg_blocks: DataFrame) -> DataFrame:
    """dim_blocks.sql:8-22 — block serving dim (13-column projection)."""
    return stg_blocks.sparkSession.sql(
        """
        SELECT block_id, block_hash, block_time, difficulty, transaction_count,
               fee_total_sats, fee_total_btc, fee_total_usd, reward_sats,
               reward_btc, reward_usd, cdd_total_days, guessed_miner
        FROM {blocks}
        """,
        blocks=stg_blocks,
    )
