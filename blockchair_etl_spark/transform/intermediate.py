"""Intermediate layer: the two materialized transform tables.

Re-expresses `models/intermediate/int_transaction_flows.sql` and
`int_address_balances_with_history.sql` as the same SQL, one
``spark.sql`` statement per model whose parents are bound as frames.

Scale notes (100 TB design):

- int_transaction_flows is the engine's row-explosion hotspot: joining
  tx→inputs→outputs on the tx key yields the |inputs|×|outputs| cross
  product per transaction by design (candidate flow edges). High-fan-out
  transactions make the composite join key heavily skewed — AQE skew-join
  splitting (enabled in session.py) handles the physical side; the blocks
  dim join carries a BROADCAST hint (blocks ≈ 144 rows/day vs millions of
  tx rows).
- int_address_balances_with_history shuffles once on `address` and the
  window reuses that partitioning (Catalyst plans the left join and
  the three running sums over a single address-hash exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def int_transaction_flows(
    stg_blocks: DataFrame,
    stg_transactions: DataFrame,
    stg_inputs: DataFrame,
    stg_outputs: DataFrame,
) -> DataFrame:
    """int_transaction_flows.sql:8-46 — denormalized per-tx flow fan-out.

    Row-count invariant (oracle check): for each transaction,
    |rows| = max(|inputs|,1) × max(|outputs|,1) (left joins keep
    tx rows with no inputs/outputs as single null rows).
    """
    return stg_transactions.sparkSession.sql(
        """
        SELECT /*+ BROADCAST(b) */
               tx.transaction_hash, tx.block_id, b.block_time AS tx_time,
               i.recipient AS input_address, o.recipient AS output_address,
               i.value_sats AS input_value_sats, i.value_btc AS input_value_btc,
               o.value_sats AS output_value_sats, o.value_btc AS output_value_btc,
               i.value_usd AS input_value_usd, o.value_usd AS output_value_usd,
               tx.fee_sats, tx.fee_btc, tx.fee_usd,
               i.cdd_days AS input_cdd_days, b.cdd_total_days AS block_cdd_days,
               i.lifespan_days,
               CASE WHEN i.is_from_coinbase = 1 THEN 'coinbase' ELSE 'standard' END AS tx_type,
               b.reward_btc AS block_reward_btc
        FROM {tx} tx
        LEFT JOIN {blocks} b ON tx.block_id = b.block_id
        LEFT JOIN {inputs} i
               ON tx.transaction_hash = i.transaction_hash AND tx.block_id = i.block_id
        LEFT JOIN {outputs} o
               ON tx.transaction_hash = o.transaction_hash AND tx.block_id = o.block_id
        """,
        tx=stg_transactions,
        blocks=stg_blocks,
        inputs=stg_inputs,
        outputs=stg_outputs,
    )


def int_address_balances_with_history(
    stg_addresses: DataFrame,
    stg_inputs: DataFrame,
    stg_outputs: DataFrame,
) -> DataFrame:
    """int_address_balances_with_history.sql:8-50 — spend/receive event
    union, left-joined to the address dim (zero-activity addresses kept
    with null history), with RANGE-frame running balances in all three
    units. Default window frame (RANGE UNBOUNDED PRECEDING..CURRENT ROW):
    ties on (address, time) share the running value, matching Snowflake.
    """
    return stg_addresses.sparkSession.sql(
        """
        WITH changes AS (
          SELECT recipient AS address, time, -value_sats AS value_change_sats,
                 -value_btc AS value_change_btc, -value_usd AS value_change_usd,
                 transaction_hash
          FROM {inputs}
          UNION ALL
          SELECT recipient, time, value_sats, value_btc, value_usd, transaction_hash
          FROM {outputs}
        )
        SELECT a.address, c.time, c.transaction_hash, c.value_change_sats,
               c.value_change_btc, c.value_change_usd,
               SUM(c.value_change_sats) OVER w AS running_balance_sats,
               SUM(c.value_change_btc) OVER w AS running_balance_btc,
               SUM(c.value_change_usd) OVER w AS running_balance_usd,
               a.balance_sats AS current_balance_sats,
               a.balance_btc AS current_balance_btc
        FROM {addresses} a LEFT JOIN changes c ON a.address = c.address
        WINDOW w AS (PARTITION BY a.address ORDER BY c.time)
        """,
        addresses=stg_addresses,
        inputs=stg_inputs,
        outputs=stg_outputs,
    )
