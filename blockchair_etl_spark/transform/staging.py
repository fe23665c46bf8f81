"""Staging layer: rename, unit-convert, key-filter the raw tables.

Re-expresses the reference's staged dbt views
(`transaction_tracing/models/staged/stg_blocks.sql:9-52`,
`stg_transactions.sql:9-36`, `stg_inputs.sql:9-35`,
`stg_outputs.sql:9-23`, `stg_addresses.sql:9-14`) as the same SQL, one
lazy ``spark.sql`` statement per model with the macros spliced in.
Staying lazy (no materialization) matches dbt `materialized='view'` AND
lets Catalyst push dashboard predicates all the way into the raw parquet
scans — the staged layer costs nothing at plan time.

Column conventions (reference README policy): `_sats` integer satoshis,
`_btc` float BTC (sats/1e8), `_usd` float, `_bytes`/`_wu`/`_days`/
`_secs` for sizes and durations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..macros import calculate_cdd, convert_to_btc, seconds_to_days


def stg_blocks(blocks_raw: DataFrame) -> DataFrame:
    """stg_blocks.sql:9-52 — 42 columns incl. three unit systems."""
    return blocks_raw.sparkSession.sql(
        f"""
        SELECT id AS block_id, hash AS block_hash, time AS block_time,
               median_time AS median_block_time, size AS size_bytes,
               stripped_size AS stripped_size_bytes, weight AS weight_wu,
               version, version_hex, version_bits, merkle_root, nonce, bits,
               difficulty, chainwork, coinbase_data_hex, transaction_count,
               witness_count, input_count, output_count,
               input_total AS input_total_sats,
               {convert_to_btc("input_total")} AS input_total_btc, input_total_usd,
               output_total AS output_total_sats,
               {convert_to_btc("output_total")} AS output_total_btc, output_total_usd,
               fee_total AS fee_total_sats,
               {convert_to_btc("fee_total")} AS fee_total_btc, fee_total_usd,
               fee_per_kb AS fee_per_kb_sats, fee_per_kb_usd,
               fee_per_kwu AS fee_per_kwu_sats, fee_per_kwu_usd,
               cdd_total AS cdd_total_days,
               generation AS generation_sats,
               {convert_to_btc("generation")} AS generation_btc, generation_usd,
               reward AS reward_sats,
               {convert_to_btc("reward")} AS reward_btc, reward_usd,
               guessed_miner
        FROM {{raw}} WHERE id IS NOT NULL
        """,
        raw=blocks_raw,
    )


def stg_transactions(transactions_raw: DataFrame) -> DataFrame:
    """stg_transactions.sql:9-36."""
    return transactions_raw.sparkSession.sql(
        f"""
        SELECT block_id, hash AS transaction_hash, time AS tx_time,
               size AS size_bytes, weight AS weight_wu, version, lock_time,
               is_coinbase, has_witness, input_count, output_count,
               input_total AS input_total_sats,
               {convert_to_btc("input_total")} AS input_total_btc, input_total_usd,
               output_total AS output_total_sats,
               {convert_to_btc("output_total")} AS output_total_btc, output_total_usd,
               fee AS fee_sats, {convert_to_btc("fee")} AS fee_btc, fee_usd,
               fee_per_kb AS fee_per_kb_sats, fee_per_kb_usd,
               fee_per_kwu AS fee_per_kwu_sats, fee_per_kwu_usd,
               cdd_total AS cdd_total_days
        FROM {{raw}} WHERE hash IS NOT NULL
        """,
        raw=transactions_raw,
    )


def stg_inputs(inputs_raw: DataFrame) -> DataFrame:
    """stg_inputs.sql:9-35 — includes the calculated_cdd_days
    reconciliation column (calculate_cdd macro vs source cdd)."""
    return inputs_raw.sparkSession.sql(
        f"""
        SELECT block_id, transaction_hash, index, time, value AS value_sats,
               {convert_to_btc("value")} AS value_btc, value_usd, recipient, type,
               script_hex, is_from_coinbase, is_spendable, spending_block_id,
               spending_transaction_hash, spending_index, spending_time,
               spending_value_usd, spending_sequence, spending_signature_hex,
               spending_witness, lifespan AS lifespan_secs,
               {seconds_to_days("lifespan")} AS lifespan_days, cdd AS cdd_days,
               {calculate_cdd("lifespan", "value")} AS calculated_cdd_days
        FROM {{raw}} WHERE transaction_hash IS NOT NULL
        """,
        raw=inputs_raw,
    )


def stg_outputs(outputs_raw: DataFrame) -> DataFrame:
    """stg_outputs.sql:9-23."""
    return outputs_raw.sparkSession.sql(
        f"""
        SELECT block_id, transaction_hash, index, time, value AS value_sats,
               {convert_to_btc("value")} AS value_btc, value_usd, recipient, type,
               script_hex, is_from_coinbase, is_spendable
        FROM {{raw}} WHERE transaction_hash IS NOT NULL
        """,
        raw=outputs_raw,
    )


def stg_addresses(address_raw: DataFrame) -> DataFrame:
    """stg_addresses.sql:9-14."""
    return address_raw.sparkSession.sql(
        f"""
        SELECT address, balance AS balance_sats,
               {convert_to_btc("balance")} AS balance_btc
        FROM {{raw}} WHERE address IS NOT NULL
        """,
        raw=address_raw,
    )
