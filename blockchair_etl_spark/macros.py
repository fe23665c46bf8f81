"""Reusable Column-expression helpers — the engine's "macro" layer.

The reference implements these as dbt Jinja macros that inline SQL text
(`transaction_tracing/macros/convert_to_btc.sql:1-3`,
`macros/calculate_cdd.sql:1-3`). Here they are plain Python functions
returning Column expressions, so every call site stays inside Catalyst's
whole-stage codegen — no UDFs, no SQL templating.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

SATS_PER_BTC = 100_000_000.0
SECONDS_PER_DAY = 86_400.0


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def convert_to_btc(value_sats: Column | str) -> Column:
    """satoshis → BTC (float division, matching the reference macro
    `convert_to_btc.sql:1-3` which divides by 100000000)."""
    return _col(value_sats) / F.lit(SATS_PER_BTC)


def seconds_to_days(seconds: Column | str) -> Column:
    """seconds → days (`stg_inputs.sql:31` lifespan/86400.0)."""
    return _col(seconds) / F.lit(SECONDS_PER_DAY)


def calculate_cdd(lifespan_secs: Column | str, value_sats: Column | str) -> Column:
    """Coin-days-destroyed: (lifespan/86400) × (value/1e8)
    (`macros/calculate_cdd.sql:1-3`)."""
    return seconds_to_days(lifespan_secs) * convert_to_btc(value_sats)


def exact_sum(c: Column | str, scale: int = 6) -> Column:
    """Order-insensitive exact sum of a fixed-point-valued double column.

    Precision 18 (not higher) keeps Spark on long-backed Decimal
    arithmetic (~2x faster than Int128-backed); the SUM result type
    still widens to (28,s), so overflow headroom is ~1e26.

    Doubles summed in different orders differ in the last ulps, which
    breaks bit-exact cross-engine comparison and makes distributed
    aggregation nondeterministic. For columns that are semantically
    fixed-point (prices, quantities, fee amounts), summing as DECIMAL is
    exact and order-insensitive; the result is cast back to double.
    """
    return F.sum(_col(c).cast(f"decimal(18,{scale})")).cast("double")

