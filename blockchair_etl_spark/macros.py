"""The engine's "macro" layer: the reference's dbt macros as SQL text.

The reference implements these as dbt Jinja macros that inline SQL text
(`transaction_tracing/macros/convert_to_btc.sql:1-3`,
`macros/calculate_cdd.sql:1-3`). Here they are Python functions that
take a SQL expression and return one, spliced into the models' SQL in
transform/. The text holds only expressions the models write themselves,
never a value from outside the program. DataFrame code and SQL text
plan through the same optimizer, so the expressions still run in
whole-stage codegen with no UDF.

The divisors are DOUBLE literals (`1e8`, `86400D`): Spark SQL reads
`100000000.0` as a DECIMAL, and a bigint divided by a decimal is a
decimal, not the double the `_btc` and `_days` columns hold.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def convert_to_btc(value_sats: str) -> str:
    """satoshis → BTC, float division (`convert_to_btc.sql:1-3` divides
    by 100000000)."""
    return f"({value_sats} / 1e8)"


def seconds_to_days(seconds: str) -> str:
    """seconds → days (`stg_inputs.sql:31` lifespan/86400.0)."""
    return f"({seconds} / 86400D)"


def calculate_cdd(lifespan_secs: str, value_sats: str) -> str:
    """Coin-days-destroyed: (lifespan/86400) × (value/1e8)
    (`macros/calculate_cdd.sql:1-3`)."""
    return f"({seconds_to_days(lifespan_secs)} * {convert_to_btc(value_sats)})"


def exact_sum(c: Column | str, scale: int = 6) -> Column:
    """Order-insensitive exact sum of a fixed-point-valued double column.

    The one macro that stays a Column: its callers (the registry
    queries in queryset.py) are DataFrame code.

    Precision 18 (not higher) keeps Spark on long-backed Decimal
    arithmetic (~2x faster than Int128-backed); the SUM result type
    still widens to (28,s), so overflow headroom is ~1e26.

    Doubles summed in different orders differ in the last ulps, which
    breaks bit-exact cross-engine comparison and makes distributed
    aggregation nondeterministic. For columns that are semantically
    fixed-point (prices, quantities, fee amounts), summing as DECIMAL is
    exact and order-insensitive; the result is cast back to double.
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")
